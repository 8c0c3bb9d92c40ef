"""Unit tests for window/dedup/rollup/conform operators."""

import pytest
from pyspark.sql import functions as F

from activecampaign_api_data_pipeline_spark.operators.conform import conform_union, union_by_name
from activecampaign_api_data_pipeline_spark.operators.dedup import exact_dedup, incremental_dedup
from activecampaign_api_data_pipeline_spark.operators.rollup import digest_lines, set_rollup
from activecampaign_api_data_pipeline_spark.operators.snapshots import (
    head_n_per_group,
    last_n_per_group,
    latest_per_key,
    top_n_per_group,
)

EV = "k string, ts string, id string, v string"


def _ev(spark):
    rows = [
        ("a", "2020-01-01", "1", "x"),
        ("a", "2020-01-03", "2", "y"),
        ("a", "2020-01-03", "3", "z"),  # ts tie -> id breaks it
        ("a", "2020-01-02", "4", "w"),
        ("b", "2020-01-05", "5", "q"),
    ]
    return spark.createDataFrame(rows, EV)


def test_latest_per_key_tiebreak(spark):
    out = latest_per_key(_ev(spark), ["k"], [F.col("ts"), F.col("id")])
    got = {r["k"]: r["id"] for r in out.collect()}
    assert got == {"a": "3", "b": "5"}  # id "3" wins the 01-03 tie


def test_top_head_last_n(spark):
    ev = _ev(spark)
    top2 = top_n_per_group(ev, ["k"], [F.col("ts"), F.col("id")], 2)
    assert sorted(r["id"] for r in top2.filter("k='a'").collect()) == ["2", "3"]
    head2 = head_n_per_group(ev, ["k"], [F.col("ts"), F.col("id")], 2)
    assert sorted(r["id"] for r in head2.filter("k='a'").collect()) == ["1", "4"]
    last2 = last_n_per_group(ev, ["k"], [F.col("ts"), F.col("id")], 2)
    assert sorted(r["id"] for r in last2.filter("k='a'").collect()) == ["2", "3"]


def test_exact_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("x", "r2"), ("x", "r1"), ("y", "r1")], "content string, run string"
    )
    out = exact_dedup(df, content_cols=["content"], order_cols=["run"])
    got = {r["content"]: r["run"] for r in out.collect()}
    assert got == {"x": "r1", "y": "r1"}


def test_incremental_dedup_idempotent(spark):
    old = spark.createDataFrame([("a",), ("b",)], "c string")
    new = spark.createDataFrame([("b",), ("c",), ("c",)], "c string")
    out = incremental_dedup(new, old, ["c"])
    assert sorted(r["c"] for r in out.collect()) == ["c", "c"]
    # replaying an already-applied batch appends nothing
    replay = incremental_dedup(old, old, ["c"])
    assert replay.count() == 0


def test_set_rollup_sorted_distinct(spark):
    df = spark.createDataFrame(
        [("a", "t2"), ("a", "t1"), ("a", "t2"), ("b", "t9")], "k string, tag string"
    )
    out = {r["k"]: r["tags"] for r in set_rollup(df, "k", {"tags": "tag"}).collect()}
    assert out == {"a": "t1, t2", "b": "t9"}


def test_digest_lines_tail_n(spark):
    rows = [("a", f"2020-01-0{i}", str(i), f"L{i}") for i in range(1, 6)]
    df = spark.createDataFrame(rows, EV).withColumnRenamed("v", "line")
    df = df.withColumn("line", F.concat(F.lit("L"), F.col("id")))
    out = digest_lines(df, "k", "ts", "line", "id", n=3).collect()[0]
    assert out["digest"] == "L3\nL4\nL5"


def test_conform_union_typed_nulls(spark):
    schema_cols = [("event_id", "string"), ("amount", "double"), ("kind", "string")]
    s1 = spark.createDataFrame([("1", 2.5)], "id string, amt double")
    s2 = spark.createDataFrame([("9",)], "nid string")
    out = conform_union(
        [
            ("one", s1, {"event_id": F.col("id"), "amount": F.col("amt")}),
            ("two", s2, {"event_id": F.col("nid"), "kind": F.lit("k")}),
        ],
        schema_cols,
    )
    assert out.columns == ["source", "event_id", "amount", "kind"]
    rows = {r["source"]: r for r in out.collect()}
    assert rows["one"]["amount"] == 2.5 and rows["one"]["kind"] is None
    assert rows["two"]["amount"] is None and rows["two"]["kind"] == "k"


def test_union_by_name_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], "id int, a string")
    b = spark.createDataFrame([(2, "y")], "id int, b string")
    out = union_by_name([a, b])
    assert set(out.columns) == {"id", "a", "b"}
    assert out.count() == 2


def test_approx_count_distinct_accuracy(spark):
    """HLL sketch (the 100 TB path for distincts) stays within its rsd."""
    df = spark.range(0, 20000).select((F.col("id") % 7919).alias("v"))
    row = df.agg(
        F.approx_count_distinct("v", rsd=0.02).alias("approx"),
        F.countDistinct("v").alias("exact"),
    ).collect()[0]
    assert row["exact"] == 7919
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_neardup_canonical_chain_and_isolated(spark):
    from activecampaign_api_data_pipeline_spark.operators.dedup import neardup_canonical

    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    # chain 1-2-3-4 (diameter 3, needs >1 propagation round), pair 5-6, 7 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: (r["canonical_id"], r["is_kept"]) for r in
           neardup_canonical(docs, pairs).collect()}
    assert out == {
        1: (1, 1), 2: (1, 0), 3: (1, 0), 4: (1, 0),
        5: (5, 1), 6: (5, 0),
        7: (7, 1),
    }


def test_neardup_canonical_converges_under_iter_cap(spark):
    from activecampaign_api_data_pipeline_spark.operators.dedup import neardup_canonical

    # long chain exercises the convergence loop's early-exit correctness:
    # with max_iters generous, the far end still collapses to min id
    n = 12
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    out = neardup_canonical(docs, pairs)
    assert out.filter(F.col("canonical_id") == 0).count() == n
    assert out.filter(F.col("is_kept") == 1).count() == 1


def test_largestar_smallstar_matches_minlabel_on_chains(spark):
    # the star-contraction CC must agree with min-label propagation on the
    # adversarial topology it exists for: long chains + a cross bridge
    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        largestar_smallstar_components,
        neardup_canonical,
    )

    ch1 = spark.range(1, 200).select(
        F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
    )
    ch2 = spark.range(301, 350).select(
        F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
    )
    bridge = spark.createDataFrame([(150, 320)], "src long, dst long")
    merged = {
        r["node"]: r["label"]
        for r in largestar_smallstar_components(
            ch1.unionAll(ch2).unionAll(bridge)
        ).collect()
    }
    assert len(merged) == 250 and set(merged.values()) == {0}
    split = {
        r["node"]: r["label"]
        for r in largestar_smallstar_components(ch1.unionAll(ch2)).collect()
    }
    assert all(v == (0 if k < 200 else 300) for k, v in split.items())
    # cross-check the full contract against min-label on a small graph
    # (min-label needs diameter rounds, so keep it short here)
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(7)] + [(9, 10)], "doc_a long, doc_b long"
    )
    want = {
        r["doc_id"]: r["canonical_id"] for r in neardup_canonical(docs, pairs).collect()
    }
    got = {
        r["node"]: r["label"]
        for r in largestar_smallstar_components(pairs, "doc_a", "doc_b").collect()
    }
    assert all(want[k] == v for k, v in got.items())


def test_cc_store_incremental_equals_one_shot(spark, tmp_path):
    """Incremental component maintenance must equal one-shot clustering
    over the union of all batches — including the hard case where one
    batch edge fuses components that were EACH formed by earlier merges,
    a new node becomes the merged component's min, and a replayed batch
    is a no-op."""
    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        append_cc_edges,
        build_cc_store,
        largestar_smallstar_components,
        read_cc_labels,
    )

    path = str(tmp_path / "ccs")
    base = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21), (30, 31), (40, 41)], "src long, dst long"
    )
    build_cc_store(base, path)
    # batch 1: fuse {10..12} with {20,21}; extend {30,31} with new node 5
    # (5 < 30 — the NEW node must become that component's label)
    b1 = spark.createDataFrame([(12, 20), (31, 5)], "src long, dst long")
    append_cc_edges(b1, path)
    got1 = {r["node"]: r["label"] for r in read_cc_labels(spark, path).collect()}
    assert got1[20] == 10 and got1[21] == 10 and got1[12] == 10
    assert got1[30] == 5 and got1[31] == 5 and got1[5] == 5
    assert got1[40] == 40 and got1[41] == 40
    # batch 2: one edge chains the two previously-merged components
    b2 = spark.createDataFrame([(21, 30)], "src long, dst long")
    append_cc_edges(b2, path)
    # replay batch 1 — must change nothing
    append_cc_edges(b1, path)
    got = {r["node"]: r["label"] for r in read_cc_labels(spark, path).collect()}
    want = {
        r["node"]: r["label"]
        for r in largestar_smallstar_components(
            base.unionAll(b1).unionAll(b2)
        ).collect()
    }
    assert got == want
    assert got[10] == 5 and got[41] == 40


def test_largestar_smallstar_empty_edges(spark):
    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        largestar_smallstar_components,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    out = largestar_smallstar_components(empty)
    assert out.columns == ["node", "label"] and out.count() == 0


def test_incremental_minhash_store(spark, tmp_path):
    """Incremental near-dup against a persisted signature store: batch B
    vs stored batch A equals the batch operator on A∪B restricted to
    pairs touching B (signature-estimate threshold both sides); replayed
    appends are no-ops."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        _banded,
        _shingle_sets,
        incremental_minhash_pairs,
        minhash_signatures,
        minhash_store_append,
        sig_jaccard_est,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    def text(seed, mutate=0):
        toks = [words[(seed * 7 + i) % len(words)] for i in range(30)]
        for m in range(mutate):
            toks[3 * m] = "mut%d" % m
        return " ".join(toks)

    batch_a = spark.createDataFrame(
        [Row(doc_id=i, text=text(i)) for i in range(20)]
    )
    # batch B: 5 near-dups of A docs (light mutations), 5 fresh, 1 pair of
    # internal near-dups
    rows_b = [Row(doc_id=100 + i, text=text(i, mutate=2)) for i in range(5)]
    rows_b += [Row(doc_id=200 + i, text=text(50 + i)) for i in range(5)]
    rows_b.append(Row(doc_id=300, text=text(60)))
    rows_b.append(Row(doc_id=301, text=text(60, mutate=1)))
    batch_b = spark.createDataFrame(rows_b)

    path = str(tmp_path / "sigstore")
    minhash_store_append(batch_a, path)
    got = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in incremental_minhash_pairs(batch_b, path, threshold=0.3).collect()
    }
    # batch twin: signature-estimated pairs over the union, touching B
    union = batch_a.union(batch_b)
    sh = _shingle_sets(union, "doc_id", "text", 3)
    sigs = minhash_signatures(sh, 32)
    banded = _banded(sigs, 32, 8)
    cand = (
        banded.alias("l").join(banded.alias("r"), ["band", "bh"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.withColumnsRenamed({"doc_id": "doc_a", "sig": "sig_a"})
    sb = sigs.withColumnsRenamed({"doc_id": "doc_b", "sig": "sig_b"})
    want = {
        (r["doc_a"], r["doc_b"]): r["est"]
        for r in cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("est", sig_jaccard_est(F.col("sig_a"), F.col("sig_b"), 32))
        .filter(F.col("est") >= 0.3)
        .filter((F.col("doc_a") >= 100) | (F.col("doc_b") >= 100))
        .collect()
    }
    assert got == want
    assert any(a < 100 <= b for a, b in got)  # cross-store pairs found
    assert (300, 301) in got                  # within-batch pair found

    # fold B in; replay must be a no-op
    minhash_store_append(batch_b, path)
    n1 = spark.read.parquet(path + "/sigs").count()
    minhash_store_append(batch_b, path)
    assert spark.read.parquet(path + "/sigs").count() == n1 == 32


def test_minhash_store_crash_between_appends_recovers(spark, tmp_path):
    """Crash-ordering contract: bands are written BEFORE sigs, the replay
    guard anti-joins on sigs. Simulate a crash after the bands append
    (bands present, sigs absent): the replayed batch must re-index the
    docs — duplicate band rows are fine (candidate join distincts them),
    sigs must stay unique, and every doc must still generate candidates."""
    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        _banded,
        _shingle_sets,
        incremental_minhash_pairs,
        minhash_signatures,
        minhash_store_append,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma delta epsilon zeta") for i in range(3)]
    )
    path = str(tmp_path / "store")
    # simulate the partial write: bands landed, crash before sigs
    sh = _shingle_sets(docs, "doc_id", "text", 3)
    sigs = minhash_signatures(sh, 32)
    _banded(sigs, 32, 8).write.mode("append").parquet(f"{path}/bands")
    # replay the whole batch through the real append
    minhash_store_append(docs, path)
    got_sigs = spark.read.parquet(f"{path}/sigs")
    assert got_sigs.count() == 3  # unique, no double-index
    assert spark.read.parquet(f"{path}/bands").count() == 2 * 3 * 8  # dup bands tolerated
    # stored docs still produce candidates for a near-dup ingest
    batch = spark.createDataFrame([Row(doc_id=100, text="alpha beta gamma delta epsilon zeta")])
    pairs = incremental_minhash_pairs(batch, path, threshold=0.5)
    assert {r["doc_b"] for r in pairs.collect()} == {100} and pairs.count() == 3


def test_decontam_store_incremental_equals_one_shot(spark, tmp_path):
    """Per-(train,test) containment depends only on that train doc and the
    frozen store, so checking batches independently must equal one shot
    over their union; the params sidecar rejects a mid-rebuild store."""
    import pytest as _pytest
    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        decontam_store_build,
        incremental_decontaminate,
    )

    bench = "the quick brown fox jumps over the lazy dog again and again"
    test_docs = spark.createDataFrame(
        [Row(doc_id=900, text=bench), Row(doc_id=901, text="completely unrelated benchmark text here okay")]
    )
    train_rows = [
        Row(doc_id=1, text="prefix words " + bench + " suffix words"),  # contains 900
        Row(doc_id=2, text="the quick brown fox jumps over something else entirely"),  # partial
        Row(doc_id=3, text="nothing in common with any benchmark document at all"),
        Row(doc_id=4, text=bench),  # exact copy of 900
    ]
    path = str(tmp_path / "store")
    decontam_store_build(test_docs, path, ngram=3, max_df=None)

    def rows(df):
        return sorted((r["train_id"], r["test_id"], r["n_common"], r["containment"]) for r in df.collect())

    whole = rows(incremental_decontaminate(spark.createDataFrame(train_rows), path, threshold=0.5))
    split = rows(incremental_decontaminate(spark.createDataFrame(train_rows[:2]), path, threshold=0.5))
    split += rows(incremental_decontaminate(spark.createDataFrame(train_rows[2:]), path, threshold=0.5))
    assert sorted(split) == whole
    assert {t[0] for t in whole} == {1, 4}  # the two containing docs flagged
    # params guard: a mid-rebuild sidecar refuses checks
    spark.createDataFrame([('{"_building_": true}',)], "p string").coalesce(1).write.mode(
        "overwrite"
    ).text(f"{path}/params.json")
    with _pytest.raises(ValueError, match="incomplete"):
        incremental_decontaminate(spark.createDataFrame(train_rows[:1]), path)


def test_ensure_decontam_store_skips_and_rebuilds(spark, tmp_path):
    """Matching params reuse the store untouched; a param change or a
    mid-rebuild sidecar triggers a rebuild."""
    import os

    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        ensure_decontam_store,
    )

    docs = spark.createDataFrame([Row(doc_id=1, text="a b c d e f g h")])
    path = str(tmp_path / "store")
    ensure_decontam_store(docs, path, ngram=3, max_df=100)

    def postings_mtime():
        d = f"{path}/postings"
        return max(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))

    m1 = postings_mtime()
    ensure_decontam_store(docs, path, ngram=3, max_df=100)  # match -> no-op
    assert postings_mtime() == m1
    ensure_decontam_store(docs, path, ngram=2, max_df=100)  # mismatch -> rebuild
    assert postings_mtime() > m1
    m2 = postings_mtime()
    spark.createDataFrame([('{"_building_": true}',)], "p string").coalesce(1).write.mode(
        "overwrite"
    ).text(f"{path}/params.json")
    ensure_decontam_store(docs, path, ngram=2, max_df=100)  # mid-rebuild -> rebuild
    assert postings_mtime() > m2


def test_block_dedup_first_occurrence_and_reassembly(spark):
    from activecampaign_api_data_pipeline_spark.operators.dedup import block_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # blocks: "a b c", "d e f"
            (2, "a b c x y z"),        # "a b c" repeats -> dropped, keeps "x y z"
            (3, "d e f"),              # fully duplicated -> no output row
            (4, "q r"),                # short doc, one partial block
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in block_dedup(docs, block_words=3).collect()}
    assert out[1]["clean_text"] == "a b c d e f"
    assert out[1]["n_blocks"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["clean_text"] == "x y z"
    assert out[2]["n_kept"] == 1 and out[2]["n_blocks"] == 2
    assert 3 not in out  # every block seen earlier
    assert out[4]["clean_text"] == "q r"  # partial tail block survives


def test_block_dedup_keeps_each_distinct_block_once(spark):
    # the real first-occurrence invariant on real data: the number of
    # surviving blocks equals the number of DISTINCT blocks in the
    # original corpus (each distinct block kept exactly once, every
    # duplicate dropped) — the distinct count comes from _doc_blocks
    # directly, independent of the dedup window under test
    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        _doc_blocks,
        block_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = block_dedup(docs, block_words=3)
    kept_total = out.agg(F.sum("n_kept")).first()[0]
    distinct_blocks = (
        _doc_blocks(docs, "doc_id", "text", 3).select("bh").distinct().count()
    )
    assert kept_total == distinct_blocks > 0
    # and documents that kept every block round-trip bit-identically
    full = out.filter("n_kept = n_blocks").select("doc_id", "clean_text")
    orig = docs.join(full.select("doc_id"), "doc_id").select(
        "doc_id", F.trim(F.regexp_replace("text", r"\s+", " ")).alias("t")
    )
    joined = full.join(orig, "doc_id")
    assert joined.filter(F.col("clean_text") != F.col("t")).count() == 0
    assert full.count() > 0


def test_importance_weights_favors_target_like_docs(spark):
    from activecampaign_api_data_pipeline_spark.operators.curation import importance_weights

    # target vocabulary {aa bb}, raw docs: one target-like, one alien
    docs = spark.createDataFrame(
        [
            (1, "aa bb aa bb", True),
            (2, "aa bb aa", True),
            (3, "aa bb bb aa", False),   # looks like the target
            (4, "zz yy xx ww", False),   # disjoint vocabulary
        ],
        ["doc_id", "text", "is_t"],
    )
    out = {
        r["doc_id"]: r["score"]
        for r in importance_weights(docs, target_pred=F.col("is_t")).collect()
    }
    assert set(out) == {3, 4}
    assert out[3] > out[4]


def test_incremental_block_dedup_equals_batch_twin(spark, tmp_path):
    """Batch-sequential passage dedup against the persisted block store
    equals the one-shot operator on the union, when batch order follows
    doc order (first-occurrence-wins is order-defined either way)."""
    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        block_dedup,
        block_store_append,
        incremental_block_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    mx = docs.agg(F.max("doc_id")).first()[0]
    b1 = docs.filter(F.col("doc_id") <= mx // 2)
    b2 = docs.filter(F.col("doc_id") > mx // 2)
    path = str(tmp_path / "blockstore")

    got1 = incremental_block_dedup(b1, path)
    got1_rows = {r["doc_id"]: r for r in got1.collect()}
    block_store_append(b1, path)
    got2 = incremental_block_dedup(b2, path)
    got2_rows = {r["doc_id"]: r for r in got2.collect()}
    block_store_append(b2, path)

    want = {r["doc_id"]: r for r in block_dedup(docs).collect()}
    got = {**got1_rows, **got2_rows}
    assert set(got) == set(want)
    for k in want:
        assert got[k]["clean_text"] == want[k]["clean_text"], k
        assert got[k]["n_kept"] == want[k]["n_kept"], k

    # replayed append is a no-op: docs unique, block count unchanged
    nb = spark.read.parquet(f"{path}/blocks").count()
    nd = spark.read.parquet(f"{path}/docs").count()
    block_store_append(b2, path)
    assert spark.read.parquet(f"{path}/blocks").count() == nb
    assert spark.read.parquet(f"{path}/docs").count() == nd
    # store holds exactly the distinct surviving blocks of the corpus
    assert nb == sum(r["n_kept"] for r in want.values())


def test_block_store_crash_between_appends_recovers(spark, tmp_path):
    """Crash contract: blocks are written BEFORE the docs guard. Simulate
    the partial state (blocks landed, docs absent): the replayed append
    re-runs the batch — duplicate block rows are absorbed by the hit
    join's set semantics, docs stays unique, and a later batch still
    dedups correctly against the store."""
    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        _doc_blocks,
        block_store_append,
        incremental_block_dedup,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f"), Row(doc_id=2, text="g h i j k l")]
    )
    path = str(tmp_path / "store")
    # partial write: blocks landed, crash before the docs guard
    _doc_blocks(docs, "doc_id", "text", 3).select("bh", "doc_id", "bidx").write.mode(
        "append"
    ).parquet(f"{path}/blocks")
    block_store_append(docs, path)
    assert spark.read.parquet(f"{path}/docs").count() == 2
    # later batch repeating stored blocks is fully cleaned
    batch = spark.createDataFrame([Row(doc_id=9, text="a b c g h i x y z")])
    out = incremental_block_dedup(batch, path).collect()
    assert len(out) == 1 and out[0]["clean_text"] == "x y z"
    assert out[0]["n_kept"] == 1 and out[0]["n_blocks"] == 3


def test_bucketed_global_rank_matches_global_row_number(spark):
    # the bucketed two-level rank must equal the single-task global
    # row_number exactly — on a skewed distribution, with ties on the
    # value column, and via the explicit-boundaries skew path too
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from activecampaign_api_data_pipeline_spark.operators.ranking import (
        bucketed_global_rank,
    )

    rows = [(i, (i * 37) % 11 if i % 5 else 10_000) for i in range(1, 401)]
    df = spark.createDataFrame(rows, "id long, v long")
    expect = {
        r["id"]: r["rk"]
        for r in df.select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.col("v").asc(), F.col("id").asc()))
            .cast("long")
            .alias("rk"),
        ).collect()
    }
    got = {
        r["id"]: r["rk"]
        for r in bucketed_global_rank(df, "v", "id", "rk", buckets=8).collect()
    }
    assert got == expect
    got_b = {
        r["id"]: r["rk"]
        for r in bucketed_global_rank(
            df, "v", "id", "rk", boundaries=[3, 7, 9_999]
        ).collect()
    }
    assert got_b == expect


def test_minhash_store_spec_frozen_at_first_ingest(spark, tmp_path):
    """The frozen-sidecar-spec discipline (r10 advice class, closed for
    the one store that lacked it): (num_perm, bands, ngram) freeze in
    params.json at first ingest; a later append OR probe with a drifted
    spec raises instead of silently mixing incompatible signatures."""
    import pytest as _pytest
    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_store_append,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma delta epsilon zeta " * 3)
         for i in range(4)]
    )
    path = str(tmp_path / "sigstore")
    minhash_store_append(docs, path)  # freezes 32/8/3
    with _pytest.raises(ValueError, match="frozen at first ingest"):
        minhash_store_append(docs, path, num_perm=16)
    with _pytest.raises(ValueError, match="frozen at first ingest"):
        incremental_minhash_pairs(docs, path, bands=4)
    # matching spec still appends (replay no-op: same ids anti-joined)
    minhash_store_append(docs, path)


def test_minhash_store_legacy_sidecar_backfill(spark, tmp_path):
    """Legacy-store upgrade path (r11 verdict item 6): a store built
    before the sidecar existed (sigs present, no params.json) gets the
    sidecar BACKFILLED from the first post-upgrade caller's spec —
    append or probe, first-caller-wins — so a later mismatched-banding
    probe raises instead of silently finding no candidates. A crashed
    legacy dir-shaped sidecar (empty text dir) reads as absent and is
    replaced by the atomic single-file write."""
    import os

    import pytest as _pytest
    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_store_append,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma delta epsilon zeta " * 3)
         for i in range(4)]
    )

    # legacy store: build normally, then strip the sidecar (the new
    # layout is a single FILE; a real legacy store had a text dir)
    import shutil

    def _strip(pth):
        if os.path.isdir(pth):
            shutil.rmtree(pth)
        else:
            os.remove(pth)

    path = str(tmp_path / "legacy_append")
    minhash_store_append(docs, path)
    _strip(f"{path}/params.json")
    assert not os.path.exists(f"{path}/params.json")
    # a first post-upgrade APPEND whose spec contradicts the stored
    # artifacts must refuse (r12 advice: the crash-residue case), while
    # an artifact-compatible caller backfills first-caller-wins
    more = spark.createDataFrame([Row(doc_id=10, text="eta theta iota " * 5)])
    with _pytest.raises(ValueError, match="refusing to backfill"):
        minhash_store_append(more, path, num_perm=16, bands=4)
    minhash_store_append(more, path)  # default 32/8 matches the artifacts
    assert os.path.isfile(f"{path}/params.json")  # single file, not a dir
    with _pytest.raises(ValueError, match="frozen at first ingest"):
        incremental_minhash_pairs(docs, path, num_perm=16, bands=4)

    # first post-upgrade PROBE backfills too
    path2 = str(tmp_path / "legacy_probe")
    minhash_store_append(docs, path2)
    _strip(f"{path2}/params.json")
    incremental_minhash_pairs(docs, path2).collect()
    assert os.path.isfile(f"{path2}/params.json")
    with _pytest.raises(ValueError, match="frozen at first ingest"):
        minhash_store_append(docs, path2, num_perm=16)

    # crashed legacy dir-write: empty params.json DIRECTORY wedges
    # nothing — treated as absent, replaced atomically on next append
    path3 = str(tmp_path / "legacy_crashed")
    minhash_store_append(docs, path3)
    _strip(f"{path3}/params.json")
    os.makedirs(f"{path3}/params.json")
    minhash_store_append(docs, path3)  # no wedge, replay no-op
    assert os.path.isfile(f"{path3}/params.json")
    assert spark.read.parquet(f"{path3}/sigs").count() == 4


def test_minhash_sidecar_backfill_gated_on_artifact_evidence(spark, tmp_path):
    """r12 advice: a sidecar-less store with existing sigs (legacy layout
    OR a crash between the first sigs append and the sidecar write) must
    not let a mismatched caller freeze ITS spec over incompatible stored
    signatures. The backfill is gated on the artifacts: signature array
    length pins num_perm, stored band indexes bound the band count."""
    import pytest as _pytest
    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        _banded,
        _shingle_sets,
        incremental_minhash_pairs,
        minhash_signatures,
        minhash_store_append,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma delta epsilon zeta eta") for i in range(3)]
    )
    path = str(tmp_path / "legacy")
    # simulate the crash residue: sigs + bands landed (num_perm=32,
    # bands=8) but the sidecar write never happened
    sh = _shingle_sets(docs, "doc_id", "text", 3)
    sigs = minhash_signatures(sh, 32)
    _banded(sigs, 32, 8).write.mode("append").parquet(f"{path}/bands")
    sigs.write.mode("append").parquet(f"{path}/sigs")

    # a different num_perm must refuse to backfill — append AND probe
    with _pytest.raises(ValueError, match="refusing to backfill"):
        minhash_store_append(docs, path, num_perm=16, bands=8)
    batch = spark.createDataFrame([Row(doc_id=100, text="alpha beta gamma delta epsilon zeta eta")])
    with _pytest.raises(ValueError, match="refusing to backfill"):
        incremental_minhash_pairs(batch, path, num_perm=16, bands=8)
    # same num_perm but fewer bands than the stored band indexes: refuse
    with _pytest.raises(ValueError, match="refusing to backfill"):
        minhash_store_append(docs, path, num_perm=32, bands=4)
    assert not (tmp_path / "legacy" / "params.json").exists()

    # the matching spec backfills first-caller-wins and works end-to-end
    pairs = incremental_minhash_pairs(batch, path, num_perm=32, bands=8, threshold=0.5)
    assert pairs.count() == 3
    assert (tmp_path / "legacy" / "params.json").exists()
    # and the frozen sidecar now rejects mismatches the normal way
    with _pytest.raises(ValueError, match="frozen at first ingest"):
        minhash_store_append(docs, path, num_perm=16, bands=8)


def test_largestar_smallstar_parallel_edges_same_labels(spark):
    """Multigraph label-invariance: a multigraph input (parallel edges,
    both orientations, self-loops) must label identically to its
    deduplicated simple graph. This is what keeps the large-star
    ``distinct()`` semantically redundant (the MIN aggregate and the
    alternation's final distinct absorb duplicates). The distinct stays
    because removing it measured slower (the NOTE in
    ``operators/dedup.py``); this test guards any future removal."""
    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        largestar_smallstar_components,
    )

    edges = [
        (1, 2), (2, 1), (2, 3), (2, 3), (3, 4), (4, 3), (4, 4),
        (10, 11), (11, 12), (12, 10), (10, 11),
        (20, 21),
    ]
    multi = spark.createDataFrame(edges, "src long, dst long")
    simple = (
        multi.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
    )
    got_multi = sorted(
        map(tuple, largestar_smallstar_components(multi).collect())
    )
    got_simple = sorted(
        map(tuple, largestar_smallstar_components(simple).collect())
    )
    assert got_multi == got_simple
    assert got_multi == [
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    ]


def test_doclen_null_text_counts_zero_like_build(spark, tmp_path):
    """r14 (r13 advice): append-path doclen must count a NULL text as 0
    tokens, exactly as the build path derives it (coalesce(sum(tf), 0)
    over written postings) — otherwise appended null-text docs diverge
    from built ones on avgdl-sensitive scoring."""
    from activecampaign_api_data_pipeline_spark.operators.text_index import (
        _doclen,
        append_text_index,
        build_text_index,
    )

    schema = "doc_id long, text string"
    dl = {
        r["doc_id"]: r["dl"]
        for r in _doclen(
            spark.createDataFrame(
                [(1, "alpha beta"), (2, None), (3, ""), (4, "   ")], schema
            ),
            "doc_id",
            "text",
        ).collect()
    }
    assert dl == {1: 2, 2: 0, 3: 0, 4: 0}

    # end-to-end parity: a store built over docs INCLUDING a null text
    # equals build(half) + append(half with the null) on the doclen rows
    docs = [(1, "alpha beta gamma"), (2, None), (3, "alpha"), (4, None)]
    built = str(tmp_path / "built")
    build_text_index(spark.createDataFrame(docs, schema), built)
    half = str(tmp_path / "half")
    build_text_index(spark.createDataFrame(docs[:2], schema), half)
    append_text_index(spark.createDataFrame(docs[2:], schema), half)
    a = sorted(map(tuple, spark.read.parquet(f"{built}/doclen").collect()))
    b = sorted(map(tuple, spark.read.parquet(f"{half}/doclen").collect()))
    assert a == b


def test_scoped_advisory_partition_restores_conf(spark):
    """The batch-scoped advisory helper must restore the session value on
    exit, including on error — and must not change query results."""
    import pytest as _pytest

    from activecampaign_api_data_pipeline_spark.session import (
        scoped_advisory_partition,
    )

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    df = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    base = sorted(map(tuple, df.collect()))
    with scoped_advisory_partition(spark, "1m"):
        assert spark.conf.get(key) == "1m"
        assert sorted(map(tuple, df.localCheckpoint(eager=True).collect())) == base
    assert spark.conf.get(key) == old
    with _pytest.raises(RuntimeError, match="boom"):
        with scoped_advisory_partition(spark, "2m"):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == old


def _ensure_case(spark, kind):
    """(operator module, ensure(path) call) for one persisted artifact."""
    import random

    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.operators import ann_index, dedup, text_index

    if kind == "ann":
        rng = random.Random(3)
        emb = spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)],
            "vec_id long, embedding array<double>",
        )
        params = dict(n_centroids=4, m=4, ksub=8, n_iters=2)
        return ann_index, lambda p: ann_index.ensure_ann_index(emb, p, **params)
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f g h"), Row(doc_id=2, text="b c d x y")]
    )
    if kind == "text":
        return text_index, lambda p: text_index.ensure_text_index(docs, p)
    return dedup, lambda p: dedup.ensure_decontam_store(docs, p, ngram=3, max_df=100)


@pytest.mark.parametrize("kind", ["ann", "text", "decontam"])
def test_ensure_propagates_sidecar_io_error(spark, tmp_path, monkeypatch, kind):
    """An IO error reading the params sidecar of a built artifact is not
    "absent": ``ensure_*`` raises it and leaves every file in place
    instead of rebuilding over the artifact."""
    import os

    module, ensure = _ensure_case(spark, kind)
    path = str(tmp_path / "artifact")
    ensure(path)

    def files():
        return {
            os.path.relpath(os.path.join(d, f), path): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, names in os.walk(path)
            for f in names
        }

    before = files()

    def unreadable(spark, p):
        raise PermissionError(p)

    monkeypatch.setattr(module, "read_text_sidecar", unreadable)
    with pytest.raises(PermissionError):
        ensure(path)
    assert files() == before
