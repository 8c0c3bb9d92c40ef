"""Medallion store: idempotency / incremental-equivalence properties (SURVEY §5.3).

The invariants the reference guarantees via full-master rewrites
(run_ac_extraction.py:134-188) must hold for the incremental store:

1. re-running the same batch changes nothing (T2 idempotency);
2. two half-batches end in the same silver/gold state as one batch;
3. gold keeps exactly the newest row per key with deterministic ties.
"""

import os

import pytest

from activecampaign_api_data_pipeline_spark.storage import TableStore, max_id_watermark

SCHEMA = "cid string, email string, udate string"


def _rows(*triples):
    return list(triples)


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "lake"), n_buckets=4)


def _silver_set(store, table):
    return {
        (r["cid"], r["email"], r["udate"])
        for r in store.read("silver", table).collect()
    }


def _gold_map(store, table):
    return {r["cid"]: (r["email"], r["udate"]) for r in store.read("gold", table).collect()}


def test_persist_layers_and_lineage(spark, store):
    df = spark.createDataFrame(_rows(("1", "a@x", "2020-01-01")), SCHEMA)
    res = store.persist(df, "contacts", ["cid"], run_id="r1", extracted_at="2020-06-01 00:00:00")
    assert res.n_delta == 1 and res.n_new_silver == 1
    row = store.read("silver", "contacts").collect()[0]
    assert row["run_id"] == "r1" and row["extracted_at"] == "2020-06-01 00:00:00"
    assert row["_row_hash"]
    assert store.read_best("contacts").count() == 1
    # delta == the bronze run partition
    assert store.read_delta("contacts", "r1").count() == 1
    assert store.read_delta("contacts", "nope").count() == 0


def test_idempotent_rerun(spark, store):
    df = spark.createDataFrame(
        _rows(("1", "a@x", "2020-01-01"), ("2", "b@x", "2020-01-02")), SCHEMA
    )
    store.persist(df, "contacts", ["cid"], run_id="r1", extracted_at="2020-06-01 00:00:00")
    s1, g1 = _silver_set(store, "contacts"), _gold_map(store, "contacts")
    res2 = store.persist(df, "contacts", ["cid"], run_id="r2", extracted_at="2020-06-02 00:00:00")
    assert res2.n_new_silver == 0
    # ADVICE r3: even with zero new silver rows the replay REWRITES the
    # staged buckets' gold partitions — touched_buckets must report them
    # (cache-invalidation contract), new_silver_buckets the narrower truth
    assert res2.touched_buckets and res2.new_silver_buckets == []
    assert _silver_set(store, "contacts") == s1
    assert _gold_map(store, "contacts") == g1


def test_split_equals_single_batch(spark, tmp_path):
    all_rows = [
        ("1", "a@x", "2020-01-01"),
        ("1", "a2@x", "2020-02-01"),  # newer version of key 1
        ("2", "b@x", "2020-01-05"),
        ("3", "c@x", "2020-01-07"),
    ]
    s_one = TableStore(spark := spark, root=str(tmp_path / "one"), n_buckets=4)
    df_all = spark.createDataFrame(all_rows, SCHEMA)
    s_one.persist(df_all, "t", ["cid"], run_id="r1", updated_col="udate",
                  extracted_at="2020-06-01 00:00:00")

    s_two = TableStore(spark, str(tmp_path / "two"), n_buckets=4)
    s_two.persist(spark.createDataFrame(all_rows[:2], SCHEMA), "t", ["cid"],
                  run_id="r1", updated_col="udate", extracted_at="2020-06-01 00:00:00")
    s_two.persist(spark.createDataFrame(all_rows[2:], SCHEMA), "t", ["cid"],
                  run_id="r2", updated_col="udate", extracted_at="2020-06-02 00:00:00")

    assert _silver_set(s_one, "t") == _silver_set(s_two, "t")
    assert _gold_map(s_one, "t") == _gold_map(s_two, "t")
    assert _gold_map(s_two, "t")["1"] == ("a2@x", "2020-02-01")


def _files(root):
    """Every file under ``root`` with its size and mtime."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.relpath(os.path.join(d, n), root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_persist_empty_batch_writes_no_silver_or_gold(spark, store):
    """An empty batch has nothing to dedup and no bucket to refresh: into
    a new table it writes no silver and no gold; into an existing table it
    leaves both untouched."""
    empty = spark.createDataFrame([], SCHEMA)
    res = store.persist(empty, "fresh", ["cid"], run_id="r1")
    assert (res.n_delta, res.n_new_silver, res.touched_buckets) == (0, 0, [])
    assert not os.path.exists(f"{store.root}/silver/fresh")
    assert not os.path.exists(f"{store.root}/gold/fresh")

    df = spark.createDataFrame(
        _rows(("1", "a@x", "2020-01-01"), ("2", "b@x", "2020-01-02")), SCHEMA
    )
    store.persist(df, "contacts", ["cid"], run_id="r1", extracted_at="2020-06-01 00:00:00")
    before = {layer: _files(f"{store.root}/{layer}/contacts") for layer in ("silver", "gold")}
    silver, gold = _silver_set(store, "contacts"), _gold_map(store, "contacts")
    res = store.persist(empty, "contacts", ["cid"], run_id="r2")
    assert res.n_delta == 0 and res.n_new_silver == 0
    after = {layer: _files(f"{store.root}/{layer}/contacts") for layer in ("silver", "gold")}
    assert after == before
    assert _silver_set(store, "contacts") == silver
    assert _gold_map(store, "contacts") == gold


def _jobs(spark, group, action):
    """``action()``'s result and the ids of the Spark jobs it ran, counted
    under the job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_persist_onto_existing_table_job_budget(spark, store):
    """A persist onto an existing table takes at most 7 Spark jobs: the
    bronze and silver writes count their own rows and buckets (no count
    actions), and the silver probe and the gold refresh read under a
    fixed schema (no footer job). A persist with ``tombstone_col`` takes
    no more: its gold write reports the buckets it kept."""
    first = spark.createDataFrame(
        [(str(i), f"{i}@x", "2020-01-01") for i in range(50)], SCHEMA
    )
    store.persist(first, "t", ["cid"], run_id="r1", updated_col="udate")
    batch = spark.createDataFrame(
        [(str(i), f"{i}@y", "2020-01-02") for i in range(25, 80)], SCHEMA
    )
    res, jobs = _jobs(spark, "persist-job-budget", lambda: store.persist(
        batch, "t", ["cid"], run_id="r2", updated_col="udate"))
    assert (res.n_delta, res.n_new_silver) == (55, 55)
    assert store.read("gold", "t").count() == 80
    assert 0 < len(jobs) <= 7, jobs

    sch = SCHEMA + ", del boolean"
    store.persist(spark.createDataFrame(
        [(str(i), f"{i}@x", "2020-01-01", False) for i in range(50)], sch
    ), "d", ["cid"], run_id="r1", updated_col="udate", tombstone_col="del")
    deletes = spark.createDataFrame(
        [(str(i), f"{i}@y", "2020-01-02", i < 30) for i in range(25, 80)], sch
    )
    res, jobs = _jobs(spark, "tombstone-job-budget", lambda: store.persist(
        deletes, "d", ["cid"], run_id="r2", updated_col="udate", tombstone_col="del"))
    assert (res.n_delta, res.n_new_silver) == (55, 55)
    assert store.read("gold", "d").count() == 75
    assert 0 < len(jobs) <= 7, jobs


def test_gold_latest_per_key_with_updates_across_runs(spark, store):
    store.persist(
        spark.createDataFrame(_rows(("1", "old@x", "2020-01-01")), SCHEMA),
        "c", ["cid"], run_id="r1", updated_col="udate", extracted_at="2020-06-01 00:00:00",
    )
    store.persist(
        spark.createDataFrame(_rows(("1", "new@x", "2020-03-01")), SCHEMA),
        "c", ["cid"], run_id="r2", updated_col="udate", extracted_at="2020-06-02 00:00:00",
    )
    assert _gold_map(store, "c") == {"1": ("new@x", "2020-03-01")}
    # silver keeps FULL history (reference raw layer)
    assert len(_silver_set(store, "c")) == 2


def test_gold_tie_broken_by_extracted_then_run(spark, store):
    # same key, same udate -> later run wins deterministically
    store.persist(
        spark.createDataFrame(_rows(("1", "v1@x", "2020-01-01")), SCHEMA),
        "c", ["cid"], run_id="r1", updated_col="udate", extracted_at="2020-06-01 00:00:00",
    )
    store.persist(
        spark.createDataFrame(_rows(("1", "v2@x", "2020-01-01")), SCHEMA),
        "c", ["cid"], run_id="r2", updated_col="udate", extracted_at="2020-06-02 00:00:00",
    )
    assert _gold_map(store, "c")["1"] == ("v2@x", "2020-01-01")


def test_untouched_buckets_not_rewritten(spark, store):
    # keys spread over buckets; second run touches a subset of buckets only
    df1 = spark.createDataFrame(
        [(str(i), f"u{i}@x", "2020-01-01") for i in range(12)], SCHEMA
    )
    r1 = store.persist(df1, "c", ["cid"], run_id="r1", updated_col="udate",
                       extracted_at="2020-06-01 00:00:00")
    assert len(r1.touched_buckets) > 1
    df2 = spark.createDataFrame([("0", "updated@x", "2020-02-01")], SCHEMA)
    r2 = store.persist(df2, "c", ["cid"], run_id="r2", updated_col="udate",
                       extracted_at="2020-06-02 00:00:00")
    assert len(r2.touched_buckets) == 1  # only key "0"'s bucket recomputed
    assert r2.new_silver_buckets == r2.touched_buckets
    g = _gold_map(store, "c")
    assert g["0"] == ("updated@x", "2020-02-01")
    assert len(g) == 12  # other buckets' gold rows intact


def test_rebuild_gold_repairs_orphaned_partition(spark, store, tmp_path):
    """The repair path for the non-atomic overwrite window: delete a gold
    bucket partition out from under the store (simulating a crash mid-
    gold-commit whose retry never re-touched that bucket), then
    rebuild_gold(buckets=None) restores it from silver."""
    import shutil

    df = spark.createDataFrame(
        [(str(i), f"u{i}@x", "2020-01-01") for i in range(12)], SCHEMA
    )
    store.persist(df, "c", ["cid"], run_id="r1", updated_col="udate",
                  extracted_at="2020-06-01 00:00:00")
    before = _gold_map(store, "c")
    gold_root = f"{store.root}/gold/c"
    victim = next(p for p in __import__("os").listdir(gold_root) if p.startswith("_kb="))
    shutil.rmtree(f"{gold_root}/{victim}")
    assert len(_gold_map(store, "c")) < 12  # damage is visible

    store.rebuild_gold("c", ["cid"], updated_col="udate")
    assert _gold_map(store, "c") == before


def test_schema_drift_new_column_survives(spark, store):
    """A later run carrying a NEW column must not lose it (reference keeps
    every API field, 'sin perder info'); old rows read it as NULL."""
    store.persist(
        spark.createDataFrame(_rows(("1", "a@x", "2020-01-01")), SCHEMA),
        "c", ["cid"], run_id="r1", updated_col="udate", extracted_at="2020-06-01 00:00:00",
    )
    widened = spark.createDataFrame(
        [("2", "b@x", "2020-01-02", "+49-151")], SCHEMA + ", phone string"
    )
    store.persist(widened, "c", ["cid"], run_id="r2", updated_col="udate",
                  extracted_at="2020-06-02 00:00:00")
    silver = store.read("silver", "c")
    assert "phone" in silver.columns
    got = {r["cid"]: r["phone"] for r in silver.collect()}
    assert got == {"1": None, "2": "+49-151"}


def test_schema_drift_gold_rebuild_mixed_files(spark, tmp_path):
    """Gold refresh reads pre-drift and post-drift files of ONE bucket
    together (n_buckets=1 forces the mix) — must not lose the new column."""
    s = TableStore(spark, str(tmp_path / "one_bucket"), n_buckets=1)
    s.persist(
        spark.createDataFrame(_rows(("1", "a@x", "2020-01-01")), SCHEMA),
        "c", ["cid"], run_id="r1", updated_col="udate", extracted_at="2020-06-01 00:00:00",
    )
    s.persist(
        spark.createDataFrame([("2", "b@x", "2020-01-02", "x1")], SCHEMA + ", phone string"),
        "c", ["cid"], run_id="r2", updated_col="udate", extracted_at="2020-06-02 00:00:00",
    )
    gold = {r["cid"]: r["phone"] for r in s.read("gold", "c").collect()}
    assert gold == {"1": None, "2": "x1"}


@pytest.mark.parametrize("crash_after", ["bronze", "silver"])
def test_exactly_once_restart(spark, store, tmp_path, crash_after):
    """T2 under FAILURE, not just replay: kill the run between layer writes,
    re-run it with the same run_id/batch, and the store must converge to the
    state a non-crashing run would have produced.

    The crash is simulated at the filesystem level: run 2 executes fully,
    then the layers it would NOT yet have written at the crash point are
    restored from a pre-run snapshot. ``crash_after='bronze'`` = died before
    the silver append; ``crash_after='silver'`` = died before the gold
    refresh (the case a naive n_new-gated refresh never repairs).
    """
    import shutil

    df1 = spark.createDataFrame(
        _rows(("1", "old@x", "2020-01-01"), ("2", "b@x", "2020-01-02")), SCHEMA
    )
    store.persist(df1, "c", ["cid"], run_id="r1", updated_col="udate",
                  extracted_at="2020-06-01 00:00:00")

    lake = store.root
    snap = str(tmp_path / "snap")
    for layer in ("silver", "gold"):
        shutil.copytree(f"{lake}/{layer}/c", f"{snap}/{layer}")

    df2 = spark.createDataFrame(_rows(("1", "new@x", "2020-03-01")), SCHEMA)
    store.persist(df2, "c", ["cid"], run_id="r2", updated_col="udate",
                  extracted_at="2020-06-02 00:00:00")
    expected_silver, expected_gold = _silver_set(store, "c"), _gold_map(store, "c")
    assert expected_gold["1"] == ("new@x", "2020-03-01")

    # roll back the layers the crashed run never reached
    rollback = {"bronze": ("silver", "gold"), "silver": ("gold",)}[crash_after]
    for layer in rollback:
        shutil.rmtree(f"{lake}/{layer}/c")
        shutil.copytree(f"{snap}/{layer}", f"{lake}/{layer}/c")
    assert _gold_map(store, "c")["1"] == ("old@x", "2020-01-01")  # stale, pre-crash

    # replay the SAME run — identical batch, run_id, extracted_at
    res = store.persist(df2, "c", ["cid"], run_id="r2", updated_col="udate",
                        extracted_at="2020-06-02 00:00:00")

    assert _silver_set(store, "c") == expected_silver  # no duplicate history
    assert _gold_map(store, "c") == expected_gold      # gold repaired
    if crash_after == "silver":
        assert res.n_new_silver == 0  # every row anti-joined away, yet gold healed
    # bronze replay overwrote its own partition, not appended to it
    assert store.read_delta("c", "r2").count() == 1
    assert store.read_delta("c", "r1").count() == 2


def test_state_checkpoint_roundtrip(store, spark):
    assert store.load_state() == {}
    store.save_state({"max_contact_id": 41, "last_run_utc": "2020-06-01T00:00:00Z"})
    assert store.load_state()["max_contact_id"] == 41
    df = spark.createDataFrame([("39",), ("42",)], "id string")
    assert max_id_watermark(df, "id") == 42


def test_state_written_indented_still_loads(store):
    """A ``state.json`` written as indented JSON, the format before the
    state committed through ``write_text_sidecar``, keeps its watermark."""
    import json

    os.makedirs(store.root, exist_ok=True)
    with open(f"{store.root}/state.json", "w") as f:
        json.dump({"last_run_id": "r9", "max_contact_id": 41}, f, indent=2, sort_keys=True)
    assert store.load_state() == {"last_run_id": "r9", "max_contact_id": 41}
    store.save_state({**store.load_state(), "max_contact_id": 42})
    assert store.load_state() == {"last_run_id": "r9", "max_contact_id": 42}


def test_read_best_falls_back_to_silver(spark, store, tmp_path):
    # a table persisted with zero new gold rows still exposes silver
    df = spark.createDataFrame(_rows(("1", "a@x", "2020-01-01")), SCHEMA)
    store.persist(df, "t2", ["cid"], run_id="r1", extracted_at="2020-06-01 00:00:00")
    assert store.read_best("t2").count() == 1
    with pytest.raises(FileNotFoundError):
        store.read_best("nope")


def _silver_files(store, table):
    import os

    out = {}
    root = f"{store.root}/silver/{table}"
    for d in os.listdir(root):
        if d.startswith("_kb="):
            out[d] = sorted(
                f for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet")
            )
    return out


def _silver_full(store, table):
    return {
        (r["cid"], r["email"], r["udate"], r["run_id"], r["extracted_at"], r["_row_hash"])
        for r in store.read("silver", table).collect()
    }


def test_compact_silver_merges_files_keeps_rows(spark, store):
    """Each persist appends one file per touched bucket; compaction must
    collapse them to one file per bucket with the row set (incl. lineage)
    unchanged, and leave gold untouched."""
    for i in range(3):
        df = spark.createDataFrame(
            [(str(k), f"v{i}@{k}", f"2020-01-0{i + 1}") for k in range(1, 7)],
            SCHEMA,
        )
        store.persist(df, "contacts", ["cid"], run_id=f"r{i}",
                      extracted_at=f"2020-06-0{i + 1} 00:00:00")
    before_rows = _silver_full(store, "contacts")
    before_gold = _gold_map(store, "contacts")
    files = _silver_files(store, "contacts")
    assert any(len(fs) > 1 for fs in files.values())  # fragmentation happened
    store.compact_silver("contacts")
    files2 = _silver_files(store, "contacts")
    assert all(len(fs) == 1 for fs in files2.values()), files2
    assert set(files2) == set(files)  # same bucket partitions
    assert _silver_full(store, "contacts") == before_rows
    assert _gold_map(store, "contacts") == before_gold


def test_rebuild_silver_recovers_from_bronze(spark, store):
    """Silver is a pure recomputation of immutable bronze: wipe a bucket
    partition (simulating a crash mid-dynamic-overwrite) and rebuild —
    the recovered silver must equal the pre-crash state, including which
    run's lineage each surviving duplicate carries (earliest wins, like
    the persist anti-join)."""
    import shutil

    df1 = spark.createDataFrame(
        [(str(k), f"a@{k}", "2020-01-01") for k in range(1, 9)], SCHEMA
    )
    store.persist(df1, "contacts", ["cid"], run_id="r1", extracted_at="2020-06-01 00:00:00")
    # r2 replays half of r1's rows (duplicates -> dropped) + new rows
    df2 = spark.createDataFrame(
        [(str(k), f"a@{k}", "2020-01-01") for k in range(1, 5)]
        + [(str(k), f"b@{k}", "2020-02-01") for k in range(1, 9)],
        SCHEMA,
    )
    store.persist(df2, "contacts", ["cid"], run_id="r2", extracted_at="2020-06-02 00:00:00")
    want = _silver_full(store, "contacts")
    # crash simulation: one bucket partition vanishes
    victim = sorted(_silver_files(store, "contacts"))[0]
    shutil.rmtree(f"{store.root}/silver/contacts/{victim}")
    assert _silver_full(store, "contacts") != want
    store.rebuild_silver("contacts", key_cols=["cid"])
    assert _silver_full(store, "contacts") == want
    store.rebuild_gold("contacts", ["cid"])
    assert _gold_map(store, "contacts") == {
        str(k): (f"b@{k}", "2020-02-01") for k in range(1, 9)
    }


def test_stats_and_auto_compact_in_stream(spark, store, tmp_path):
    """stats() reports per-layer rows/files/partitions; stream_into_store
    with compact_every folds silver maintenance into the ingest loop."""
    import os

    from activecampaign_api_data_pipeline_spark.streaming.incremental import stream_into_store

    src = tmp_path / "in"
    src.mkdir()
    stamped = [1_600_000_000]
    for i in range(3):
        spark.createDataFrame(
            [(str(k), f"v{i}@{k}", f"2020-01-0{i + 1}") for k in range(1, 7)], SCHEMA
        ).coalesce(1).write.mode("append").parquet(str(src))
        for f in sorted(os.listdir(src)):
            p = os.path.join(src, f)
            if f.endswith(".parquet") and os.stat(p).st_mtime > 1_700_000_000:
                os.utime(p, (stamped[0],) * 2)
                stamped[0] += 60
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = stream_into_store(
        stream, store, "contacts", ["cid"],
        checkpoint=str(tmp_path / "ck"), updated_col="udate", compact_every=2,
    )
    q.awaitTermination(120)
    stats = {r["layer"]: r for r in store.stats("contacts").collect()}
    assert set(stats) == {"bronze", "silver", "gold"}
    assert stats["bronze"]["n_partitions"] == 3            # one run per batch
    assert stats["silver"]["n_rows"] == 18                 # 6 rows x 3 distinct batches
    assert stats["gold"]["n_rows"] == 6                    # latest per key
    # batch 2 compacted its touched buckets: those hold ONE file despite
    # having been appended by all three batches
    files = _silver_files(store, "contacts")
    assert any(len(fs) == 1 for fs in files.values())
    assert _gold_map(store, "contacts") == {
        str(k): (f"v2@{k}", "2020-01-03") for k in range(1, 7)
    }


# ------------------------------------------------- persisted KMV sketch

def test_update_kmv_incremental_equals_whole(spark, tmp_path, monkeypatch):
    from pyspark.sql import Row
    from activecampaign_api_data_pipeline_spark import storage
    from activecampaign_api_data_pipeline_spark.operators.curation import kmv_state

    store = TableStore(spark, str(tmp_path / "lake"))
    b1 = spark.createDataFrame([Row(g="a", v=f"t{i}") for i in range(200)])
    b2 = spark.createDataFrame(
        [Row(g="a", v=f"t{i}") for i in range(100, 300)] + [Row(g="b", v="x")]
    )
    store.update_kmv("docs", b1, "v", ["g"], k=16)
    store.update_kmv("docs", b2, "v", ["g"], k=16)
    got = {r["g"]: r["kmv"] for r in spark.read.parquet(store._kmv_path("docs", "v")).collect()}
    want = {r["g"]: r["kmv"] for r in kmv_state(b1.union(b2), "v", ["g"], k=16).collect()}
    assert got == want
    est = {r["g"]: r["distinct_est"] for r in store.kmv_stats("docs", "v", k=16).collect()}
    assert est["b"] == 1.0
    assert 300 * 0.5 < est["a"] < 300 * 1.7

    # a crash at a rename of the sketch during the second fold, then the
    # replay: the prior sketch must survive, so the replay folds into it
    store = TableStore(spark, str(tmp_path / "lake_crash"))
    store.update_kmv("docs", b1, "v", ["g"], k=16)
    sketch, real = store._kmv_path("docs", "v"), storage._rename

    def rename_once(fs, src, dst):
        if sketch in (str(src), str(dst)):
            monkeypatch.setattr(storage, "_rename", real)
            raise IOError("injected crash")
        real(fs, src, dst)

    monkeypatch.setattr(storage, "_rename", rename_once)
    with pytest.raises(IOError, match="injected crash"):
        store.update_kmv("docs", b2, "v", ["g"], k=16)
    store.update_kmv("docs", b2, "v", ["g"], k=16)
    got = {r["g"]: r["kmv"] for r in spark.read.parquet(sketch).collect()}
    assert got == want


def test_update_kmv_replay_idempotent(spark, tmp_path):
    from pyspark.sql import Row

    store = TableStore(spark, str(tmp_path / "lake"))
    b = spark.createDataFrame([Row(g="g", v=f"t{i}") for i in range(100)])
    store.update_kmv("docs", b, "v", ["g"], k=16)
    once = spark.read.parquet(store._kmv_path("docs", "v")).first()["kmv"]
    store.update_kmv("docs", b, "v", ["g"], k=16)  # crash-replay of same batch
    twice = spark.read.parquet(store._kmv_path("docs", "v")).first()["kmv"]
    assert once == twice


def test_cluster_silver_sorts_buckets_rows_unchanged(spark, tmp_path):
    """cluster_silver rewrites each bucket ordered on the sort key (the
    order parquet page/row-group stats need for range skipping) without
    changing the row set."""
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import Row

    store = TableStore(spark, str(tmp_path / "lake"), n_buckets=4)
    rows = [Row(id=i, ts=f"2020-01-{(i % 28) + 1:02d}", v=i * 1.0) for i in range(400)]
    # interleaved arrival -> every appended file spans the whole ts range
    df = spark.createDataFrame(rows)
    store.persist(df, "ev", ["id"], run_id="r1")
    before = sorted(r["id"] for r in store.read("silver", "ev").collect())
    store.cluster_silver("ev", sort_cols=["ts"])
    after_df = store.read("silver", "ev")
    assert sorted(r["id"] for r in after_df.collect()) == before
    # every physical file is internally ordered by ts
    for f in glob.glob(str(tmp_path / "lake/silver/ev/*/part-*.parquet")):
        ts = pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
        assert ts == sorted(ts)


def test_zorder_key_interleaves_bits(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from activecampaign_api_data_pipeline_spark.storage import zorder_key

    df = spark.createDataFrame([Row(a=0b101, b=0b011)])
    z = df.select(zorder_key([F.col("a"), F.col("b")], bits=3).alias("z")).first()["z"]
    # a-bit i -> position 2i, b-bit i -> position 2i+1:
    # a=101, b=011 -> z bits (pos5..0) = b2 a2 b1 a1 b0 a0 = 0 1 1 0 1 1
    assert z == 0b011011


def test_zorder_silver_clusters_both_columns(spark, tmp_path):
    """After a Z-order rewrite, consecutive file halves bound BOTH columns:
    split each bucket file in two — for at least most files, the two
    halves' ranges overlap less than the unclustered layout's (both
    dimensions gain locality, which a single-column sort cannot give)."""
    import glob
    import random

    import pyarrow.parquet as pq
    from pyspark.sql import Row

    store = TableStore(spark, str(tmp_path / "lake"), n_buckets=2)
    rng = random.Random(3)
    rows = [Row(id=i, x=rng.randrange(1000), y=rng.randrange(1000)) for i in range(2000)]
    store.persist(spark.createDataFrame(rows), "t", ["id"], run_id="r1")
    store.zorder_silver("t", ["x", "y"], bits=8)
    spans = []
    for f in glob.glob(str(tmp_path / "lake/silver/t/*/part-*.parquet")):
        t = pq.read_table(f, columns=["x", "y"])
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        h = len(xs) // 2
        # z-order: each half spans roughly half the z-square -> per-half
        # spans of x AND y are meaningfully below the full 0..999 range
        for vals in (xs, ys):
            a, b = vals[:h], vals[h:]
            spans.append((max(a) - min(a)) + (max(b) - min(b)))
    # unclustered halves would each span ~999 (sum ~2000 per split); the
    # z-curve's first half covers two quadrants -> visibly tighter
    assert sum(spans) / len(spans) < 1800, spans
    # row set unchanged
    assert store.read("silver", "t").count() == 2000


def test_maybe_compact_stats_driven(spark, tmp_path):
    import glob

    from pyspark.sql import Row

    store = TableStore(spark, str(tmp_path / "lake"), n_buckets=2)
    df = spark.createDataFrame([Row(id=i, v=i) for i in range(40)])
    store.persist(df, "t", ["id"], run_id="r1")
    # one run -> 1 file per bucket: healthy, no rewrite
    assert store.maybe_compact("t", max_files_per_bucket=2) is False
    for r in range(2, 7):  # five more runs of NEW rows -> 6 files/bucket
        extra = spark.createDataFrame([Row(id=100 * r + i, v=i) for i in range(10)])
        store.persist(extra, "t", ["id"], run_id=f"r{r}")
    assert store.maybe_compact("t", max_files_per_bucket=2) is True
    files = glob.glob(str(tmp_path / "lake/silver/t/*/part-*.parquet"))
    dirs = {f.rsplit("/", 1)[0] for f in files}
    assert len(files) == len(dirs)  # compacted to one file per bucket
    assert store.read("silver", "t").count() == 90
    # and immediately healthy again
    assert store.maybe_compact("t", max_files_per_bucket=2) is False


def test_maybe_compact_healthy_table_runs_no_spark_job(spark, tmp_path):
    """The fragmentation check is an FS listing: on a healthy table,
    whole or bucket-selected, it starts no Spark job."""
    from pyspark.sql import Row

    store = TableStore(spark, str(tmp_path / "lake"), n_buckets=2)
    store.persist(spark.createDataFrame([Row(id=i, v=i) for i in range(20)]), "t", ["id"], run_id="r1")
    sc = spark.sparkContext
    sc.setJobGroup("maybe-compact-healthy", "fragmentation check on a healthy table")
    try:
        assert store.maybe_compact("t", max_files_per_bucket=2) is False
        assert store.maybe_compact("t", max_files_per_bucket=2, buckets=[0, 1]) is False
        assert store.maybe_compact("missing", max_files_per_bucket=2) is False
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("maybe-compact-healthy")) == []


def test_failed_rename_raises():
    """Hadoop's FileSystem.rename can report failure by returning false;
    the store's swaps (sidecars, KMV sketch, artifact compaction) raise."""
    from activecampaign_api_data_pipeline_spark.storage import _rename

    class RefusingFS:
        def rename(self, src, dst):
            return False

    with pytest.raises(IOError, match="rename failed: a -> b"):
        _rename(RefusingFS(), "a", "b")


def test_vacuum_bronze_retention(spark, tmp_path):
    from pyspark.sql import Row

    store = TableStore(spark, str(tmp_path / "lake"), n_buckets=2)
    for r in range(1, 6):
        df = spark.createDataFrame([Row(id=100 * r + i, v=i) for i in range(5)])
        store.persist(df, "t", ["id"], run_id=f"run_{r:04d}")
    dropped = store.vacuum_bronze("t", keep_runs=2)
    assert dropped == ["run_0001", "run_0002", "run_0003"]
    # silver/gold untouched: full history still served downstream
    assert store.read("silver", "t").count() == 25
    remaining = {r["run_id"] for r in store.read("bronze", "t").select("run_id").distinct().collect()}
    assert remaining == {"run_0004", "run_0005"}
    # rebuild from the retained window still works (only those runs' rows)
    store.rebuild_silver("t", key_cols=["id"])
    assert store.read("silver", "t").count() == 10
    # idempotent once at target
    assert store.vacuum_bronze("t", keep_runs=2) == []


def test_gold_asof_time_travel(spark, tmp_path):
    """gold_asof(run N) == the gold state right after run N; asof(latest)
    == current gold bit-for-bit."""
    from pyspark.sql import Row

    store = TableStore(spark, str(tmp_path / "lake"), n_buckets=2)
    snapshots = {}
    for r in range(1, 4):
        # each run updates key 1 and adds a new key
        df = spark.createDataFrame(
            [Row(id=1, v=10 * r, ts=f"2020-01-0{r}"), Row(id=r + 1, v=r, ts=f"2020-01-0{r}")]
        )
        store.persist(df, "t", ["id"], run_id=f"run_{r:04d}", updated_col="ts",
                      extracted_at=f"2020-01-0{r} 00:00:00")
        snapshots[r] = sorted(
            (row["id"], row["v"]) for row in store.read("gold", "t").collect()
        )
    for r in range(1, 4):
        got = sorted(
            (row["id"], row["v"])
            for row in store.gold_asof("t", f"run_{r:04d}", ["id"], updated_col="ts").collect()
        )
        assert got == snapshots[r], (r, got, snapshots[r])
    # run 2 snapshot specifically: key 1 at v=20, keys 2,3 present, no key 4
    assert snapshots[2] == [(1, 20), (2, 1), (3, 2)]


def test_compact_artifact_rewrites_and_heals(spark, tmp_path):
    """Append-only artifact compaction: 10 appended file sets collapse to
    the byte-sized target with identical data; healthy dirs are left
    alone (cheap probe only); every crash window of the swap self-heals
    on the next invocation."""
    from activecampaign_api_data_pipeline_spark.storage import compact_artifact, path_exists

    path = str(tmp_path / "artifact")
    for b in range(10):
        spark.range(b * 100, (b + 1) * 100).coalesce(1).write.mode("append").parquet(path)

    def file_count():
        import os

        return len([f for f in os.listdir(path) if f.endswith(".parquet")])

    assert file_count() == 10
    before = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert compact_artifact(spark, path, max_files=4) is True
    assert file_count() <= 4
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == before
    # healthy now: probe declines to rewrite
    assert compact_artifact(spark, path, max_files=4) is False

    import shutil

    # crash window A: staging written, live dir still present -> staging discarded
    shutil.copytree(path, path + "__compacting")
    assert compact_artifact(spark, path, max_files=4) is False
    assert not path_exists(spark, path + "__compacting")
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == before
    # crash window B: between renames (live gone, staging complete) -> swap completes
    shutil.move(path, path + "__compacting")
    assert compact_artifact(spark, path, max_files=4) is False  # healed, then healthy
    assert path_exists(spark, path) and not path_exists(spark, path + "__compacting")
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == before
    # crash window C: post-swap __old leftover -> deleted
    shutil.copytree(path, path + "__old")
    assert compact_artifact(spark, path, max_files=4) is False
    assert not path_exists(spark, path + "__old")
    # absent artifact: no-op
    assert compact_artifact(spark, str(tmp_path / "missing"), max_files=4) is False


def test_gold_asof_checkpoint_bit_equal_and_survives_vacuum(spark, tmp_path):
    """Checkpointed time-travel: asof(run) is bit-equal with and without a
    checkpoint; the replay reads only the bronze delta past the
    checkpoint (plan-pinned); snapshots stay reachable after vacuum has
    deleted the runs the checkpoint covers. Re-appearing content hashes
    keep their FIRST occurrence's lineage (the gold-only-checkpoint trap)."""
    from pyspark.sql import Row

    store = TableStore(spark, str(tmp_path / "lake"), n_buckets=2)
    # run 1: key 1 content A; run 2: key 1 content B (supersedes); run 3:
    # key 1 content A AGAIN (same row_hash as run 1 -> dropped as dup, so
    # B must still win); run 4: unrelated key
    batches = {
        1: [Row(id=1, v="A", ts="2020-01-01"), Row(id=2, v="x", ts="2020-01-01")],
        2: [Row(id=1, v="B", ts="2020-01-02")],
        3: [Row(id=1, v="A", ts="2020-01-01")],  # exact re-appearance of run 1's row
        4: [Row(id=3, v="y", ts="2020-01-04")],
    }
    for r, rows in batches.items():
        store.persist(spark.createDataFrame(rows), "t", ["id"], run_id=f"run_{r:04d}",
                      updated_col="ts", extracted_at=f"2020-01-0{r} 00:00:00")

    def snap(run):
        return sorted(
            (row["id"], row["v"])
            for row in store.gold_asof("t", run, ["id"], updated_col="ts").collect()
        )

    plain = {r: snap(f"run_{r:04d}") for r in range(1, 5)}
    assert plain[3] == [(1, "B"), (2, "x")]  # re-appeared A did NOT steal the win
    store.checkpoint_asof("t", "run_0002", ["id"])
    ckpt = {r: snap(f"run_{r:04d}") for r in range(1, 5)}
    assert ckpt == plain
    # replay past the checkpoint reads only the delta bronze partitions
    df = store.gold_asof("t", "run_0004", ["id"], updated_col="ts")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "asof_run=run_0002" in plan
    assert "run_id=run_0001" not in plan and "run_id=run_0002" not in plan
    # vacuum away the runs the checkpoint covers: snapshots >= ckpt live on
    store.vacuum_bronze("t", keep_runs=2)  # drops run_0001, run_0002
    assert snap("run_0002") == plain[2]
    assert snap("run_0003") == plain[3]
    assert snap("run_0004") == plain[4]


def test_gold_diff_statuses(spark, tmp_path):
    """added / removed / changed across two snapshots, both directions:
    forward diff shows added+changed; the reverse diff re-labels the
    same churn as removed+changed. Unchanged keys never appear."""
    from pyspark.sql import Row

    store = TableStore(spark, str(tmp_path / "lake"), n_buckets=2)
    r1 = [Row(id=1, v="a", ts="2020-01-01"), Row(id=2, v="b", ts="2020-01-01")]
    r2 = [Row(id=1, v="a2", ts="2020-01-02"), Row(id=3, v="c", ts="2020-01-02")]
    store.persist(spark.createDataFrame(r1), "t", ["id"], run_id="r1",
                  updated_col="ts", extracted_at="2020-01-01 00:00:00")
    store.persist(spark.createDataFrame(r2), "t", ["id"], run_id="r2",
                  updated_col="ts", extracted_at="2020-01-02 00:00:00")
    fwd = {
        r["id"]: (r["status"], r["v_a"], r["v_b"])
        for r in store.gold_diff("t", "r1", "r2", ["id"], carry_cols=["v"],
                                 updated_col="ts").collect()
    }
    # id=1 changed a->a2, id=3 added, id=2 untouched (absent)
    assert fwd == {1: ("changed", "a", "a2"), 3: ("added", None, "c")}
    rev = {
        r["id"]: r["status"]
        for r in store.gold_diff("t", "r2", "r1", ["id"], updated_col="ts").collect()
    }
    assert rev == {1: "changed", 3: "removed"}


def test_tombstone_deletes_and_resurrects(spark, store):
    """tombstone_col: a key whose LATEST row is a delete drops out of
    gold (silver keeps the full auditable history); a NEWER upsert
    resurrects it; an OLDER late-arriving upsert does not."""
    sch = SCHEMA + ", del boolean"

    def persist(run, rows, when):
        df = spark.createDataFrame(rows, sch)
        return store.persist(df, "t", ["cid"], run_id=run, updated_col="udate",
                             extracted_at=when, tombstone_col="del")

    persist("r1", [("1", "a@x", "2020-01-01", False),
                   ("2", "b@x", "2020-01-01", False)], "2020-06-01 00:00:00")
    assert {r["cid"] for r in store.read("gold", "t").collect()} == {"1", "2"}

    # delete key 1 (newer udate): gone from gold, history intact in silver
    persist("r2", [("1", "a@x", "2020-01-02", True)], "2020-06-02 00:00:00")
    assert {r["cid"] for r in store.read("gold", "t").collect()} == {"2"}
    assert store.read("silver", "t").filter("cid = '1'").count() == 2

    # LATE upsert older than the tombstone: key stays deleted
    persist("r3", [("1", "old@x", "2020-01-01", False)], "2020-06-03 00:00:00")
    assert {r["cid"] for r in store.read("gold", "t").collect()} == {"2"}

    # genuinely newer upsert resurrects the key with the new value
    persist("r4", [("1", "new@x", "2020-01-03", False)], "2020-06-04 00:00:00")
    gold = {r["cid"]: r["email"] for r in store.read("gold", "t").collect()}
    assert gold == {"1": "new@x", "2": "b@x"}


def test_tombstone_all_keys_reads_empty_gold(spark, store):
    """Zero-survivor rebuild (r7 advice): when EVERY key tombstones away,
    gold must still read as an empty TYPED table — not die with 'unable
    to infer schema' on a footer-less directory — and a later upsert must
    repopulate it normally."""
    sch = SCHEMA + ", del boolean"

    def persist(run, rows, when):
        df = spark.createDataFrame(rows, sch)
        return store.persist(df, "t", ["cid"], run_id=run, updated_col="udate",
                             extracted_at=when, tombstone_col="del")

    persist("r1", [("1", "a@x", "2020-01-01", False),
                   ("2", "b@x", "2020-01-01", False)], "2020-06-01 00:00:00")
    persist("r2", [("1", "a@x", "2020-01-02", True),
                   ("2", "b@x", "2020-01-02", True)], "2020-06-02 00:00:00")
    gold = store.read("gold", "t")
    assert gold.count() == 0
    assert "cid" in gold.columns and "email" in gold.columns
    # the emptied table is not a dead end: a newer upsert brings keys back
    persist("r3", [("1", "back@x", "2020-01-03", False)], "2020-06-03 00:00:00")
    assert {r["cid"]: r["email"] for r in store.read("gold", "t").collect()} == {
        "1": "back@x"
    }


# ---- table metadata: pinned schema, recorded bucket count, splits ---------


def _table_json(store, table):
    import json

    with open(f"{store.root}/_meta/{table}/_table.json") as f:
        return json.load(f)


def _rows_by_name(df):
    """``df``'s rows as tuples in column-name order, without
    ``extracted_at``."""
    df = df.drop("extracted_at")
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _by_name(store, layer, table):
    return _rows_by_name(store.read(layer, table))


def _asof_is_gold(store, run_id):
    asof = store.gold_asof("t", run_id, ["cid"], updated_col="udate")
    return _rows_by_name(asof) == _by_name(store, "gold", "t")


def _bucket_dirs(store, layer, table):
    root = f"{store.root}/{layer}/{table}"
    return sorted(int(d.split("=", 1)[1]) for d in os.listdir(root) if d.startswith("_kb="))


def _data_bytes(path):
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path)
        for n in names
        if not n.startswith((".", "_"))
    )


def _batches(spark):
    return [
        spark.createDataFrame([(str(i), f"{i}@x", "2020-01-01") for i in range(20)], SCHEMA),
        spark.createDataFrame(
            [(str(i), f"{i}@y", "2020-01-02", f"+{i}") for i in range(10, 30)],
            SCHEMA + ", phone string",
        ),
        spark.createDataFrame([(str(i), f"{i}@z", "2020-01-03") for i in range(25, 40)], SCHEMA),
    ]


def _persist(store, batches, first_run=1):
    for i, df in enumerate(batches, first_run):
        store.persist(df, "t", ["cid"], run_id=f"r{i}", updated_col="udate",
                      extracted_at=f"2020-06-0{i} 00:00:00")


def test_new_table_sized_from_its_first_batch(spark, tmp_path, monkeypatch):
    """A store without an explicit count gives a small table one bucket;
    a first batch whose bronze bytes exceed BUCKET_BYTES gets the fewest
    power-of-two buckets that keep them under it per bucket, laid out as
    a store given that count explicitly."""
    from activecampaign_api_data_pipeline_spark import storage

    small = TableStore(spark, str(tmp_path / "small"))
    _persist(small, _batches(spark)[:1])
    assert _table_json(small, "t")["n_buckets"] == 1
    assert _bucket_dirs(small, "silver", "t") == [0] == _bucket_dirs(small, "gold", "t")

    limit = _data_bytes(f"{small.root}/bronze/t/run_id=r1") // 3
    monkeypatch.setattr(storage, "BUCKET_BYTES", limit)
    sized = TableStore(spark, str(tmp_path / "sized"))
    _persist(sized, _batches(spark)[:1])
    n = _table_json(sized, "t")["n_buckets"]
    size = _data_bytes(f"{sized.root}/bronze/t/run_id=r1")
    assert n > 1 and n & (n - 1) == 0
    assert size <= n * limit < 2 * size
    assert max(_bucket_dirs(sized, "gold", "t")) < n
    monkeypatch.setattr(storage, "BUCKET_BYTES", 1 << 40)
    fixed = TableStore(spark, str(tmp_path / "fixed"), n_buckets=n)
    _persist(fixed, _batches(spark)[:1])
    for layer in ("silver", "gold"):
        assert _by_name(sized, layer, "t") == _by_name(fixed, layer, "t")


def test_split_equals_store_built_at_the_new_count(spark, tmp_path, monkeypatch):
    """A gold bucket that outgrows BUCKET_BYTES splits the table to a
    power-of-two multiple of its count. Silver and gold then equal a store
    given the new count from the start, every bucket directory is below
    the count, and no staging is left."""
    from activecampaign_api_data_pipeline_spark import storage

    batches = _batches(spark)
    split = TableStore(spark, str(tmp_path / "split"))
    _persist(split, batches[:1])
    assert _table_json(split, "t")["n_buckets"] == 1
    monkeypatch.setattr(storage, "BUCKET_BYTES", _data_bytes(f"{split.root}/gold/t") * 2 // 3)
    _persist(split, batches[1:], first_run=2)
    meta = _table_json(split, "t")
    n = meta["n_buckets"]
    assert n > 1 and n & (n - 1) == 0 and not meta["splitting"]
    for layer in ("silver", "gold"):
        assert max(_bucket_dirs(split, layer, "t")) < n
        assert not [d for d in os.listdir(f"{split.root}/{layer}") if "__" in d]

    monkeypatch.setattr(storage, "BUCKET_BYTES", 1 << 40)
    fixed = TableStore(spark, str(tmp_path / "fixed"), n_buckets=n)
    _persist(fixed, batches)
    for layer in ("silver", "gold"):
        assert _by_name(split, layer, "t") == _by_name(fixed, layer, "t")
    # time travel and the silver rebuild bucket by the new count too
    assert _asof_is_gold(split, "r3")
    split.rebuild_silver("t", key_cols=["cid"])
    assert _by_name(split, "silver", "t") == _by_name(fixed, "silver", "t")


def test_legacy_lake_without_sidecar(spark, tmp_path):
    """A lake written before ``_table.json`` existed (16 buckets, no
    sidecar) reads, time-travels, persists and rebuilds as a lake that kept
    its sidecar, and records ``n_buckets=16`` on its first write."""
    import shutil

    batches = _batches(spark)
    legacy = TableStore(spark, str(tmp_path / "legacy"), n_buckets=16)
    kept = TableStore(spark, str(tmp_path / "kept"), n_buckets=16)
    for store in (legacy, kept):
        _persist(store, batches[:2])
    shutil.rmtree(f"{legacy.root}/_meta")
    legacy = TableStore(spark, legacy.root)

    for layer in ("bronze", "silver", "gold"):
        assert _by_name(legacy, layer, "t") == _by_name(kept, layer, "t")
    assert _asof_is_gold(legacy, "r2")
    assert not os.path.exists(f"{legacy.root}/_meta")  # reads write nothing

    for store in (legacy, kept):
        _persist(store, batches[2:], first_run=3)
    meta = _table_json(legacy, "t")
    assert (meta["n_buckets"], meta["key_cols"], meta["updated_col"]) == (16, ["cid"], "udate")
    for layer in ("silver", "gold"):
        assert _by_name(legacy, layer, "t") == _by_name(kept, layer, "t")
        assert max(_bucket_dirs(legacy, layer, "t")) < 16
    assert _asof_is_gold(legacy, "r3")
    silver = _by_name(legacy, "silver", "t")
    legacy.rebuild_silver("t", key_cols=["cid"])
    assert _by_name(legacy, "silver", "t") == silver


def test_reopened_store_keeps_recorded_count(spark, tmp_path):
    """A store reopened with another ``n_buckets`` keeps each table's
    recorded count for persist, time travel and the silver rebuild."""
    batches = _batches(spark)
    root = str(tmp_path / "lake")
    _persist(TableStore(spark, root, n_buckets=2), batches[:1])
    reopened = TableStore(spark, root, n_buckets=8)
    _persist(reopened, batches[1:], first_run=2)
    reopened.rebuild_silver("t", key_cols=["cid"])
    fixed = TableStore(spark, str(tmp_path / "fixed"), n_buckets=2)
    _persist(fixed, batches)
    assert _table_json(reopened, "t")["n_buckets"] == 2
    for layer in ("silver", "gold"):
        assert max(_bucket_dirs(reopened, layer, "t")) < 2
        assert _by_name(reopened, layer, "t") == _by_name(fixed, layer, "t")
    assert _asof_is_gold(reopened, "r3")


def test_drift_columns_read_in_one_order(spark, tmp_path):
    """Two stores that gain the same columns in different batch orders
    read every layer in the same column order: the first batch's columns,
    the lineage and hash, then the added columns by name. A changed
    column type or another key set is refused before any write."""
    base = spark.createDataFrame([("1", "a@x", "2020-01-01")], SCHEMA)
    with_a = spark.createDataFrame([("2", "b@x", "2020-01-02", "A")], SCHEMA + ", a string")
    with_b = spark.createDataFrame([("3", "c@x", "2020-01-03", 7)], SCHEMA + ", b long")
    one = TableStore(spark, str(tmp_path / "one"))
    two = TableStore(spark, str(tmp_path / "two"))
    for store, order in ((one, (base, with_a, with_b)), (two, (base, with_b, with_a))):
        for i, df in enumerate(order):
            store.persist(df, "t", ["cid"], run_id=f"r{i}", updated_col="udate")
    cols = ["cid", "email", "udate", "run_id", "extracted_at", "_row_hash", "a", "b", "_kb"]
    assert one.read("silver", "t").columns == cols == two.read("silver", "t").columns
    assert one.read("gold", "t").columns == cols == two.read("gold", "t").columns
    bronze = [c for c in cols if c not in ("run_id", "_kb")] + ["run_id"]
    assert one.read("bronze", "t").columns == bronze == two.read("bronze", "t").columns

    retyped = spark.createDataFrame([("4", "d@x", "2020-01-04", "x")], SCHEMA + ", b string")
    with pytest.raises(ValueError, match="changed type"):
        one.persist(retyped, "t", ["cid"], run_id="r9", updated_col="udate")
    with pytest.raises(ValueError, match="keyed by"):
        one.persist(base, "t", ["email"], run_id="r9")
    assert not os.path.exists(f"{one.root}/bronze/t/run_id=r9")


def test_gold_asof_is_gold_by_position(spark, tmp_path):
    """``gold_asof`` of the latest run is gold row for row and column for
    column (the table's pinned column order, not bronze's), with and
    without a checkpoint. A checkpoint taken before a column was added
    reads under the pinned schema: the column reads as NULL, and no
    footer job infers the checkpoint's schema."""
    batches = _batches(spark)

    def positional(df):
        return df.columns, sorted(tuple(r) for r in df.collect())

    def asof(store):
        return positional(store.gold_asof("t", "r3", ["cid"], updated_col="udate"))

    plain = TableStore(spark, str(tmp_path / "plain"), n_buckets=2)
    _persist(plain, batches)
    assert asof(plain) == positional(plain.read("gold", "t"))

    ckpt = TableStore(spark, str(tmp_path / "ckpt"), n_buckets=2)
    _persist(ckpt, batches[:1])
    ckpt.checkpoint_asof("t", "r1", ["cid"])  # before ``phone`` exists
    _persist(ckpt, batches[1:], first_run=2)
    got, jobs = _jobs(spark, "gold-asof-checkpoint", lambda: asof(ckpt))
    assert got == positional(ckpt.read("gold", "t")) == asof(plain)
    assert 0 < len(jobs) <= 4, jobs


def test_store_reads_pinned_schema_and_buckets_by_recorded_count():
    """``storage.py`` reads no layer with a merged schema, and every
    ``_key_bucket`` call passes a table metadata's ``key_cols`` and
    ``n_buckets`` (never the store's constructor count). Each layout rule
    is stated once: one ``_kb`` dynamic-overwrite writer, one definition
    of gold's order and one of the first-seen order."""
    import ast
    import pathlib

    from activecampaign_api_data_pipeline_spark import storage

    src = pathlib.Path(storage.__file__).read_text()
    assert "mergeSchema" not in src
    tree = ast.parse(src)

    def defining(attr):
        """Names of the functions whose body calls ``.<attr>(...)``."""
        return {
            fn.name
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            for n in ast.walk(fn)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr
        }

    def overwrite_writers():
        """Functions holding a ``.write....parquet(...)`` chain that
        overwrites and partitions by ``_kb``."""
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for n in ast.walk(fn):
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) \
                        and n.func.attr == "parquet":
                    chain, node = {}, n.func.value
                    while isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                        chain[node.func.attr] = [ast.unparse(a) for a in node.args]
                        node = node.func.value
                    if chain.get("mode") == ["'overwrite'"] and chain.get("partitionBy") == [
                        "BUCKET_COL"
                    ]:
                        yield fn.name

    assert list(overwrite_writers()) == ["_write_buckets"]
    assert src.count("partitionOverwriteMode") == 2
    assert {
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and "partitionOverwriteMode" in ast.unparse(fn)
    } == {"_write_buckets", "persist"}
    assert defining("row_number") == {"_latest_rank", "_first_rank"}
    assert defining("desc_nulls_last") | defining("desc") == {"_latest_rank"}
    assert defining("asc_nulls_last") | defining("asc") == {"_first_rank"}
    calls = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and n.func.id == "_key_bucket"
    ]
    assert len(calls) >= 4
    for call in calls:
        args = [(a.value.id, a.attr) for a in call.args if isinstance(a, ast.Attribute)
                and isinstance(a.value, ast.Name)]
        assert len(args) == len(call.args) == 2 and not call.keywords, ast.dump(call)
        (keys_of, keys), (count_of, count) = args
        assert (keys, count) == ("key_cols", "n_buckets"), ast.dump(call)
        assert keys_of == count_of != "self", ast.dump(call)


# ---- commit protocol: fault injection at every commit step --------------
#
# Every artifact that is replaced whole commits through storage._heal /
# storage._swap. Each case builds the artifact, crashes the verb at one
# commit step by raising from storage._rename, calls the verb again, and
# requires the artifact to read as after a crash-free run, with no
# staging / __old copy left behind.


class _Crash(Exception):
    pass


def _crash_at(monkeypatch, live: str, point: str) -> None:
    """Raise once at ``point`` of the next commit of a path ending in
    ``live``: "staged" (new copy written, nothing renamed), "aside" (live
    renamed to ``__old``, staging not yet in) or "in" (staging renamed
    in, ``__old`` not yet dropped). A first write has no rename aside, so
    its "staged" crash is also its "aside" crash."""
    from activecampaign_api_data_pipeline_spark import storage

    real = storage._rename

    def rename(fs, src, dst):
        if str(dst).endswith(live) or (point == "staged" and str(src).endswith(live)):
            monkeypatch.setattr(storage, "_rename", real)
            if point == "in":
                real(fs, src, dst)
            raise _Crash(point)
        real(fs, src, dst)

    monkeypatch.setattr(storage, "_rename", rename)


def _sorted_rows(df):
    return sorted(map(str, df.collect()))


def _emb(spark):
    import random

    rng = random.Random(3)
    return spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )


def _kmv_batches(spark):
    b1 = spark.createDataFrame([(f"g{i % 2}", f"t{i}") for i in range(60)], "g string, v string")
    b2 = spark.createDataFrame([(f"g{i % 3}", f"t{i}") for i in range(30, 90)], "g string, v string")
    return b1, b2


def _commit_verbs():
    """verb -> (setup(spark, root), run(spark, root), read(spark, root),
    suffix of the live path whose commit the harness crashes)."""
    from activecampaign_api_data_pipeline_spark.operators import ann_index as AIX
    from activecampaign_api_data_pipeline_spark.operators import hll_store as HLL
    from activecampaign_api_data_pipeline_spark.operators import layout as LAY
    from activecampaign_api_data_pipeline_spark.operators import matview as MV
    from activecampaign_api_data_pipeline_spark.operators import matview_join as MVJ
    from activecampaign_api_data_pipeline_spark.operators import text_index as TIX
    from activecampaign_api_data_pipeline_spark.storage import (
        compact_artifact,
        read_text_sidecar,
        write_text_sidecar,
    )

    def none(spark, root):
        pass

    def artifact(spark, root):
        for i in range(6):
            spark.range(i * 5, i * 5 + 5, numPartitions=1).write.mode("append").parquet(
                f"{root}/art"
            )

    def ann(spark, root):
        AIX.build_ann_index(_emb(spark), f"{root}/ix", n_centroids=2, m=2, ksub=4, n_iters=1)
        AIX.delete_ann_index(spark, f"{root}/ix", [1, 2, 3])

    def sq8(spark, root):
        AIX.build_sq8_index(_emb(spark), f"{root}/ix")
        AIX.delete_sq8_index(spark, f"{root}/ix", [1, 2, 3])

    def ix_read(spark, root):
        return (
            [_sorted_rows(spark.read.parquet(f"{root}/ix/{a}")) for a in ("cells", "codes")
             if os.path.exists(f"{root}/ix/{a}")],
            os.path.exists(f"{root}/ix/tombstones"),
        )

    def zorder(spark, root):
        df = spark.range(64).selectExpr("id % 8 as a", "id div 8 as b", "id")
        LAY.write_zordered(df, f"{root}/zt", "a", "b", n_files=2, bits=4)
        df.limit(5).write.mode("append").parquet(f"{root}/zt")

    def matview(spark, root):
        f = spark.createDataFrame([(1, 10, 100), (1, 11, 50), (2, 12, 30)], "k long, oid long, cents long")
        MV.build_matview(f, root, ["k"], "cents", batch_key="b0")
        MV.append_matview(f.where("k = 2"), root, "b1")

    def hll(spark, root):
        df = spark.createDataFrame([("g1", i % 7) for i in range(40)], "grp string, uid long")
        HLL.build_hll_view(df, root, ["grp"], "uid", batch_key="b0")
        HLL.append_hll_view(df.filter("uid < 5"), root, "b1")

    def join(spark, root):
        MVJ.create_join_view(spark, root, join_key="ok", group_cols=["g"], measure="m", n_buckets=4)
        MVJ.append_join_side(spark.createDataFrame([(1, 10)], "ok long, g long"), root, "a", "k0")
        MVJ.append_join_side(spark.createDataFrame([(2, 20)], "ok long, g long"), root, "a", "k1")
        MVJ.append_join_side(spark.createDataFrame([(1, 5), (2, 7)], "ok long, m long"), root, "b", "k2")

    def join_read(spark, root):
        hist = spark.read.option("basePath", f"{root}/a").parquet(f"{root}/a").drop("batch")
        return _sorted_rows(MVJ.read_join_view(spark, root)), _sorted_rows(hist)

    def text(spark, root):
        docs = spark.createDataFrame(
            [(1, "spark query plan"), (2, "query the lake"), (3, "spark lake house")],
            "doc_id long, text string",
        )
        TIX.build_text_index(docs, root, tok_buckets=4)
        TIX.append_text_index(spark.createDataFrame([(4, "plan the query")], "doc_id long, text string"), root)

    def kmv_fold(i):
        return lambda spark, root: TableStore(spark, root).update_kmv(
            "docs", _kmv_batches(spark)[i], "v", ["g"], k=8
        )

    def kmv_read(spark, root):
        return _sorted_rows(spark.read.parquet(TableStore(spark, root)._kmv_path("docs", "v")))

    def sidecar(v):
        return lambda spark, root: write_text_sidecar(spark, f"{root}/side/params.json", v)

    def sidecar_read(spark, root):
        return read_text_sidecar(spark, f"{root}/side/params.json")

    def table(spark, root):
        _persist(TableStore(spark, root, n_buckets=1), _batches(spark)[:2])

    def split(spark, root):
        TableStore(spark, root)._split("t", 4)

    def state(v):
        return lambda spark, root: TableStore(spark, root).save_state({"max_contact_id": v})

    def split_read(spark, root):
        store = TableStore(spark, root)
        meta = _table_json(store, "t")
        return (
            [_sorted_rows(store.read(layer, "t")) for layer in ("silver", "gold")],
            [_bucket_dirs(store, layer, "t") for layer in ("silver", "gold")],
            (meta["n_buckets"], meta["splitting"]),
        )

    return {
        "compact_artifact": (
            artifact,
            lambda spark, root: compact_artifact(spark, f"{root}/art", max_files=2),
            lambda spark, root: _sorted_rows(spark.read.parquet(f"{root}/art")),
            "/art",
        ),
        "vacuum_ann_index": (
            ann, lambda spark, root: AIX.vacuum_ann_index(spark, f"{root}/ix"), ix_read, "/cells"
        ),
        "vacuum_sq8_index": (
            sq8, lambda spark, root: AIX.vacuum_sq8_index(spark, f"{root}/ix"), ix_read, "/codes"
        ),
        "optimize_zorder": (
            zorder,
            lambda spark, root: LAY.optimize_zorder(spark, f"{root}/zt", "a", "b", n_files=2, bits=4),
            lambda spark, root: _sorted_rows(spark.read.parquet(f"{root}/zt")),
            "/zt",
        ),
        "compact_matview": (
            matview,
            MV.compact_matview,
            lambda spark, root: (
                _sorted_rows(MV.read_matview(spark, root)), sorted(MV.applied_batches_full(spark, root))
            ),
            "/partials",
        ),
        "compact_hll_view": (
            hll, HLL.compact_hll_view, lambda spark, root: _sorted_rows(HLL.read_hll_view(spark, root)),
            "/partials",
        ),
        "compact_join_history": (
            join, lambda spark, root: MVJ.compact_join_history(spark, root, "a"), join_read, "/a"
        ),
        "compact_text_index": (
            text,
            lambda spark, root: TIX.compact_text_index(spark, root, files_per_artifact=2, tok_buckets=4),
            lambda spark, root: [_sorted_rows(spark.read.parquet(f"{root}/{a}")) for a in ("postings", "doclen")],
            "/postings",
        ),
        "update_kmv": (kmv_fold(0), kmv_fold(1), kmv_read, "docs_kmv_v"),
        "update_kmv_first": (none, kmv_fold(0), kmv_read, "docs_kmv_v"),
        "write_text_sidecar": (sidecar('{"v": 1}'), sidecar('{"v": 2}'), sidecar_read, "/params.json"),
        "write_text_sidecar_first": (none, sidecar('{"v": 2}'), sidecar_read, "/params.json"),
        "save_state": (
            state(1), state(2), lambda spark, root: TableStore(spark, root).load_state(), "/state.json"
        ),
        # a split commits three artifacts: the sidecar (its commit point),
        # then the silver and gold swaps
        "split_table_json": (table, split, split_read, "/_table.json"),
        "split_silver": (table, split, split_read, "/silver/t"),
        "split_gold": (table, split, split_read, "/gold/t"),
    }


_FIRST_WRITES = ("update_kmv_first", "write_text_sidecar_first")
_COMMIT_CASES = [
    (verb, point)
    for verb in (
        "compact_artifact", "vacuum_ann_index", "vacuum_sq8_index", "optimize_zorder",
        "compact_matview", "compact_hll_view", "compact_join_history",
        "compact_text_index", "update_kmv", "write_text_sidecar", "save_state",
        "split_table_json", "split_silver", "split_gold",
    )
    for point in ("staged", "aside", "in")
] + [(verb, point) for verb in _FIRST_WRITES for point in ("staged", "in")]


@pytest.fixture(scope="module")
def commit_templates(spark, tmp_path_factory):
    """verb -> (directory holding the built pre-state, what a crash-free
    run of the verb over a copy of it reads), built once per verb."""
    import shutil

    verbs, cache = _commit_verbs(), {}

    def get(verb):
        if verb not in cache:
            setup, run, read, _ = verbs[verb]
            template = str(tmp_path_factory.mktemp(verb))
            setup(spark, template)
            clean = str(tmp_path_factory.mktemp(f"{verb}_clean"))
            shutil.copytree(template, clean, dirs_exist_ok=True)
            run(spark, clean)
            cache[verb] = (template, read(spark, clean))
        return verbs[verb], cache[verb]

    return get


@pytest.mark.parametrize("verb,point", _COMMIT_CASES)
def test_commit_crash_heals_to_crash_free_state(
    spark, tmp_path, monkeypatch, commit_templates, verb, point
):
    import re
    import shutil

    (_, run, read, live), (template, want) = commit_templates(verb)
    root = str(tmp_path / "store")
    shutil.copytree(template, root)
    _crash_at(monkeypatch, live, point)
    with pytest.raises(_Crash):
        run(spark, root)
    run(spark, root)
    assert read(spark, root) == want
    left = [
        os.path.join(d, n)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
        if re.search(r"__(compacting|optimizing|old|tmp|splitting)", n)
    ]
    assert not left, left


def test_only_storage_rename_renames():
    """Every rename in the package is the checked one in
    ``storage._rename``: a bare ``fs.rename`` can return false unseen."""
    import ast
    import pathlib

    from activecampaign_api_data_pipeline_spark import storage

    pkg = pathlib.Path(storage.__file__).parent
    offenders = []
    for f in sorted(pkg.rglob("*.py")):
        tree = ast.parse(f.read_text())
        allowed = set()
        if f == pathlib.Path(storage.__file__):
            helper = next(
                n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "_rename"
            )
            allowed = {id(n) for n in ast.walk(helper)}
        offenders += [
            f"{f.relative_to(pkg)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "rename"
            and id(n) not in allowed
        ]
    assert not offenders, offenders


def test_lake_files_go_through_hadoop_fs():
    """The store and the sync reach lake files only through Hadoop
    FileSystem helpers: a local ``open`` or ``os`` call fails on a DFS
    URI root, and a local rename skips the commit protocol. The staged
    lanes and ``queries.py`` move local temp files and are not checked."""
    import ast
    import pathlib

    from activecampaign_api_data_pipeline_spark import storage

    pkg = pathlib.Path(storage.__file__).parent
    local = {"open", "os.replace", "os.path.exists", "os.makedirs", "shutil.move"}
    files = [pkg / "storage.py"] + [
        f for d in ("plans", "streaming", "sources", "operators") for f in sorted((pkg / d).rglob("*.py"))
    ]
    offenders = [
        f"{f.relative_to(pkg)}:{n.lineno}"
        for f in files
        for n in ast.walk(ast.parse(f.read_text()))
        if isinstance(n, ast.Call) and ast.unparse(n.func) in local
    ]
    assert not offenders, offenders


def test_sinks_share_start_and_batch_partition_write():
    """Every ``foreachBatch`` start in ``streaming/`` is the one in
    ``incremental._start``, and every ``partitionBy("batch_id")`` in
    ``streaming/`` and ``operators/curation.py`` is the one in
    ``incremental.write_batch_partition``: a copied start or replay write
    can drift from the sink frame unseen."""
    import ast
    import pathlib

    from activecampaign_api_data_pipeline_spark import storage

    pkg = pathlib.Path(storage.__file__).parent
    helpers = {"foreachBatch": "_start", "partitionBy": "write_batch_partition"}
    files = sorted((pkg / "streaming").rglob("*.py")) + [pkg / "operators" / "curation.py"]
    offenders = []
    for f in files:
        tree = ast.parse(f.read_text())
        inside = {
            id(n): fn.name
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name in helpers.values()
            for n in ast.walk(fn)
        }
        for n in ast.walk(tree):
            if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                continue
            name = n.func.attr
            if name == "foreachBatch" and f.parent.name != "streaming":
                continue
            if name == "partitionBy" and not (
                len(n.args) == 1
                and isinstance(n.args[0], ast.Constant)
                and n.args[0].value == "batch_id"
            ):
                continue
            if name in helpers and inside.get(id(n)) != helpers[name]:
                offenders.append(f"{f.relative_to(pkg)}:{n.lineno} {name}")
    assert not offenders, offenders
