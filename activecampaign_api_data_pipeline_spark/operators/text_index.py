"""Persisted inverted text index — BM25 retrieval as an index artifact.

``staged_r9.text_bm25_topk`` scores a multi-term query by tokenizing the
corpus inside the query; that is the right shape for one-off analytics,
but the production retrieval shape is an INDEX TABLE: tokenize and count
once, persist the postings, and let every later search — any process,
any session — scan term postings plus a broadcast one-row stats frame.
The exact sibling of :mod:`ann_index` for the text modality (same
build/append/search separation, same frozen-normalization append
contract, same crash-safe ``params.json`` sidecar protocol).

Artifacts under ``<path>/``:

- ``postings``  — ``(tok, doc_id, tf)``: one row per distinct
  (term, doc) pair — the ONLY per-document data a search scans. Since
  r13 the table is written HASH-BUCKETED BY TERM as hive partitions
  (``tokb = pmod(xxhash64(tok), tok_buckets)`` directories — the
  path-based equivalent of ``storage.save_bucketed``, which needs a
  catalog and would break this store's any-process/any-session path
  contract): a q-term search computes the q bucket ids driver-side and
  the scan PRUNES to those partition directories (PartitionFilters),
  with the ``IN (terms)`` row filter pushed inside them — it lists and
  reads ≤ q bucket dirs, never every segment. At 100 TB raise
  ``tok_buckets`` so a bucket ≪ executor memory; appends land one file
  per TOUCHED bucket and compaction folds each bucket to one sorted
  file. Legacy (pre-r13) flat stores load with ``tok_buckets == 0``
  and keep the flat scan; ``compact_text_index`` upgrades them to the
  bucketed layout in place (pure layout — results bit-identical).
- ``doclen``    — ``(doc_id, dl)``: token count per doc, the BM25 length
  normalizer; joined only for docs that matched a term.
- ``stats``     — ONE row ``(n_docs, avgdl)``, FROZEN at build time.
  Appends extend postings/doclen but keep the base normalization, the
  same contract as the SQ8 index's frozen calibration: re-deriving
  n_docs/avgdl on every append would silently re-score the whole corpus,
  so distribution drift is an explicit rebuild at a new path. ``df`` is
  NOT frozen — it aggregates from the live postings at search time, so
  appended documents are immediately retrievable with exact tf/df.
- ``params.json`` — column names; written as a ``_building_`` marker
  first and finalized last, so a crashed build never false-matches
  (:func:`ensure_text_index` mirrors ``ensure_sq8_index``).

Scoring is the repo's exact-integer BM25 (k1 = 1.2, b = 0.75 in scaled
integers; the log-free ``(N − df + 1)·10⁶ div (df + 1)`` idf variant) —
bit-reproducible in DuckDB, which is how the driver oracle checks this
module. Public formulation: Robertson/Sparck Jones BM25 as in the
Okapi literature; no reference-pipeline analog (run_ac_extraction.py
has no retrieval at all — LLM-pipeline extension family).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from activecampaign_api_data_pipeline_spark.functions.text import tokens
from activecampaign_api_data_pipeline_spark.operators.ann_index import _write
from activecampaign_api_data_pipeline_spark.storage import (
    SIDECAR_INCOMPLETE,
    _fs,
    _heal,
    _swap,
    read_text_sidecar,
    write_text_sidecar,
)


@dataclass(frozen=True)
class TextIndexParams:
    id_col: str = "doc_id"
    text_col: str = "text"
    # term-hash bucket count for the postings layout; 0 = legacy flat
    # (pre-r13 stores, whose sidecars lack the field — load_text_params
    # backfills 0 so searches keep the flat scan until a compact upgrades)
    tok_buckets: int = 16

    def to_dict(self) -> dict:
        return dict(self.__dict__)


def _tokb(n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col("tok")), F.lit(n_buckets))


def _term_buckets(spark: SparkSession, terms: list[str], n_buckets: int) -> list[int]:
    """Bucket ids for the query terms, computed with the SAME engine hash
    as the layout (one q-row job — the bounded-scalar collect class)."""
    rows = (
        spark.createDataFrame([(t,) for t in terms], "tok string")
        .select(_tokb(n_buckets).alias("b"))
        .distinct()
        .collect()
    )
    return [r["b"] for r in rows]


def _write_postings_bucketed(
    postings: DataFrame, dst: str, n_buckets: int, mode: str = "append"
) -> None:
    """One sorted file per touched bucket directory: repartition on the
    bucket id so a task owns whole buckets, sort by term inside, write as
    ``tokb=<b>`` hive partitions."""
    (
        postings.withColumn("tokb", _tokb(n_buckets))
        .repartition(n_buckets, F.col("tokb"))
        .sortWithinPartitions("tok")
        .write.partitionBy("tokb")
        .mode(mode)
        .parquet(dst)
    )


def postings_file_count(spark: SparkSession, path: str) -> int:
    """Recursive part-file count under the postings dir (one RemoteIterator
    metadata sweep — the ``compact_artifact`` probe generalized to the
    bucketed hive layout, whose files live one level down)."""
    fs, P = _fs(spark, path)
    if not fs.exists(P(f"{path}/postings")):
        return 0
    it = fs.listFiles(P(f"{path}/postings"), True)
    n = 0
    while it.hasNext():
        if it.next().getPath().getName().startswith("part-"):
            n += 1
    return n


def _postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    ex = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    return ex.groupBy("tok", "doc_id").agg(F.count("*").alias("tf"))


def _doclen(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # NULL text must count as dl = 0, matching the build path (which
    # derives dl from written postings with coalesce(sum(tf), 0) — a NULL
    # text emits no postings): an un-coalesced size(tokens(NULL)) yields
    # -1/NULL and appended docs would disagree with built docs on
    # corpora containing null texts (r13 advice).
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(
            F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>"))
        ).cast("long").alias("dl"),
    )


def build_text_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    tok_buckets: int = 16,
) -> TextIndexParams:
    """Tokenize + count once, persist postings/doclen/stats at ``path``.
    Postings land term-hash-bucketed (``tokb`` hive partitions) so every
    later search prunes to the query terms' buckets."""
    spark = docs.sparkSession
    write_text_sidecar(
        spark, f"{path}/params.json", json.dumps({"_building_": True})
    )

    # ONE tokenize pass over the corpus: postings carry everything doclen
    # needs — every token lands in exactly one (tok, doc) row, so
    # dl == sum(tf) per doc. doclen therefore derives from the WRITTEN
    # postings plus a column-pruned id scan (docs with zero tokens keep
    # dl = 0) instead of a second tokenize+explode pass over the text,
    # and stats aggregate from the written doclen. Halves the corpus
    # passes of a build; at 100 TB the saved pass is the dominant cost.
    _write_postings_bucketed(
        _postings(docs, id_col, text_col),
        f"{path}/postings",
        tok_buckets,
        mode="overwrite",
    )
    tf = spark.read.parquet(f"{path}/postings")
    dl = _write(
        docs.select(F.col(id_col).alias("doc_id"))
        .join(tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")), "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("dl"), F.lit(0)).cast("long").alias("dl")),
        f"{path}/doclen",
    )
    _write(
        dl.agg(
            F.count("*").alias("n_docs"),
            F.expr("sum(dl) div count(*)").alias("avgdl"),
        ),
        f"{path}/stats",
    )

    params = TextIndexParams(id_col, text_col, tok_buckets)
    write_text_sidecar(spark, f"{path}/params.json", json.dumps(params.to_dict()))
    return params


def load_text_params(spark: SparkSession, path: str) -> TextIndexParams:
    raw = read_text_sidecar(spark, f"{path}/params.json")
    if raw is None:
        raise FileNotFoundError(f"no params sidecar at {path}/params.json")
    parsed = json.loads(raw)
    # legacy (pre-r13) sidecars predate the bucketed layout: their
    # postings are flat files, so the absent field means 0 (flat scan),
    # NOT the current build default
    parsed.setdefault("tok_buckets", 0)
    return TextIndexParams(**parsed)


def append_text_index(new_docs: DataFrame, path: str) -> None:
    """Index NEW documents against the FROZEN corpus normalization —
    O(new rows): their postings and lengths append; ``n_docs``/``avgdl``
    stay the build-time values (the SQ8 frozen-calibration contract —
    drift is a rebuild, never a silent re-score). The caller owns id
    uniqueness, exactly as with ``append_sq8_index``. Bucketed stores
    gain one file per TOUCHED bucket; legacy flat stores keep appending
    flat segments until a compact upgrades the layout."""
    p = load_text_params(new_docs.sparkSession, path)
    new_postings = _postings(new_docs, p.id_col, p.text_col)
    if p.tok_buckets:
        _write_postings_bucketed(new_postings, f"{path}/postings", p.tok_buckets)
    else:
        new_postings.write.mode("append").parquet(f"{path}/postings")
    _doclen(new_docs, p.id_col, p.text_col).write.mode("append").parquet(
        f"{path}/doclen"
    )


def bm25_search_index(
    spark: SparkSession,
    path: str,
    terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Top-k BM25 over a persisted index: on a bucketed store the
    postings scan first PRUNES to the query terms' ``tokb`` partition
    directories (≤ q bucket dirs listed, PartitionFilters in the plan)
    and then applies the term filter (pushed to parquet) inside them; df
    aggregates from the q matching postings lists (support-sized,
    broadcast), doclen joins only matched docs, and the global top-k is
    orderBy+limit (TakeOrderedAndProject). On the corpus the index was
    built from, results are bit-identical to ``staged_r9.text_bm25_topk``
    — parquet round-trips of BIGINTs are exact — which is how the oracle
    checks this module."""
    p = load_text_params(spark, path)
    stats = spark.read.parquet(f"{path}/stats")
    tf = spark.read.parquet(f"{path}/postings")
    if p.tok_buckets:
        buckets = _term_buckets(spark, list(terms), p.tok_buckets)
        tf = tf.filter(F.col("tokb").isin(buckets))
    tf = tf.filter(F.col("tok").isin(list(terms))).select("tok", "doc_id", "tf")
    dl = spark.read.parquet(f"{path}/doclen")
    dfre = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(dfre), "tok")
        .select(
            "doc_id",
            "tok",
            F.expr("(n_docs - df + 1) * 1000000 div (df + 1)").alias("idf_ppm"),
            F.expr(
                "(tf * 2200 * 1000) div"
                " (tf * 1000 + (1200 * (250 + (750 * dl) div avgdl)) div 1000)"
            ).alias("sat_milli"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.countDistinct("tok").alias("n_terms"),
        F.sum(F.expr("idf_ppm * sat_milli div 1000")).alias("score_ppm"),
    )
    return per_doc.orderBy(F.col("score_ppm").desc(), F.col("doc_id").asc()).limit(k)


def ensure_text_index(docs: DataFrame, path: str, **params) -> str:
    """Build at ``path`` unless a complete index already exists (sidecar
    must parse as full default-filled params; a mid-rebuild
    ``_building_`` marker never false-matches)."""
    spark = docs.sparkSession
    requested = TextIndexParams(**params).to_dict()
    try:
        existing = load_text_params(spark, path).to_dict()
        if existing == requested:
            return path
    except SIDECAR_INCOMPLETE:
        pass  # absent, mid-rebuild marker or junk -> build; IO errors raise
    build_text_index(docs, path, **params)
    return path


def compact_text_index(
    spark: SparkSession,
    path: str,
    files_per_artifact: int = 4,
    tok_buckets: int = 16,
) -> None:
    """Segment-merge maintenance for an appended index: every
    ``append_text_index`` call lands one file set per artifact (per
    touched bucket on a bucketed store), so a year of ingest is
    thousands of tiny postings segments and every search pays the
    open-file tax across ALL of them. Compaction rewrites ``postings``
    into the term-hash-BUCKETED layout — one ``tok``-sorted file per
    ``tokb`` partition directory, upgrading legacy flat stores in place
    (the sidecar is rewritten with the new ``tok_buckets`` AFTER the
    postings swap completes; a crash in between leaves a bucketed
    layout read through the still-flat sidecar, which is correct —
    ``tokb`` reads as a partition column and the flat scan just skips
    the pruning until a re-run finishes the upgrade) — and ``doclen``
    clustered by ``doc_id``. Pure layout: (term, doc) pairs are unique
    across appends (the caller owns id uniqueness), so content — and
    therefore every search result — is bit-identical before and after;
    only file count and clustering change. ``stats`` stays untouched
    (the frozen-normalization contract).

    Each artifact is staged at ``<artifact>__compacting`` and committed
    under ``storage``'s "Commit protocol" (not ``storage.compact_artifact``
    itself: that coalesces blindly, and an index wants term-clustered
    output).
    """
    params = load_text_params(spark, path)
    for artifact, key in (("postings", "tok"), ("doclen", "doc_id")):
        live = f"{path}/{artifact}"
        staging = f"{live}__compacting"
        if not _heal(spark, live, staging):
            continue
        if artifact == "postings":
            _write_postings_bucketed(
                spark.read.parquet(live).select("tok", "doc_id", "tf"),
                staging,
                tok_buckets,
                mode="overwrite",
            )
        else:
            (
                spark.read.parquet(live)
                .repartitionByRange(files_per_artifact, F.col(key))
                .sortWithinPartitions(key)
                .write.mode("overwrite")
                .parquet(staging)
            )
        _swap(spark, live, staging)
    if params.tok_buckets != tok_buckets:
        # layout upgrade (or re-bucket): record the new bucket count LAST,
        # after the postings swap — every intermediate crash state reads
        # correctly through the old sidecar
        upgraded = TextIndexParams(params.id_col, params.text_col, tok_buckets)
        write_text_sidecar(
            spark, f"{path}/params.json", json.dumps(upgraded.to_dict())
        )
