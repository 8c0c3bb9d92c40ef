"""Persisted ANN index — separate the build (rare, heavy) from search
(frequent, light).

:func:`similarity.ivfpq_topk` trains the coarse quantizer and PQ codebooks
inside every search query; the session-level build cache amortizes that
within one process, but the real 100 TB shape is an INDEX TABLE: train and
encode once, write the artifacts as parquet, and let every later search —
any process, any session — scan codes plus broadcast-sized codebooks. This
mirrors ``storage.save_bucketed``'s role for joins: a one-time physical
layout investment that every subsequent query exploits.

Artifacts under ``<path>/``:

- ``coarse``    — IVF coarse centroids ``(cent_id, cv double[])``; a few
  KB, broadcast at search time.
- ``cells``     — corpus cell assignment ``(vec_id, cell)``; two ints per
  vector, the semi-join gate's build side.
- ``codebooks`` — PQ per-subspace centroids ``(sub, cent_id, cv)``; KBs.
- ``codes``     — the compressed corpus ``(vec_id, sub, code[, cell])``;
  m small ints per vector (~3 % of raw bytes) — the ONLY per-vector data
  a search scans. Residual indexes carry ``cell`` so ADC joins pick the
  query's distance table for the candidate's own cell.
- ``params.json`` — build parameters; search refuses a mismatched read.

Every artifact is written, then READ BACK for downstream build stages —
the parquet round-trip (exact for doubles/ints) is the materialization
barrier, so the Lloyd lineage runs once without any persist bookkeeping,
and what search reads is bit-identical to what the build used. Search
results therefore match :func:`similarity.ivfpq_topk` at the same
parameters exactly (same seeds, same tie-breaks, same sub-ordered ADC
fold), which is how the driver oracle checks this module.

Reference parity note: the reference pipeline (run_ac_extraction.py) has
no ANN at all — this is part of the LLM-pipeline extension family
(SURVEY.md north-star ops), composed FAISS-style (Jegou et al., IVFADC).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from activecampaign_api_data_pipeline_spark.storage import (
    SIDECAR_INCOMPLETE,
    _fs,
    _heal,
    _swap,
    read_text_sidecar,
    write_text_sidecar,
)

from activecampaign_api_data_pipeline_spark.operators.similarity import (
    _adc_topk,
    _l2,
    cosine,
    kmeans_centroids,
    pq_codebooks,
    pq_encode,
)


@dataclass(frozen=True)
class AnnIndexParams:
    n_centroids: int = 8
    m: int = 4
    ksub: int = 8
    n_iters: int = 2
    dim: int = 0  # filled by build
    residual: bool = False
    id_col: str = "vec_id"
    vec_col: str = "embedding"

    def to_dict(self) -> dict:
        return dict(self.__dict__)


def _write(df: DataFrame, path: str) -> DataFrame:
    """Write an artifact and read it back — the round-trip IS the
    materialization barrier between build stages."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _clear_tombstones(spark: SparkSession, path: str) -> None:
    """Drop any leftover deletion ledger at build start: a rebuild at the
    same path (what :func:`ensure_ann_index` does on a params mismatch)
    encodes the CURRENT corpus, so a stale ledger from un-vacuumed deletes
    against the OLD index would silently hide live, never-deleted vectors
    from the new one."""
    fs, P = _fs(spark, path)
    if fs.exists(P(f"{path}/tombstones")):
        fs.delete(P(f"{path}/tombstones"), True)


def build_ann_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = 4,
    ksub: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> AnnIndexParams:
    """Train + encode an IVF-PQ index over ``emb`` and persist it at
    ``path``. Deterministic (same contracts as the in-session operators:
    first-k seeds, 6-dp-rounded means, lower-id tie-breaks)."""
    spark = emb.sparkSession
    dim = len(emb.select(vec_col).first()[0])

    # Invalidate any existing sidecar FIRST: the sidecar is the completeness
    # marker (written last), so a crash mid-rebuild must not leave an old
    # params.json beside partially rewritten artifacts — ensure_ann_index
    # would accept that mix as a complete index.
    # ``_building_`` is not an AnnIndexParams field, so load_ann_params
    # raises on it and ensure_ann_index treats the index as incomplete.
    write_text_sidecar(
        spark, f"{path}/params.json", json.dumps({"_building_": True})
    )
    _clear_tombstones(spark, path)

    # 1. coarse quantizer (cosine k-means)
    coarse = _write(
        kmeans_centroids(emb, n_centroids, n_iters, id_col, vec_col),
        f"{path}/coarse",
    )

    # 2. corpus cell assignment from the WRITTEN centroids
    scored = (
        emb.select(F.col(id_col), F.col(vec_col))
        .join(F.broadcast(coarse))
        .withColumn("cc", cosine(F.col(vec_col), F.col("cv")))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cc").desc(), F.col("cent_id").asc())
    cells = _write(
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col("cent_id").alias("cell")),
        f"{path}/cells",
    )

    # 3. PQ codebooks (+ 4. codes) — on raw vectors, or residuals v − c(cell)
    if residual:
        ccv = F.broadcast(coarse.select(F.col("cent_id").alias("cell"), "cv"))
        rbase = (
            emb.select(id_col, vec_col)
            .join(cells, id_col)
            .join(ccv, "cell")
            .select(
                id_col,
                F.zip_with(
                    F.col(vec_col), F.col("cv"), lambda x, y: x.cast("double") - y
                ).alias("rvec"),
            )
        )
        cents = _write(
            pq_codebooks(rbase, m, ksub, n_iters, id_col, "rvec", dim=dim),
            f"{path}/codebooks",
        )
        _write(
            pq_encode(rbase, cents, m, id_col, "rvec", dim=dim).join(cells, id_col),
            f"{path}/codes",
        )
    else:
        cents = _write(
            pq_codebooks(emb, m, ksub, n_iters, id_col, vec_col, dim=dim),
            f"{path}/codebooks",
        )
        _write(
            pq_encode(emb, cents, m, id_col, vec_col, dim=dim),
            f"{path}/codes",
        )

    params = AnnIndexParams(n_centroids, m, ksub, n_iters, dim, residual, id_col, vec_col)
    # params sidecar: one-line JSON, direct-FS single file (works on any
    # DFS; reads also accept the legacy Spark-text directory layout)
    write_text_sidecar(spark, f"{path}/params.json", json.dumps(params.to_dict()))
    return params


def load_ann_params(spark: SparkSession, path: str) -> AnnIndexParams:
    raw = read_text_sidecar(spark, f"{path}/params.json")
    if raw is None:
        raise FileNotFoundError(f"no params sidecar at {path}/params.json")
    return AnnIndexParams(**json.loads(raw))


def append_ann_index(new_emb: DataFrame, path: str) -> None:
    """Encode NEW vectors into an existing index with FROZEN artifacts —
    the incremental-ingest shape (FAISS ``add`` after ``train``): coarse
    centroids and PQ codebooks are immutable; only ``cells`` and ``codes``
    grow, as appended parquet files.

    At 100 TB this is what makes the index operable: daily ingest costs
    O(new rows) — one broadcast-join assignment plus one broadcast-join
    encode, no shuffle of the existing corpus, no retraining — and every
    reader sees the union because search scans the artifact directories.
    Quality degrades only as the data distribution drifts from the trained
    codebooks (the standard IVF-PQ trade-off); retraining is a rebuild at
    a new path.
    """
    spark = new_emb.sparkSession
    p = load_ann_params(spark, path)
    coarse = spark.read.parquet(f"{path}/coarse")
    cents = spark.read.parquet(f"{path}/codebooks")

    scored = (
        new_emb.select(F.col(p.id_col), F.col(p.vec_col))
        .join(F.broadcast(coarse))
        .withColumn("cc", cosine(F.col(p.vec_col), F.col("cv")))
    )
    w = Window.partitionBy(p.id_col).orderBy(F.col("cc").desc(), F.col("cent_id").asc())
    cells_new = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(p.id_col, F.col("cent_id").alias("cell"))
    )
    # materialize BEFORE appending (the write below reads this frame; the
    # round-trip keeps the build/append barrier discipline of _write)
    cells_new.write.mode("append").parquet(f"{path}/cells")
    cells_new = spark.read.parquet(f"{path}/cells").join(
        new_emb.select(p.id_col), p.id_col, "leftsemi"
    )

    if p.residual:
        ccv = F.broadcast(coarse.select(F.col("cent_id").alias("cell"), "cv"))
        rbase = (
            new_emb.select(p.id_col, p.vec_col)
            .join(cells_new, p.id_col)
            .join(ccv, "cell")
            .select(
                p.id_col,
                F.col("cell"),
                F.zip_with(
                    F.col(p.vec_col), F.col("cv"), lambda x, y: x.cast("double") - y
                ).alias("rvec"),
            )
        )
        codes_new = pq_encode(rbase, cents, p.m, p.id_col, "rvec", dim=p.dim).join(
            rbase.select(p.id_col, "cell"), p.id_col
        )
    else:
        codes_new = pq_encode(new_emb, cents, p.m, p.id_col, p.vec_col, dim=p.dim)
    codes_new.write.mode("append").parquet(f"{path}/codes")


def ivfpq_search_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-k over a persisted index — the light, frequent half.

    ``queries`` is ``(query_id, qv)`` with ``qv`` an array (any numeric
    element type; cast to double internally). The search never touches a
    raw corpus vector: probes come from the broadcast ``coarse`` table,
    gating from the two-int ``cells`` table, scoring from ``codes`` plus a
    broadcast per-query distance table. Semantics (and bit-level results)
    match :func:`similarity.ivfpq_topk` at the index's parameters — a
    corpus member used as a query excludes itself, ranks tie-break on
    neighbor id.
    """
    p = load_ann_params(spark, path)
    coarse = spark.read.parquet(f"{path}/coarse")
    cells = _live_cells(spark, path, p)
    codes = spark.read.parquet(f"{path}/codes")
    cents = spark.read.parquet(f"{path}/codebooks")
    dsub = p.dim // p.m

    q = queries.select(
        F.col("query_id"),
        F.transform(F.col("qv"), lambda x: x.cast("double")).alias("qv"),
    )
    # probe assignment: same cosine argmax + tie-break as the build side
    qscored = q.join(F.broadcast(coarse)).withColumn("cc", cosine(F.col("qv"), F.col("cv")))
    wq = Window.partitionBy("query_id").orderBy(F.col("cc").desc(), F.col("cent_id").asc())
    qcells = (
        qscored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", F.col("cent_id").alias("cell"), "qv")
    )
    # candidate gate BEFORE the ADC shuffle: only vectors in probed cells
    cand = (
        qcells.select("query_id", "cell")
        .join(cells, "cell")
        .filter(F.col(p.id_col) != F.col("query_id"))
        .select("query_id", p.id_col)
    )

    def _subvecs(df: DataFrame, vec: str, extra: list[str]) -> DataFrame:
        return df.select(
            *extra,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("sub"),
                            F.slice(F.col(vec), j * dsub + 1, dsub).alias("qv"),
                        )
                        for j in range(p.m)
                    ]
                )
            ).alias("s"),
        ).select(*extra, F.col("s.sub").alias("sub"), F.col("s.qv").alias("qv"))

    if p.residual:
        # per-(query, probed cell) residual -> cell-aware distance table
        ccv = F.broadcast(coarse.select(F.col("cent_id").alias("cell"), "cv"))
        qres = qcells.join(ccv, "cell").select(
            "query_id",
            "cell",
            F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x - y).alias("rv"),
        )
        qsv = _subvecs(qres.withColumnRenamed("rv", "qvec"), "qvec", ["query_id", "cell"])
        dtab = qsv.join(F.broadcast(cents), "sub").select(
            "query_id", "cell", "sub",
            F.col("cent_id").alias("code"),
            _l2(F.col("qv"), F.col("cv")).alias("d"),
        )
        return _adc_topk(codes, dtab, p.id_col, k, cand=cand, join_keys=["cell", "sub", "code"])

    qsv = _subvecs(q.withColumnRenamed("qv", "qvec"), "qvec", ["query_id"])
    dtab = qsv.join(F.broadcast(cents), "sub").select(
        "query_id", "sub", F.col("cent_id").alias("code"), _l2(F.col("qv"), F.col("cv")).alias("d")
    )
    return _adc_topk(codes, dtab, p.id_col, k, cand=cand)


def _live_cells(spark: SparkSession, path: str, p: AnnIndexParams) -> DataFrame:
    """The candidate gate minus tombstoned ids: every search path flows
    through ``cells`` (the gate feeding ``_adc_topk``'s ``cand``), so
    one broadcast anti-join here hides deleted vectors from ALL reads
    immediately — codes rows for them simply never match a candidate."""
    from activecampaign_api_data_pipeline_spark.storage import path_exists

    cells = spark.read.parquet(f"{path}/cells")
    if path_exists(spark, f"{path}/tombstones"):
        tomb = spark.read.parquet(f"{path}/tombstones").select(p.id_col).distinct()
        cells = cells.join(F.broadcast(tomb), p.id_col, "left_anti")
    return cells


def delete_ann_index(spark: SparkSession, path: str, ids) -> None:
    """Tombstone vectors out of the persisted index — the missing third
    verb of the index lifecycle (build / append / DELETE), the
    GDPR-erasure shape the medallion store already has for rows
    (``storage`` CDC tombstones).

    ``ids`` is a one-column DataFrame or a Python list of vector ids.
    Cost is O(delete batch): one small parquet append to the
    ``tombstones`` ledger. Effect is immediate — every search excludes
    tombstoned ids via the ``cells`` gate anti-join — and idempotent
    (the ledger is read distinct; re-deleting is harmless). Re-adding a
    deleted id later is NOT supported without a vacuum first (the
    ledger hides the id, not a specific row version — document, don't
    guess). Physical bytes are reclaimed by :func:`vacuum_ann_index`.

    At 100 TB: deletes are rare and small next to the corpus; paying a
    broadcast anti-join of the (tiny) ledger per search beats rewriting
    multi-TB ``codes`` per erasure request; periodic vacuum amortizes
    the physical rewrite across many deletes."""
    p = load_ann_params(spark, path)
    _tombstone_ids(spark, path, p.id_col, ids)


def _tombstone_ids(spark: SparkSession, path: str, id_col: str, ids) -> None:
    if isinstance(ids, (list, tuple)):
        ids_df = spark.createDataFrame([(int(i),) for i in ids], f"{id_col} long")
    else:
        # cast to the ledger's canonical type: mixed appends (int batch
        # after a long batch) would otherwise leave conflicting parquet
        # schemas in the tombstones dir and break later ledger reads
        ids_df = ids.select(F.col(ids.columns[0]).cast("long").alias(id_col))
    ids_df.distinct().write.mode("append").parquet(f"{path}/tombstones")


def vacuum_ann_index(spark: SparkSession, path: str) -> None:
    """Physically drop tombstoned rows from ``cells`` and ``codes`` and
    clear the ledger — the LSM-style reclaim that bounds the per-search
    anti-join cost after many deletes.

    Each artifact is staged at ``<artifact>__compacting`` and committed
    under ``storage``'s "Commit protocol". The ledger is removed LAST, so
    every intermediate crash state still reads correctly: until both
    artifact swaps complete, the surviving tombstones keep hiding the ids
    (the anti-join is simply vacuous for an already-vacuumed artifact),
    and a re-run completes the job."""
    p = load_ann_params(spark, path)
    _vacuum_artifacts(spark, path, p.id_col, ("cells", "codes"))


def _vacuum_artifacts(
    spark: SparkSession, path: str, id_col: str, arts: tuple
) -> None:
    from activecampaign_api_data_pipeline_spark.storage import path_exists

    if not path_exists(spark, f"{path}/tombstones"):
        return
    tomb = F.broadcast(
        spark.read.parquet(f"{path}/tombstones").select(id_col).distinct()
    )
    for art in arts:
        live = f"{path}/{art}"
        staging = f"{live}__compacting"
        # A copy rolled forward by _heal was built from the ledger AS OF
        # the crashed run: re-vacuum it against the CURRENT ledger (vacuous
        # if already applied) before the ledger delete below, or tombstones
        # appended since would be erased unapplied, resurrecting vectors.
        if not _heal(spark, live, staging):
            raise FileNotFoundError(f"vacuum: no artifact at {live}")
        kept = spark.read.parquet(live).join(tomb, id_col, "left_anti")
        kept.write.mode("overwrite").parquet(staging)
        _swap(spark, live, staging)
    _clear_tombstones(spark, path)


def delete_sq8_index(spark: SparkSession, path: str, ids) -> None:
    """SQ8 twin of :func:`delete_ann_index` — same tombstone ledger,
    same immediacy (the code scan anti-joins the ledger), same
    idempotency, reclaimed by :func:`vacuum_sq8_index`."""
    p = load_sq8_params(spark, path)
    _tombstone_ids(spark, path, p.id_col, ids)


def vacuum_sq8_index(spark: SparkSession, path: str) -> None:
    """SQ8 twin of :func:`vacuum_ann_index` (the SQ8 layout has one
    per-vector artifact, ``codes``; frozen ``stats`` hold no rows)."""
    p = load_sq8_params(spark, path)
    _vacuum_artifacts(spark, path, p.id_col, ("codes",))


def ivfpq_refine_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    emb: DataFrame,
    k: int = 3,
    r: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pushdown_ids: int = 10_000,
) -> DataFrame:
    """FAISS-style refine step: take the top-``r`` ADC candidates from the
    persisted index, re-rank them by EXACT L2 against the raw vectors,
    return the top-``k``.

    The standard accuracy/cost ladder: the compressed search (codes only,
    ~3 % of raw bytes) proposes ``r`` candidates per query, then the
    refine reads raw vectors for ONLY those Q×r ids — broadcast against
    the corpus scan (a semi-join point-lookup, no shuffle of the corpus)
    and recall approaches the exact search's at a tiny fraction of its
    cost. Exact distance is the same sequential double fold as the PQ
    tables, so results are bit-reproducible by the SQL twin.

    A broadcast join alone still READS every corpus byte to look up Q×r
    rows — join keys never reach the parquet footer. The candidate id
    set is therefore collected (Q×r is bounded and small — the same
    scalar-bounds class of collect as a watermark read) and pushed as a
    literal ``isin`` filter on the raw scan, so row-group stats prune the
    lookup to the files that hold the candidates. Pair the vector table
    with ``TableStore.cluster_silver``/``zorder_silver`` on the id so
    those stats are tight — on a clustered table the refine's IO scales
    with Q×r, not corpus bytes. Above ``max_pushdown_ids`` the literal
    list stops being free for Catalyst; the filter is skipped and the
    broadcast join alone handles the (no-longer-point-lookup) refine.
    """
    from activecampaign_api_data_pipeline_spark.operators.similarity import _l2

    cand = ivfpq_search_index(spark, path, queries, k=r, nprobe=nprobe).select(
        "query_id", "neighbor_id"
    )
    # one computation feeds the pushdown collect AND the join
    cand = cand.localCheckpoint(eager=True)
    raw = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("nv"),
    )
    cand_ids = [r_["neighbor_id"] for r_ in cand.select("neighbor_id").distinct().collect()]
    if len(cand_ids) <= max_pushdown_ids:
        raw = raw.filter(F.col("neighbor_id").isin(cand_ids))
    qv = queries.select(
        "query_id",
        F.transform(F.col("qv"), lambda x: x.cast("double")).alias("qvd"),
    )
    ex = (
        raw.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("dist", _l2(F.col("qvd"), F.col("nv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    return (
        ex.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("dist", 6).alias("dist"))
    )


def ensure_ann_index(
    emb: DataFrame,
    path: str,
    **params,
) -> str:
    """Build the index at ``path`` unless a complete one already exists.

    Completeness = the params sidecar exists and matches the FULL requested
    parameter set with defaults filled in (round-4 advice: a subset request
    must not match a differently-built index — ``residual=False`` rejects a
    ``residual=True`` index even though the caller never said ``residual``).
    ``dim`` is learned by the build, so it is excluded from the comparison.
    A crashed rebuild cannot false-match: :func:`build_ann_index` rewrites
    the sidecar with an unparsable marker before touching any artifact.
    """
    spark = emb.sparkSession
    requested = AnnIndexParams(**params).to_dict()
    requested.pop("dim")
    try:
        existing = load_ann_params(spark, path).to_dict()
        existing.pop("dim")
        if existing == requested:
            return path
    except SIDECAR_INCOMPLETE:
        pass  # absent, mid-rebuild marker or junk -> build; IO errors raise
    build_ann_index(emb, path, **params)
    return path


# ---------------------------------------------------------------------------
# SQ8 persisted index — the scalar-quantization codec's train/add/search
# lifecycle, with the exact store contracts of the IVF-PQ index above:
# crash-safe ``_building_`` sidecar written FIRST and valid params LAST,
# parquet round-trips as materialization barriers, frozen-artifact appends
# costing O(new rows), and search results bit-identical to the in-session
# operator (``similarity.sq8_topk``) on the same corpus.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Sq8IndexParams:
    dim: int = 0  # filled by build
    id_col: str = "vec_id"
    vec_col: str = "embedding"

    def to_dict(self) -> dict:
        return dict(self.__dict__)


def build_sq8_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Sq8IndexParams:
    """Calibrate + encode an SQ8 index at ``path``: ``stats`` (ONE row of
    per-dim min/max arrays — bytes, broadcast at search time) and
    ``codes`` (one BIGINT array per vector — the only per-vector data a
    search scans, ~4x smaller than raw floats)."""
    from activecampaign_api_data_pipeline_spark.operators.similarity import (
        sq8_encode,
        sq8_stats,
    )

    spark = emb.sparkSession
    dim = len(emb.select(vec_col).first()[0])
    write_text_sidecar(
        spark, f"{path}/params.json", json.dumps({"_building_": True})
    )
    _clear_tombstones(spark, path)

    stats = _write(sq8_stats(emb, id_col, vec_col), f"{path}/stats")
    _write(sq8_encode(emb, stats, id_col, vec_col), f"{path}/codes")

    params = Sq8IndexParams(dim, id_col, vec_col)
    write_text_sidecar(spark, f"{path}/params.json", json.dumps(params.to_dict()))
    return params


def load_sq8_params(spark: SparkSession, path: str) -> Sq8IndexParams:
    raw = read_text_sidecar(spark, f"{path}/params.json")
    if raw is None:
        raise FileNotFoundError(f"no params sidecar at {path}/params.json")
    return Sq8IndexParams(**json.loads(raw))


def append_sq8_index(new_emb: DataFrame, path: str) -> None:
    """Encode NEW vectors against the FROZEN calibration — O(new rows),
    no rescan, no recalibration (out-of-range components clamp to the
    [0,255] edges; recalibrating would silently re-mean the whole corpus,
    so distribution drift is a rebuild at a new path, exactly like the
    IVF-PQ index)."""
    from activecampaign_api_data_pipeline_spark.operators.similarity import sq8_encode

    spark = new_emb.sparkSession
    p = load_sq8_params(spark, path)
    stats = spark.read.parquet(f"{path}/stats")
    sq8_encode(new_emb, stats, p.id_col, p.vec_col).write.mode("append").parquet(
        f"{path}/codes"
    )


def sq8_search_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Top-k over a persisted SQ8 index. ``queries`` is ``(query_id, qv)``.

    Query vectors encode against the index's frozen stats (broadcast
    one-row join), then integer distances score the code scan — the plan
    touches codes only, never a raw corpus vector. On the corpus the
    index was built from, results are bit-identical to
    ``similarity.sq8_topk`` (parquet round-trips of doubles/BIGINTs are
    exact), which is how the oracle checks this module."""
    from activecampaign_api_data_pipeline_spark.operators.similarity import (
        _sq8_dist,
        sq8_encode,
    )

    from activecampaign_api_data_pipeline_spark.storage import path_exists

    p = load_sq8_params(spark, path)
    stats = spark.read.parquet(f"{path}/stats")
    codes = spark.read.parquet(f"{path}/codes")
    if path_exists(spark, f"{path}/tombstones"):
        # deleted vectors drop out of the scan immediately (the SQ8
        # layout has no cells gate, so the anti-join sits on codes)
        tomb = spark.read.parquet(f"{path}/tombstones").select(p.id_col).distinct()
        codes = codes.join(F.broadcast(tomb), p.id_col, "left_anti")
    qenc = sq8_encode(
        queries.select(
            F.col("query_id").alias(p.id_col), F.col("qv").alias(p.vec_col)
        ),
        stats,
        p.id_col,
        p.vec_col,
    ).select(F.col(p.id_col).alias("query_id"), F.col("code").alias("qcode"))
    scored = (
        codes.select(F.col(p.id_col).alias("neighbor_id"), "code")
        .join(F.broadcast(qenc), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qdist", _sq8_dist(F.col("qcode"), F.col("code")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "qdist",
        )
    )


def ensure_sq8_index(emb: DataFrame, path: str, **params) -> str:
    """Build the SQ8 index at ``path`` unless a complete one already
    exists (same completeness contract as :func:`ensure_ann_index`: the
    sidecar must parse as full default-filled params, ``dim`` excluded;
    a mid-rebuild ``_building_`` marker never false-matches)."""
    spark = emb.sparkSession
    requested = Sq8IndexParams(**params).to_dict()
    requested.pop("dim")
    try:
        existing = load_sq8_params(spark, path).to_dict()
        existing.pop("dim")
        if existing == requested:
            return path
    except Exception:
        pass  # absent, unreadable, or mid-rebuild marker -> build
    build_sq8_index(emb, path, **params)
    return path
