"""Corpus-curation operators for the large-scale training-data path:
sequence packing, mixture resampling, KMV distinct sketching, and
SemDeDup-style semantic deduplication.

These are the operations a 100 TB pretraining pipeline runs between "raw
documents" and "token shards". None exist in the reference (a CRM ETL),
but they are first-class here per the build brief. All are declarative
DataFrame plans — window functions, broadcast joins, and expression work;
no Python UDFs — and each has an exact ANSI-SQL oracle twin
(oracles.py) because every nondeterministic choice (sampling, sharding,
tie-breaks) is driven by the engine-reproducible md5-based
:func:`~activecampaign_api_data_pipeline_spark.functions.hashing.hash60`.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from activecampaign_api_data_pipeline_spark.functions.hashing import hash60
from activecampaign_api_data_pipeline_spark.streaming.incremental import (
    write_batch_partition,
)


def pack_sequences(
    docs: DataFrame,
    budget: int = 256,
    n_shards: int = 8,
    id_col: str = "doc_id",
    token_count_col: str = "n_tokens",
    salt: str = "pack",
    base_offsets: DataFrame | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document a token
    offset range inside fixed-budget training sequences.

    ``base_offsets`` (shard, base) shifts each shard's running offset by
    an already-consumed token count — the incremental-ingest hook: a
    streaming sink passes the persisted per-shard totals so sequence
    numbering continues seamlessly across micro-batches (see
    ``streaming.incremental.packed_shards_sink_batch``). Absent shards
    default to base 0; with ``base_offsets=None`` the op is the plain
    batch packing.

    The standard pretraining packing scheme (GPT-style concat-then-chunk,
    public knowledge): documents are concatenated in a deterministic order
    and the token stream is cut every ``budget`` tokens. A document's
    sequence id is ``floor(start_offset / budget)``; documents longer than
    the remaining room simply span a cut (the trainer masks across the
    boundary).

    Scale shape: a single global concatenation order would serialize the
    cumulative sum through one partition. Instead documents are sharded by
    a stable key hash (``n_shards`` independent streams — at 100 TB, make
    this thousands), and the running offset is a window cumsum
    PARTITIONED by shard: Spark computes every shard's packing in
    parallel after one shuffle on ``shard``. Output sequence ids are
    globally unique via ``(shard, seq_in_shard)``.

    Deterministic: shard = hash60(salt||id) % n_shards, order within a
    shard = id — both engine-reproducible, so the oracle twin matches
    bit-for-bit.
    """
    shard = F.pmod(
        hash60(F.concat_ws("||", F.lit(salt), F.col(id_col).cast("string"))),
        F.lit(n_shards),
    ).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = F.col(token_count_col).cast("long")
    staged = (
        docs.select(F.col(id_col), toks.alias("n_tokens"), shard)
        .withColumn("end_off", F.sum("n_tokens").over(w))
    )
    if base_offsets is not None:
        staged = (
            staged.join(F.broadcast(base_offsets), "shard", "left")
            .withColumn("end_off", F.col("end_off") + F.coalesce(F.col("base"), F.lit(0)))
            .drop("base")
        )
    return (
        staged.select(
            F.col(id_col),
            "shard",
            "n_tokens",
            (F.col("end_off") - F.col("n_tokens")).alias("start_off"),
        )
        .select(
            F.col(id_col),
            "shard",
            "n_tokens",
            F.floor(F.col("start_off") / budget).alias("seq_in_shard"),
            F.pmod(F.col("start_off"), F.lit(budget)).alias("offset_in_seq"),
        )
    )


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    buckets: int = 10000,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-stratum mixture resampling with up- AND
    down-sampling — the "data mixture" step of a pretraining pipeline
    (rates come from a mixture-tuning decision; they are static config).

    A rate of 0.4 keeps a deterministic 40 % of the stratum; a rate of
    2.5 emits every row twice plus a 50 % tranche a third time
    (epoch-style upsampling). Copies are materialized with a ``copy_id``
    so downstream shuffles spread them.

    Implementation: ``n_copies = floor(rate) + (bucket < frac·buckets)``
    where ``bucket = hash60(salt||id) % buckets`` — pure expression work,
    stateless and append-safe (a new document's fate never depends on
    other rows), then one ``explode(sequence(...))`` to emit copies. No
    shuffle at all: at 100 TB this is a map-only pass. Strata missing
    from ``rates`` default to rate 1.0 (pass-through).
    """
    n_copies = None
    for stratum, rate in sorted(rates.items()):
        if rate < 0:
            raise ValueError(f"negative rate for {stratum!r}")
        whole = int(rate)
        frac_th = int(round((rate - whole) * buckets))
        bucket = F.pmod(
            hash60(F.concat_ws("||", F.lit(salt), F.col(id_col).cast("string"))),
            F.lit(buckets),
        )
        copies = F.lit(whole) + F.when(bucket < frac_th, F.lit(1)).otherwise(F.lit(0))
        cond = F.col(stratum_col) == stratum
        n_copies = F.when(cond, copies) if n_copies is None else n_copies.when(cond, copies)
    n_copies = F.lit(1) if n_copies is None else n_copies.otherwise(F.lit(1))
    out = docs.withColumn("_n_copies", n_copies).filter(F.col("_n_copies") > 0)
    return out.select(
        *[c for c in docs.columns],
        F.explode(F.sequence(F.lit(1), F.col("_n_copies"))).alias("copy_id"),
    )


def token_budget_sample(
    docs: DataFrame,
    budget: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    salt: str = "budget",
) -> DataFrame:
    """Token-budget sampling: per stratum, admit documents in a
    deterministic hash-shuffled order until the stratum's cumulative
    token count reaches ``budget`` — how a pretraining mixture caps each
    source by TOKENS (what the model actually consumes) rather than by
    document count, without an RNG.

    The hash order (``hash60(salt||id)``) is an arbitrary-but-fixed
    permutation, so the admitted set is an unbiased sample of the
    stratum, reproducible across runs and engines. A document is kept if
    the running sum INCLUDING it stays ≤ budget (truncation rule:
    the first over-budget document is dropped, not split — splitting is
    :func:`pack_sequences`' job downstream).

    One hash-partition window per stratum (independent parallel
    cumsums); at 100 TB the shuffle moves (id, stratum, n_tokens) only —
    text never moves. Returns the admitted rows with ``cum_tokens``.
    """
    h = hash60(F.concat_ws("||", F.lit(salt), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(h.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(tokens_col)).over(w).cast("long")
    return (
        docs.withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") <= budget)
        .select(id_col, stratum_col, tokens_col, "cum_tokens")
    )


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: int = 32,
) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per group — the
    classic mergeable estimator (Bar-Yossef et al., public knowledge):
    hash every value into [0, 2^60), keep the k smallest DISTINCT hashes,
    estimate ``|D| ≈ (k-1) · 2^60 / h_(k)``.

    Unlike HLL this is exactly reproducible across engines (md5-based
    hash60, integer kth-order statistic), so the oracle can verify the
    estimate bit-for-bit — and unlike exact count-distinct the shuffle
    carries only (group, hash) pairs and the final state is k longs per
    group. Groups with ≤ k distinct values report their EXACT count
    (the sketch degenerates gracefully).

    Plan: project hashes → distinct (map-side partial) → window top-k
    per group (WindowGroupLimit pushes the k-limit map-side) → one-row
    aggregate per group. Nothing unbounded crosses the shuffle.
    """
    group_cols = group_cols or []
    h = hash60(F.col(value_col).cast("string")).alias("_h")
    hashes = df.select(*group_cols, h).distinct()
    w = Window.partitionBy(*group_cols).orderBy(F.col("_h").asc())
    topk = hashes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    two60 = float(1 << 60)
    agg = topk.groupBy(*group_cols).agg(
        F.max("_h").alias("_kth"),
        F.count("*").cast("int").alias("k_eff"),
    )
    exact = F.col("k_eff").cast("long")
    est = F.round((F.col("k_eff") - 1).cast("double") * two60 / F.col("_kth"), 4)
    return agg.select(
        *group_cols,
        "k_eff",
        F.when(F.col("k_eff") < k, exact.cast("double")).otherwise(est).alias("distinct_est"),
    )


def write_training_shards(
    packed: DataFrame,
    path: str,
    split_col: str = "split",
    shard_col: str = "shard",
    order_cols: tuple[str, ...] = ("seq_in_shard", "offset_in_seq"),
) -> None:
    """Materialize packed sequences as training shards: one directory per
    (split, shard), rows inside each file in sequence order — the layout
    a data loader streams sequentially without any sort at read time.

    One shuffle (repartition on the partition keys) + an in-partition
    sort; each (split, shard) becomes exactly one file so the trainer's
    shard list is the directory listing. At 100 TB raise ``n_shards``
    upstream in :func:`pack_sequences` rather than splitting files here —
    shard identity must stay aligned with the packing's offset stream.
    """
    (
        packed.repartition(F.col(split_col), F.col(shard_col))
        .sortWithinPartitions(split_col, shard_col, *order_cols)
        .write.mode("overwrite")
        .partitionBy(split_col, shard_col)
        .parquet(path)
    )


def kmv_state(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: int = 32,
) -> DataFrame:
    """The KMV sketch STATE per group: the k smallest distinct hash60
    values as a sorted array — the mergeable artifact
    (:func:`kmv_merge`); :func:`kmv_estimate` turns state into counts.

    At 100 TB this is the incremental-distinct pattern: persist a few
    hundred bytes per group, merge each ingest batch in O(batch), never
    rescan history. The union-then-re-minimize merge is exact: the k
    smallest of (k smallest of A) ∪ (k smallest of B) equal the k
    smallest of A ∪ B.
    """
    group_cols = group_cols or []
    h = hash60(F.col(value_col).cast("string")).alias("_h")
    hashes = df.select(*group_cols, h).distinct()
    w = Window.partitionBy(*group_cols).orderBy(F.col("_h").asc())
    topk = hashes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    return topk.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list("_h")).alias("kmv")
    )


def kmv_merge(a: DataFrame, b: DataFrame, group_cols: list[str], k: int = 32) -> DataFrame:
    """Merge two KMV states (full outer on group): distinct union of the
    hash arrays, keep the k smallest. Associative + commutative, so any
    batch arrival order yields the same sketch."""
    merged = (
        a.withColumnRenamed("kmv", "_ka")
        .join(b.withColumnRenamed("kmv", "_kb"), group_cols, "full_outer")
        .select(
            *group_cols,
            F.slice(
                F.array_sort(
                    F.array_distinct(
                        F.concat(
                            F.coalesce(F.col("_ka"), F.array().cast("array<long>")),
                            F.coalesce(F.col("_kb"), F.array().cast("array<long>")),
                        )
                    )
                ),
                1,
                k,
            ).alias("kmv"),
        )
    )
    return merged


def kmv_estimate(state: DataFrame, k: int = 32) -> DataFrame:
    """Distinct-count estimate from KMV state: exact when the group holds
    fewer than k hashes, else ``(k-1)·2^60 / h_(k)``."""
    two60 = float(1 << 60)
    k_eff = F.size("kmv").alias("k_eff")
    kth = F.element_at("kmv", -1)
    est = F.round((F.size("kmv") - 1).cast("double") * two60 / kth, 4)
    return state.select(
        *[c for c in state.columns if c != "kmv"],
        k_eff,
        F.when(F.size("kmv") < k, F.size("kmv").cast("double")).otherwise(est).alias(
            "distinct_est"
        ),
    )


def semantic_dedup(
    emb: DataFrame,
    n_centroids: int | None = None,
    tau: float = 0.7,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_size: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster embeddings with k-means, then WITHIN each cluster drop every
    vector that has a higher-similarity-than-``tau`` neighbor with a
    smaller id (one canonical survivor per semantic near-dup set, modulo
    cluster boundaries — the paper's accepted approximation).

    Scale shape: the O(N²) pairwise cosine never happens — pairs are
    confined to clusters (one shuffle on ``cell``, each cluster an
    independent join partition), exactly the IVF trick reused for dedup
    instead of search. Reuses the session-cached IVF cell assignment, so
    a corpus that was ANN-indexed pays nothing extra for the clustering.
    Per-cell pair cost is O((N/C)²·C), so C must grow PROPORTIONALLY to
    the corpus (constant expected cluster size — the SemDeDup paper uses
    tens of thousands of clusters at web scale) for the within-cell join
    to stay linear in N; a fixed C at 100× the data is quadratic
    (measured: 7.9× at fixed C=8 vs 1.06× proportional on the 10×
    smoke). The DEFAULT therefore derives ``n_centroids =
    max(1, ceil(N / target_cell_size))`` from one corpus count — the
    linear configuration is what a caller gets without tuning; pass an
    explicit ``n_centroids`` only to pin a specific clustering.

    Returns every vector with its cluster and a ``kept`` flag (canonical
    survivors true) — downstream joins filter the corpus by it.
    """
    from activecampaign_api_data_pipeline_spark.operators.similarity import (
        _cached_build,
        _plan_key,
        _assign,
        cosine,
        kmeans_centroids,
    )

    if n_centroids is None:
        # one count(*) — parquet-stats-cheap even at 100 TB — keeps the
        # expected cluster size constant as the corpus grows
        n_centroids = max(1, math.ceil(emb.count() / target_cell_size))
    cents = kmeans_centroids(emb, n_centroids, n_iters, id_col, vec_col)
    cells = _cached_build(
        _plan_key(emb) + ("ivf_assign", n_centroids, n_iters, id_col, vec_col),
        lambda: _assign(emb, cents, id_col, vec_col),
    )
    a = cells.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "cell"
    )
    b = cells.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "cell"
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= tau)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        cells.join(dropped.withColumn("_drop", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            "cell",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def importance_weights(
    docs: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR-style hashed importance scores for domain-targeted data
    selection (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling" — public method, re-expressed declaratively).

    Tokens hash into ``n_buckets`` feature buckets; each bucket's weight
    is the target-vs-raw frequency ratio; a raw document's score is the
    sum of its tokens' bucket weights. Deviations from the paper, both
    determinism-motivated: the log-ratio becomes an exact integer
    parts-per-million ratio ``(t_cnt * 1_000_000) div (r_cnt + 1)`` so
    scores are BIGINT-exact across engines (float log sums are
    order-sensitive), and selection is deterministic top-k rather than
    Gumbel sampling (the repo's sampling primitives already cover
    randomized selection via hash buckets).

    Plan: the corpus is scanned and exploded TWICE (the weight subtree
    and the scoring subtree — Spark does not share Generate subtrees,
    and caching exploded tokens at 100 TB would cost more than the
    second scan), but the only data-scale SHUFFLE is the per-document
    score aggregate: the bucket-count aggregate collapses to
    ``n_buckets`` rows map-side (partial agg) and comes back as a
    broadcast join against the second scan. Returns every RAW document
    scored: (id, n_toks, score) — callers rank/threshold.
    """
    bucketed = _token_buckets(docs, target_pred, id_col, text_col, n_buckets, salt)
    weights = _bucket_counts(bucketed).select(
        "bucket", F.expr("t_cnt * 1000000 DIV (r_cnt + 1)").alias("w_ppm")
    )
    return _score_raw_docs(bucketed, weights, id_col)


def _token_buckets(
    docs: DataFrame,
    target_pred: Column,
    id_col: str,
    text_col: str,
    n_buckets: int,
    salt: str,
) -> DataFrame:
    """Explode documents into hashed feature buckets, map-side only:
    (id, _is_target, bucket)."""
    toks = docs.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col),
        target_pred.alias("_is_target"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    )
    return toks.select(
        F.col(id_col),
        "_is_target",
        F.pmod(hash60(F.concat_ws("||", F.lit(salt), F.col("tok"))), F.lit(n_buckets)).alias(
            "bucket"
        ),
    )


def _bucket_counts(bucketed: DataFrame) -> DataFrame:
    """Per-bucket target/raw token counts: collapses to <= n_buckets rows
    map-side (partial aggregation)."""
    return bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("t_cnt"),
        F.sum(F.when(~F.col("_is_target"), 1).otherwise(0)).alias("r_cnt"),
    )


def _score_raw_docs(bucketed: DataFrame, weights: DataFrame, id_col: str) -> DataFrame:
    """Score each RAW document as the sum of its tokens' bucket weights
    (weights broadcast — the only data-scale shuffle is the doc agg)."""
    return (
        bucketed.filter(~F.col("_is_target"))
        .join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_toks"),
            F.sum("w_ppm").alias("score"),
        )
    )


def importance_state_fold(
    docs: DataFrame,
    path: str,
    target_pred: Column,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    salt: str = "dsir",
) -> None:
    """Fold one batch's bucket counts into a persisted importance-weight
    state — the incremental half of DSIR selection: the state is at most
    ``n_buckets`` rows PER BATCH under ``{path}/partials``, so the whole
    artifact stays tiny (128 longs x batches, compacted) no matter how
    many exabytes of corpus flowed through it.

    Exactly-once: the batch's partial counts are its ``batch_id``
    partition (``streaming.incremental.write_batch_partition``) — a
    replayed batch replaces its own partition, never double-counts.
    """
    bucketed = _token_buckets(docs, target_pred, id_col, text_col, n_buckets, salt)
    write_batch_partition(_bucket_counts(bucketed), batch_id, f"{path}/partials")


def importance_weights_from_state(
    docs: DataFrame,
    path: str,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    salt: str = "dsir",
) -> DataFrame:
    """Score RAW documents against the ACCUMULATED persisted state: the
    partials sum to one <= ``n_buckets``-row weight table (a scan of a
    KB-scale artifact), then scoring is the same broadcast-join plan as
    the batch operator. After folding batches B1..Bn, scores equal the
    one-shot :func:`importance_weights` over their union (exact integer
    arithmetic end-to-end — pinned by test)."""
    spark = docs.sparkSession
    state = spark.read.parquet(f"{path}/partials")
    weights = (
        state.groupBy("bucket")
        .agg(F.sum("t_cnt").alias("t_cnt"), F.sum("r_cnt").alias("r_cnt"))
        .select("bucket", F.expr("t_cnt * 1000000 DIV (r_cnt + 1)").alias("w_ppm"))
    )
    bucketed = _token_buckets(docs, target_pred, id_col, text_col, n_buckets, salt)
    return _score_raw_docs(bucketed, weights, id_col)
