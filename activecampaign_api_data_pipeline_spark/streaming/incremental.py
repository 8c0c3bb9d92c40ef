"""Incremental & streaming semantics (SURVEY.md §2.8 T1-T3).

The reference's incremental story is a keyset watermark over a monotone id
persisted in ``state.json`` (run_ac_extraction.py:249-270, :1557-1559,
:1696-1700) plus content-hash idempotency on the write path. Two Spark-first
re-expressions live here:

- **Incremental batch** (:func:`incremental_batch`): the direct equivalent —
  ``WHERE id > watermark``, advance the watermark only after a successful
  persist. Composes with :class:`~activecampaign_api_data_pipeline_spark.storage.TableStore`,
  whose hash-dedup silver makes replays no-ops (T2), so crash-and-rerun is
  safe exactly like the reference.

- **Structured Streaming**: the capability the reference lacks. Event-time
  tumbling windows and session windows with ``withWatermark`` for bounded
  state / late-data handling, streaming dedup, and a ``foreachBatch`` sink
  that upserts each micro-batch through the medallion store — giving the
  reference's delta→raw→latest semantics continuously instead of per-run.

Scale notes: windowed aggregates shuffle on (window, key) and keep only
watermark-bounded state; ``foreachBatch`` reuses the store's bucket-pruned
maintenance, so a micro-batch costs O(batch + touched buckets). State-store
backends (RocksDB at scale) are a config, not a code change.

Sink frame. Every ``foreachBatch`` sink of this package (here and in
``streaming/stateful.py``) is built from the same pieces, so that a
replayed micro-batch — Structured Streaming re-runs a batch whose commit
did not land, under the same ``batch_id`` — leaves the outputs as one
run would:

- **Start.** :func:`_start` is the one ``writeStream`` start: the sink,
  its checkpoint, and the ``availableNow`` trigger (drain what is there,
  then stop). Only :func:`stream_into_store` lets a caller turn that
  trigger off.
- **Batch-partition replay.** :func:`write_batch_partition` writes a
  batch's output as the ``batch_id=`` partition of its directory with
  dynamic overwrite: a replay replaces its own partition instead of
  appending duplicates.
- **Built probe.** A sink whose first batch builds an artifact asks
  :func:`_built` whether that build finished; it returns the loaded
  params, or ``None`` for "build again". Builds write the params
  sidecar last (a ``_building_`` marker first), so an absent, empty,
  marker or junk sidecar means "build again"; any other error, e.g. an
  IO failure, propagates instead of rebuilding over an existing
  artifact (``storage.path_exists`` rationale).
- **Replay guard.** A sink that appends to a built artifact skips what
  the artifact already holds: the index sinks anti-join the batch
  against the stored ids (:func:`_append_unseen`); the view sinks skip a
  batch key the view has applied (:func:`_guarded_view_sink`), reading
  the applied set once per run.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from activecampaign_api_data_pipeline_spark.functions.hashing import hash60
from activecampaign_api_data_pipeline_spark.storage import (
    SIDECAR_INCOMPLETE,
    TableStore,
    compact_artifact,
    max_id_watermark,
    path_exists,
)

WATERMARK_KEY = "max_id"


def incremental_batch(
    df: DataFrame,
    id_col: str,
    state: dict,
    process: Callable[[DataFrame], None],
) -> dict:
    """Keyset-cursor incremental batch (reference S2/T1, :249-270).

    Filters to rows above the stored watermark, runs ``process`` on the
    delta, and returns the NEW state (caller persists it after — matching
    the reference's advance-only-on-success at :1696-1700). The watermark
    detects new *ids*, not updated rows for old ids — same semantics as the
    reference's ``id_greater`` cursor (SURVEY.md §2.8 note).
    """
    wm = state.get(WATERMARK_KEY)
    delta = df.filter(F.col(id_col).cast("long") > F.lit(wm)) if wm is not None else df
    process(delta)
    new_max = max_id_watermark(delta, id_col)
    if new_max is None:  # empty delta: watermark unchanged
        return dict(state)
    out = dict(state)
    out[WATERMARK_KEY] = max(new_max, wm) if wm is not None else new_max
    return out


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
    value_col: str | None = "value",
) -> DataFrame:
    """Tumbling event-time window aggregate with late-data watermark (T3).

    Late rows beyond ``watermark`` are dropped and window state is evicted
    once the watermark passes — bounded state at any scale. The batch twin
    (same plan minus the watermark) is queries.t_window_hourly.
    """
    group_cols = group_cols if group_cols is not None else ["event_type"]
    aggs = [F.count("*").alias("n")]
    if value_col is not None:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("total_value")
        )
    out_cols = ["n"] + (["total_value"] if value_col is not None else [])
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *group_cols)
        .agg(*aggs)
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *group_cols,
            *out_cols,
        )
    )


def session_rollup(
    stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows: activity bursts per key separated by ``gap`` silence.

    The reference has no session concept (§2.8 "not present"); this is the
    idiomatic addition — ``session_window`` merges adjacent state as events
    arrive, watermark closes sessions for emission.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("s"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.date_format("s.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("s.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join bounded to an event-time interval: right rows
    with ``right_ts`` in ``[left_ts - lookback, left_ts]``.

    The §2.8 capability the reference cannot express (it joins only full
    static frames): e.g. attribute each purchase to the clicks that
    preceded it within the lookback. The interval condition PLUS
    watermarks on both sides is what makes buffered join state
    expirable — without the time bound a stream-stream join must retain
    every row forever. Right columns that collide with left ones are
    emitted with an ``r_`` prefix. Works identically on batch frames
    (watermarks are no-ops there), which is how the test pins
    stream == batch.

    ``how="leftOuter"`` adds watermark-driven NULL emission: an
    unmatched left row is held in state until the join watermark passes
    the end of its match window (``left_ts + lookback``-ish per Spark's
    state-eviction math) and only THEN emits with NULL right columns —
    the streaming-correct "no match ever" verdict, as opposed to a
    batch outer join's instant one. Callers that need every outer row
    flushed before the query stops must push the watermark past the
    corpus (the sentinel-row pattern — see
    ``staged_r11.t_stream_left_join``).
    """
    overlaps = [c for c in right.columns if c in left.columns and c != key]
    r = right
    for c in overlaps:
        r = r.withColumnRenamed(c, f"r_{c}")
    rts = f"r_{right_ts}" if right_ts in overlaps else right_ts
    l = left.withWatermark(left_ts, watermark)
    r = r.withWatermark(rts, watermark)
    cond = (
        (l[key] == r[key])
        & (F.col(rts) >= F.col(left_ts) - F.expr(f"INTERVAL {lookback}"))
        & (F.col(rts) <= F.col(left_ts))
    )
    return l.join(r, cond, how).drop(r[key])


def stream_dedup(
    stream: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup within the watermark horizon (A1, continuous).

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes — the unbounded-state-safe form of streaming dedup.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_top_n_per_key(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    n: int = 3,
) -> DataFrame:
    """Continuous per-key top-N (W2 as a stream): maintain each key's N
    highest-``value_col`` rows as events arrive.

    No built-in streaming operator expresses this — window ``row_number``
    is batch-only and streaming aggregates cannot carry a ranked list — so
    this is the repo's ``applyInPandasWithState`` exemplar: per-key state
    is the current top-N (two parallel arrays, ≤ N entries — state size is
    O(keys × N) regardless of stream length), each micro-batch merges its
    rows into the state Arrow-batched and emits the key's refreshed
    ranking. Order is total: value DESC, then ``id_col`` ASC.

    Emission is ``update`` mode (a key re-emits whenever its top-N
    changes), so a sink holds one ranking per (key, batch); the LATEST
    emission per key after the stream drains equals the batch
    ``top_n_per_group`` over the same data regardless of how the rows
    were batched — which is how the oracle checks it. Works identically
    on a batch frame? No — ``applyInPandasWithState`` is streaming-only;
    the batch twin IS ``operators.snapshots.top_n_per_group``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} long, {id_col} long, {value_col} double, rnk integer"
    )
    state_schema = "vals array<double>, ids array<long>"

    def fn(key, pdfs, state: GroupState):
        vals: list[float]
        ids: list[int]
        if state.exists:
            vals, ids = state.get
            vals, ids = list(vals), list(ids)
        else:
            vals, ids = [], []
        for pdf in pdfs:
            vals.extend(float(v) for v in pdf[value_col])
            ids.extend(int(i) for i in pdf[id_col])
        ranked = sorted(zip(vals, ids), key=lambda t: (-t[0], t[1]))[:n]
        vals = [v for v, _ in ranked]
        ids = [i for _, i in ranked]
        state.update((vals, ids))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(ranked),
                id_col: ids,
                value_col: vals,
                "rnk": list(range(1, len(ranked) + 1)),
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _start(stream: DataFrame, sink, checkpoint: str, available_now: bool = True):
    """Start ``stream`` into the ``foreachBatch`` ``sink`` (module
    docstring, "Sink frame")."""
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_batch_partition(df: DataFrame, batch_id: int, path: str) -> None:
    """Write ``df`` as the ``batch_id`` partition of ``path``, replacing
    that partition only: a replayed batch overwrites its own output
    (module docstring, "Sink frame")."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def _built(spark, path: str, load_params):
    """The params of the artifact at ``path`` if its build finished;
    ``None`` for an absent, empty, ``_building_`` or junk params sidecar.
    Any other error propagates (module docstring, "Sink frame")."""
    try:
        return load_params(spark, path)
    except SIDECAR_INCOMPLETE:
        return None


def _append_unseen(
    batch_df: DataFrame, path: str, stored: str, stored_col: str, id_col: str, append
) -> None:
    """``append(fresh, path)`` for the batch rows whose ``id_col`` is not
    in ``stored_col`` of ``{path}/{stored}`` yet; a replayed batch appends
    nothing."""
    seen = (
        batch_df.sparkSession.read.parquet(f"{path}/{stored}")
        .select(F.col(stored_col).alias(id_col))
        .distinct()
    )
    fresh = batch_df.join(seen, id_col, "left_anti")
    if not fresh.isEmpty():
        append(fresh, path)


def _guarded_view_sink(path: str, build, append):
    """The ``foreachBatch`` body of a view guarded by batch key: the first
    batch builds the view (``build(batch_df, batch_key)``); a later one
    appends (``append(batch_df, path, batch_key, skip_replay_check=True)``)
    unless the view has applied its key already.

    The applied set is read from the store once per stream run (on the
    first append, or known exactly when this run built the view); later
    batches consult and extend it with no Spark job. This is sound because
    the sink is the view's single writer: the only writes between two of
    this run's batches are its own. A crash-replay restarts the stream,
    which reads the set again and finds the replayed key."""
    from activecampaign_api_data_pipeline_spark.operators import matview as MV

    applied: set[str] | None = None

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal applied
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_key = f"batch_{batch_id:08d}"
        if _built(spark, path, MV.load_matview_params) is None:
            build(batch_df, batch_key)
            applied = {batch_key}
            return
        if applied is None:
            applied = MV.applied_batches_full(spark, path)
        if batch_key in applied:
            return
        append(batch_df, path, batch_key, skip_replay_check=True)
        applied.add(batch_key)

    return _sink


def stream_into_store(
    stream: DataFrame,
    store: TableStore,
    table: str,
    key_cols: list[str],
    checkpoint: str,
    updated_col: str | None = None,
    trigger_available_now: bool = True,
    compact_every: int | None = None,
    auto_compact_files: int | None = None,
    kmv: tuple[str, list[str]] | None = None,
    tombstone_col: str | None = None,
):
    """Continuous medallion ingest: each micro-batch persists through the
    store (delta/bronze/silver/gold), giving exactly-once-observable output.
    ``trigger_available_now=False`` runs the default processing-time
    trigger instead of draining what is there and stopping.

    ``tombstone_col`` forwards the store's CDC delete semantics: a batch
    may carry I/U/D ops, delete markers flow into history and a key whose
    latest-by-``updated_col`` row is a delete leaves gold — continuous
    changelog→snapshot maintenance (Delta MERGE shape) with the same
    replay idempotency as upserts.

    Exactly-once-ish reasoning (T2): Structured Streaming replays a failed
    micro-batch from the checkpoint; the store's content-hash silver makes
    the replay a no-op and gold is a deterministic function of silver — the
    same idempotency argument as the reference's re-runs, continuously.

    ``compact_every=N`` folds silver small-file maintenance into the
    ingest loop: every Nth batch compacts the buckets THAT BATCH touched
    — each micro-batch otherwise appends one file per touched bucket
    forever. The compaction runs inside the batch's gold refresh
    (``TableStore.persist(compact=True)``), on the same read of those
    buckets, and inside foreachBatch, so the single-writer assumption
    holds by construction. ``auto_compact_files=F`` is the stats-driven
    alternative: after a batch that is not due, a Hadoop FS listing of
    its buckets (no Spark job) triggers ``TableStore.maybe_compact`` only
    when they hold more than F files each on average.

    ``kmv=(value_col, group_cols)`` additionally folds every batch into
    the store's persisted KMV distinct sketch
    (``TableStore.update_kmv``) — continuous per-group distinct-count
    monitoring at O(batch) per micro-batch, no history rescans. NOTE: the
    sketch observes RAW batches (bronze semantics); a batch replayed
    after a crash re-merges the same hashes, which the KMV union absorbs
    (idempotent by construction).

    One trigger is one pass over the store. There is no emptiness probe:
    ``persist`` counts the batch as its bronze write runs, and an empty
    batch stops there (no silver, gold or compaction; its KMV fold leaves
    the sketch's contents as they were). The KMV fold runs
    on a driver-side thread beside ``persist``, carrying the query's job
    group; the sink joins it before returning, so the batch commits only
    after both writes, and an error in either fails the batch. With
    ``compact_every=1`` and ``kmv``, a batch onto an existing table runs
    13 Spark jobs: 9 for the persist with its compacting gold refresh
    and 4 for the KMV fold (``tests/test_streaming.py`` pins the budget).
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        due = bool(compact_every) and batch_id > 0 and batch_id % compact_every == 0
        with ThreadPoolExecutor(max_workers=1, thread_name_prefix="stream_kmv") as pool:
            folded = None
            if kmv is not None:
                folded = pool.submit(
                    inheritable_thread_target(store.spark)(store.update_kmv),
                    table, batch_df, kmv[0], kmv[1],
                )
            try:
                res = store.persist(
                    batch_df,
                    table,
                    key_cols,
                    run_id=f"batch_{batch_id:08d}",
                    updated_col=updated_col,
                    tombstone_col=tombstone_col,
                    compact=due,
                )
            finally:
                if folded is not None:
                    folded.result()
        if auto_compact_files and not due and res.touched_buckets:
            store.maybe_compact(
                table, auto_compact_files, buckets=res.touched_buckets
            )

    return _start(stream, _sink, checkpoint, trigger_available_now)


def stream_into_ann_index(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    build_params: dict | None = None,
    id_col: str = "vec_id",
):
    """Continuous embedding ingest into the persisted IVF-PQ index: the
    first micro-batch TRAINS and builds the index at ``path``; every later
    batch append-encodes with frozen artifacts
    (:func:`~...operators.ann_index.append_ann_index` — FAISS
    train-then-add, run continuously).

    Exactly-once: the built probe and the id anti-join of the sink frame
    (module docstring), against the ids in ``codes``. That probe scans
    only the codes artifact (integers, ~3 % of raw bytes), so per-batch
    cost stays O(batch + codes-scan), with no shuffle of the existing
    corpus.

    Quality caveat inherited from train-then-add: codebooks reflect the
    FIRST batch's distribution; retrain by rebuilding at a new path when
    drift accumulates.
    """
    from activecampaign_api_data_pipeline_spark.operators import ann_index as AIX

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if _built(spark, path, AIX.load_ann_params) is None:
            AIX.build_ann_index(batch_df, path, **(build_params or {}))
            return
        _append_unseen(batch_df, path, "codes", id_col, id_col, AIX.append_ann_index)
        # small-file maintenance: one file set lands per batch forever;
        # stats-probe is a cheap listStatus when healthy
        for artifact in ("cells", "codes"):
            compact_artifact(spark, f"{path}/{artifact}")

    return _start(stream, _sink, checkpoint)


def packed_shards_sink_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    budget: int = 256,
    n_shards: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    salt: str = "pack",
) -> None:
    """One micro-batch of continuous sequence packing: pack the batch's
    documents CONTINUING each shard's token stream where the previous
    batches left off, so sequence numbering is seamless across the whole
    ingest history — the streaming form of
    :func:`~...operators.curation.pack_sequences`.

    State is ``{path}/offsets``: per (shard, batch_id) the shard's
    cumulative token count AFTER that batch, partitioned by batch_id.
    Reading the bases for batch b filters ``batch_id < b`` and takes each
    shard's latest row — so a replayed batch (its own partition possibly
    half-written by a crashed attempt) reconstructs exactly the pre-batch
    state, and both its output partition and its state partition are
    batch partitions (module docstring, "Sink frame"): exactly-once end
    to end. State size is
    O(shards × batches) longs; output cost per batch is one shard
    shuffle of (id, n_tokens) — text never moves, the corpus is never
    re-read.
    """
    from activecampaign_api_data_pipeline_spark.operators.curation import pack_sequences

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    state_path, out_path = f"{path}/offsets", f"{path}/packed"
    base = None
    if path_exists(spark, state_path):
        st = spark.read.parquet(state_path).filter(F.col("batch_id") < F.lit(batch_id))
        wl = Window.partitionBy("shard").orderBy(F.col("batch_id").desc())
        base = (
            st.withColumn("_rn", F.row_number().over(wl))
            .filter(F.col("_rn") == 1)
            .select("shard", F.col("next_off").alias("base"))
        )
    docs = batch_df.select(id_col, tokens_col)
    packed = pack_sequences(
        docs, budget=budget, n_shards=n_shards, id_col=id_col,
        token_count_col=tokens_col, salt=salt, base_offsets=base,
    )
    write_batch_partition(packed, batch_id, out_path)
    shard = F.pmod(
        hash60(F.concat_ws("||", F.lit(salt), F.col(id_col).cast("string"))),
        F.lit(n_shards),
    ).alias("shard")
    totals = (
        batch_df.select(shard, F.col(tokens_col).cast("long").alias("_t"))
        .groupBy("shard")
        .agg(F.sum("_t").alias("_batch_tokens"))
    )
    if base is not None:
        totals = totals.join(F.broadcast(base), "shard", "left").withColumn(
            "_batch_tokens", F.col("_batch_tokens") + F.coalesce(F.col("base"), F.lit(0))
        ).drop("base")
    write_batch_partition(
        totals.select("shard", F.col("_batch_tokens").alias("next_off")),
        batch_id,
        state_path,
    )


def stream_into_packed_shards(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    budget: int = 256,
    n_shards: int = 8,
    **pack_kw,
):
    """Continuous training-sequence packing under foreachBatch: each
    micro-batch of (doc_id, n_tokens) extends the per-shard token
    streams (:func:`packed_shards_sink_batch`). Completes the streaming
    curation path: gate/mixture are stateless per-row (plain
    transformations on the stream); packing is the one stateful step and
    its state is a parquet artifact, not engine state — replayable,
    inspectable, compactable."""
    sink = partial(
        packed_shards_sink_batch, path=path, budget=budget, n_shards=n_shards, **pack_kw
    )
    return _start(stream, sink, checkpoint)


def stream_decontaminate(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    flags_out: str,
    threshold: float = 0.5,
):
    """Continuous decontamination gate: every micro-batch of training
    documents is checked against the persisted eval-set store
    (:func:`~...operators.dedup.incremental_decontaminate` — build it
    once with ``decontam_store_build``) and flagged pairs land under
    ``flags_out`` as batch partitions (module docstring, "Sink frame");
    the check itself is read-only against the
    store. Per (train, test) pair the containment depends only on that
    train doc and the frozen store, so the union of per-batch flags
    equals the one-shot batch check — arrival order never matters."""
    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        incremental_decontaminate,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        flags = incremental_decontaminate(batch_df, path, threshold=threshold)
        write_batch_partition(flags, batch_id, flags_out)

    return _start(stream, _sink, checkpoint)


def minhash_sink_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    pairs_out: str,
    threshold: float = 0.5,
    **minhash_kw,
) -> None:
    """One micro-batch of the continuous-dedup sink, exposed at module
    level so the replay contract is directly testable: running the same
    (batch_df, batch_id) twice must leave store and pairs_out exactly as
    one run would.

    Exactly-once mechanics: the pairs output is a batch partition (module
    docstring, "Sink frame"); the store append is
    replay-safe by its id anti-join; the pair computation itself is
    deterministic given (batch, store) and the store only gains the
    batch's own docs between the two runs — which the anti-join excludes
    from the "stored" side — so the replayed pairs are identical.
    """
    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_store_append,
    )

    if batch_df.isEmpty():
        return
    pairs = incremental_minhash_pairs(batch_df, path, threshold=threshold, **minhash_kw)
    write_batch_partition(pairs, batch_id, pairs_out)
    minhash_store_append(batch_df, path, **minhash_kw)
    # small-file maintenance (cheap listStatus probe when healthy).
    # pairs_out is batch_id-partitioned for idempotent replay, so only
    # the flat store artifacts are compacted here.
    spark = batch_df.sparkSession
    for artifact in ("sigs", "bands"):
        compact_artifact(spark, f"{path}/{artifact}")


def stream_into_minhash_store(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    pairs_out: str,
    threshold: float = 0.5,
    **minhash_kw,
):
    """Continuous corpus dedup: each micro-batch of documents is
    near-dup-checked against the persisted signature store
    (:func:`~...operators.dedup.incremental_minhash_pairs` — pairs land
    as parquet under ``pairs_out``), then folded into the store
    (:func:`~...operators.dedup.minhash_store_append`, replay-safe by
    its id anti-join). Per batch: O(batch + band collisions), the corpus
    text is never rescanned. Completes the persisted-artifact streaming
    set: medallion store, KMV sketches, ANN index, signature store.
    """
    sink = partial(
        minhash_sink_batch, path=path, pairs_out=pairs_out, threshold=threshold,
        **minhash_kw,
    )
    return _start(stream, sink, checkpoint)


def block_sink_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    clean_out: str,
    block_words: int = 3,
) -> None:
    """One micro-batch of continuous passage-level dedup, module-level so
    the replay contract is directly testable (same shape as
    :func:`minhash_sink_batch`): cleaned documents land under
    ``clean_out`` as a batch partition (module docstring, "Sink frame"),
    then
    the batch's surviving block hashes fold into the store. The clean
    step is deterministic given (batch, store-minus-batch-ids), and the
    store append is replay-safe by its doc-id anti-join, so replays are
    byte-identical.
    """
    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        _batch_firsts,
        block_store_append,
        incremental_block_dedup,
    )

    if batch_df.isEmpty():
        return
    # one explode+window per batch, shared by the clean and the append
    # (localCheckpoint so neither consumer recomputes it)
    firsts = _batch_firsts(batch_df, "doc_id", "text", block_words).localCheckpoint(
        eager=True
    )
    cleaned = incremental_block_dedup(
        batch_df, path, block_words=block_words, firsts=firsts
    )
    write_batch_partition(cleaned, batch_id, clean_out)
    block_store_append(batch_df, path, block_words=block_words, firsts=firsts)
    spark = batch_df.sparkSession
    for artifact in ("blocks", "docs"):
        compact_artifact(spark, f"{path}/{artifact}")


def stream_into_block_store(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    clean_out: str,
    block_words: int = 3,
):
    """Continuous CCNet-style passage dedup: every micro-batch of
    documents is cleaned against the persisted block-hash store
    (within-batch firsts + store anti-join, O(batch + one store scan)),
    written exactly-once, and folded into the store. The corpus text is
    never rescanned; the store grows by DISTINCT corpus blocks only.
    """
    sink = partial(block_sink_batch, path=path, clean_out=clean_out, block_words=block_words)
    return _start(stream, sink, checkpoint)


def importance_sink_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    scored_out: str,
    target_pred,
    n_buckets: int = 128,
    salt: str = "dsir",
) -> None:
    """One micro-batch of continuous DSIR importance scoring: FOLD the
    batch's bucket counts into the persisted state first (a batch
    partition, module docstring "Sink frame"), then score the batch's
    raw docs against the ACCUMULATED state including itself. Fold-first
    makes replay deterministic: the replayed fold rewrites the same
    partition, so the replayed scoring sees the identical state. Weights
    evolve as corpus accumulates — scores are per-batch snapshots, the
    final selection pass re-scores against the converged state via
    ``importance_weights_from_state``.
    """
    from activecampaign_api_data_pipeline_spark.operators.curation import (
        importance_state_fold,
        importance_weights_from_state,
    )

    if batch_df.isEmpty():
        return
    importance_state_fold(
        batch_df, path, target_pred, batch_id, n_buckets=n_buckets, salt=salt
    )
    scored = importance_weights_from_state(
        batch_df, path, target_pred, n_buckets=n_buckets, salt=salt
    )
    write_batch_partition(scored, batch_id, scored_out)
    # No compaction here: the state under {path}/partials is PARTITIONED
    # by batch_id, and that layout IS the replay contract — a replayed
    # fold dynamically overwrites its own partition. Flattening it would
    # turn a replay into an append (double counting). Growth is bounded
    # anyway: each partition holds ≤ n_buckets tiny rows in one file.


def stream_importance_state(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    scored_out: str,
    target_pred,
    n_buckets: int = 128,
    salt: str = "dsir",
):
    """Continuous DSIR state accumulation + per-batch scoring: the
    persisted state is <= ``n_buckets`` rows per batch_id partition (one
    file each — the partitioned layout is the replay contract, so it is
    deliberately NOT compacted), keeping the streaming side at KILOBYTES
    of state regardless of corpus size — the extreme end of the repo's
    persisted-artifact set (medallion, KMV, ANN, MinHash, blocks)."""
    sink = partial(
        importance_sink_batch, path=path, scored_out=scored_out,
        target_pred=target_pred, n_buckets=n_buckets, salt=salt,
    )
    return _start(stream, sink, checkpoint)


def stream_into_sq8_index(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "vec_id",
):
    """Continuous embedding ingest into the persisted SQ8 index — the
    :func:`stream_into_ann_index` contract applied to the scalar-
    quantization codec: the first micro-batch CALIBRATES and builds at
    ``path`` (:func:`~...operators.ann_index.build_sq8_index`); every
    later batch encodes against the FROZEN per-dim stats
    (:func:`append_sq8_index` — O(batch), out-of-range components clamp
    to the [0,255] edges, never a recalibration).

    Exactly-once: the built probe and the id anti-join of the sink frame
    (module docstring), against the ids in ``codes``. The probe scans
    only the code arrays (~4x smaller than raw floats).
    ``compact_artifact`` bounds the one-file-set-per-batch growth exactly
    as for the IVF-PQ artifacts.

    Calibration caveat (the SQ8 analogue of train-then-add): stats
    reflect the FIRST batch's ranges; sustained drift outside them
    saturates codes at the edges — rebuild at a new path to recalibrate.
    """
    from activecampaign_api_data_pipeline_spark.operators import ann_index as AIX

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if _built(spark, path, AIX.load_sq8_params) is None:
            AIX.build_sq8_index(batch_df, path)
            return
        _append_unseen(batch_df, path, "codes", id_col, id_col, AIX.append_sq8_index)
        compact_artifact(spark, f"{path}/codes")

    return _start(stream, _sink, checkpoint)


def stream_into_text_index(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "doc_id",
):
    """Continuous document ingest into the persisted inverted text index
    — the :func:`stream_into_sq8_index` contract applied to the text
    modality: the first micro-batch BUILDS at ``path``
    (:func:`~...operators.text_index.build_text_index` — its docs define
    the frozen ``n_docs``/``avgdl`` normalization), every later batch
    appends postings + lengths against the frozen stats
    (:func:`append_text_index` — O(batch), never a corpus rescan or a
    silent re-score).

    Exactly-once: the built probe and the id anti-join of the sink frame
    (module docstring), against the ids in ``doclen`` (EVERY indexed doc
    has a doclen row, including empty ones — postings would miss
    token-less docs). ``compact_artifact`` bounds the
    one-file-set-per-batch growth on both per-doc artifacts.

    Normalization caveat (the text analogue of calibrate-then-add):
    avgdl reflects the FIRST batch's length distribution; sustained
    drift skews the BM25 length penalty — rebuild at a new path to
    re-freeze, exactly like the SQ8 stats.
    """
    from activecampaign_api_data_pipeline_spark.operators import text_index as TIX

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        p = _built(spark, path, TIX.load_text_params)
        if p is None:
            TIX.build_text_index(batch_df, path)
            return
        _append_unseen(batch_df, path, "doclen", "doc_id", id_col, TIX.append_text_index)
        # postings are term-hash-bucketed hive partitions (r13): the blind
        # coalescer would flatten the tokb layout, so maintenance goes
        # through the layout-aware compactor, gated on the same cheap
        # metadata probe (recursive part-file count; appends land one file
        # per TOUCHED bucket, so steady state is tok_buckets files)
        if TIX.postings_file_count(spark, path) > 3 * max(1, p.tok_buckets):
            # a legacy flat store (tok_buckets == 0) upgrades to the
            # default bucket count here
            TIX.compact_text_index(spark, path, tok_buckets=p.tok_buckets or 16)
        else:
            compact_artifact(spark, f"{path}/doclen")

    return _start(stream, _sink, checkpoint)


def stream_into_matview(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    measure: str,
):
    """Continuously maintained materialized aggregate — the
    :func:`stream_into_text_index` contract applied to QUERY RESULTS
    instead of indexes (``operators/matview.py``): the first micro-batch
    BUILDS the view from its own partial aggregates; every later batch
    folds in O(batch) partials, never rescanning history.

    Exactly-once: the view's replay guard is the BATCH KEY
    (:func:`_guarded_view_sink`, module docstring "Sink frame"). This is
    the guard additive state needs: content-hash dedup cannot save a
    double-applied SUM. ``measure`` may be a single column name (legacy
    layout) or a measure-SPEC list (multi-measure / avg / HLL view); the
    append path dispatches on the frozen params either way.
    """
    from activecampaign_api_data_pipeline_spark.operators import matview as MV

    build = MV.build_matview if isinstance(measure, str) else MV.build_matview_multi
    sink = _guarded_view_sink(
        path,
        lambda df, key: build(df, path, key_cols, measure, batch_key=key),
        MV.append_matview,
    )
    return _start(stream, sink, checkpoint)


def stream_into_hll_view(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    col: str,
    lg_k: int = 12,
):
    """Continuously maintained approximate-distinct view — the
    :func:`stream_into_matview` contract with HLL sketch partials
    (``operators/hll_store.py``): the first micro-batch builds, every
    later batch folds an O(batch) per-key sketch in; register-max merge
    makes the folded state exactly the sketch of the union.

    Exactly-once: the batch-key replay guard of the matview sink —
    max-merge registers are idempotent anyway, but the guard keeps the
    ``applied`` ledger truthful for compaction."""
    from activecampaign_api_data_pipeline_spark.operators import hll_store as HS

    sink = _guarded_view_sink(
        path,
        lambda df, key: HS.build_hll_view(
            df, path, key_cols, col, lg_k=lg_k, batch_key=key
        ),
        HS.append_hll_view,
    )
    return _start(stream, sink, checkpoint)


def stream_into_join_view(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    a_cols: list[str],
    b_cols: list[str],
    side_col: str = "side",
):
    """Continuously maintained JOIN view from ONE interleaved changelog
    stream (``operators/matview_join.py``): each micro-batch may carry
    rows of BOTH sides, tagged by ``side_col``; the sink routes the
    a-rows first, then the b-rows, so pairs co-arriving in one batch are
    counted exactly once (the b-append's delta joins a-history that
    already includes the co-arrived a-rows; the a-append's delta joined
    b-history that did not yet).

    Exactly-once: side-qualified batch keys (``a:batch_N``/``b:batch_N``)
    ride the join-view's replay guard — a replayed micro-batch rewrites
    its idempotent history partitions and skips the fold. The guard is
    read once per run, as in :func:`_guarded_view_sink`. The view must
    be declared (``create_join_view``) before the stream starts; the
    schema contract is the declared params, not batch inference.
    """
    from activecampaign_api_data_pipeline_spark.operators.matview_join import (
        append_join_side,
        applied_keys,
    )

    applied: set[str] | None = None

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal applied
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if applied is None:
            applied = applied_keys(spark, path)
        a = batch_df.filter(F.col(side_col) == "a").select(*a_cols)
        b = batch_df.filter(F.col(side_col) == "b").select(*b_cols)
        for side, rows in (("a", a), ("b", b)):
            key = f"{side}:batch_{batch_id:08d}"
            if key in applied or rows.isEmpty():
                continue
            append_join_side(
                rows, path, side, f"batch_{batch_id:08d}", skip_applied_check=True
            )
            applied.add(key)

    return _start(stream, _sink, checkpoint)


def stream_running_totals(
    stream: DataFrame,
    sink: str,
    checkpoint: str,
    key_col: str = "user_id",
    cents_col: str = "cents",
):
    """Custom ARBITRARY-STATEFUL operator via ``applyInPandasWithState``
    — the escape hatch for semantics Spark's built-in stateful ops can't
    express (running per-key accumulators with app-defined emission).
    State = ``(n, s)`` per key, folded over Arrow record batches (never
    row-at-a-time); every micro-batch emits the UPDATED cumulative total
    for each key it touched, stamped with the batch id by the foreachBatch
    sink.

    Determinism contract: addition over integers is order- and
    batch-split-invariant, so the LAST emission per key equals the
    one-shot ``groupBy(key).agg(count, sum)`` no matter how the stream
    was micro-batched — which is exactly how the oracle checks it. Keep
    the folded column integer (pre-scale to cents upstream); float state
    would make emissions depend on fold order.

    At 100 TB: state is two longs per key sharded across executors by the
    group key; each batch shuffles only its own rows. The sink writes
    batch partitions (module docstring, "Sink frame").
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key_col} long, n_events long, sum_cents long"
    state_schema = "n long, s long"

    def _fold(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += int(pdf[cents_col].sum()) if len(pdf) else 0
        state.update((n, s))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "sum_cents": [s]}
        )

    folded = stream.groupBy(key_col).applyInPandasWithState(
        _fold, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return _start(folded, partial(write_batch_partition, path=sink), checkpoint)
