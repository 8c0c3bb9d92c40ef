"""Custom stateful streaming operators (``applyInPandasWithState``).

What Structured Streaming's built-in windows can't express — arbitrary
per-key running state across micro-batches — goes through the Arrow-batched
state API. State lives in the state store (RocksDB-backed at scale), keyed
by the group column; each micro-batch hands the operator its key's rows as
pandas frames plus the persisted state.

The reference has no streaming at all; its nearest concept is the per-run
append of per-contact aggregates. :func:`running_user_stats` is that
aggregate maintained CONTINUOUSLY: per-user event count, value sum, and
last-seen event time, emitted on every batch the user appears in.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from activecampaign_api_data_pipeline_spark.streaming.incremental import (
    _start,
    write_batch_partition,
)


@contextmanager
def scoped_state_partitions(spark, n: int):
    """Scope ``spark.sql.shuffle.partitions`` around one micro-batch
    streaming run (fresh-checkpoint queries only: the state partition
    count is FROZEN from this conf at the stream's first batch).

    Per-trigger cost scales with the state partition count, not the
    data: every state partition pays a state-store open/delta-commit
    (many small checkpoint files + fsyncs) and, for
    ``applyInPandasWithState``, an Arrow python worker. Measured on
    ``t_stream_debounce`` at sf0.1 (3 triggers): 32 partitions read
    9.1-36.3 s per call depending on host state; 8 partitions a stable
    4.9-5.7 s — identical results, since state is keyed and the
    partition count only shards it. A trivial 3-batch stateful stream
    isolates the same effect: ~1.0 s stateless, 5-10 s stateful at 32
    partitions, ~1.3 s at 1 (bench.py's stream canary).

    At 100 TB the SAME knob goes up with keyed batch volume (RocksDB
    state store, one instance per partition, sized so each holds a
    memory-resident working set); the design point is that state
    partitioning must track the keyed data volume, not the session's
    shuffle default."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def drain_scoped(spark, start, n: int = 8, timeout: int = 300):
    """Start a micro-batch stream under :func:`scoped_state_partitions`
    and drain it loudly (the r10-verdict assert discipline — a stalled
    stream raises instead of silently reading a partial sink).

    ``start`` is a zero-arg callable returning the STARTED
    ``StreamingQuery`` — deferred so the state-partition scope is
    active from query planning through the last trigger. The r12
    streaming-family touch routes every fresh-checkpoint bench stream
    through here: per-trigger setup cost (state-store open/commit per
    state partition, an Arrow worker per ``applyInPandasWithState``
    partition, 32-task shuffles inside foreachBatch plans) scales with
    the partition count, and 8 matches these queries' micro-batch
    volumes where the session's 32 is pure overhead. Results are
    pinned by each query's oracle; partition count only shards state."""
    with scoped_state_partitions(spark, n):
        q = start()
        assert q.awaitTermination(timeout), f"{q.name} did not drain in {timeout}s"
        return q

OUT_SCHEMA = "user_id long, n_events long, total_value double, last_ts string"
STATE_SCHEMA = "n long, total double, last_ts string"


def _update_user_stats(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total, last_ts = state.get
    else:
        n, total, last_ts = 0, 0.0, ""
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
        batch_max = pdf["ts"].astype(str).max()
        last_ts = max(last_ts, batch_max)
    state.update((n, total, last_ts))
    yield pd.DataFrame(
        [{"user_id": user_id, "n_events": n, "total_value": total, "last_ts": last_ts}]
    )


def running_user_stats(stream: DataFrame) -> DataFrame:
    """Per-user running (count, sum, last event time) across micro-batches."""
    return (
        stream.select("user_id", "value", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


ANOM_OUT_SCHEMA = (
    "user_id long, n_new long, n_flagged long, first_flag_event long"
)
ANOM_STATE_SCHEMA = "es array<long>, eid array<long>, cents array<long>"
_ANOM_WINDOW = 10
_ANOM_MIN_N = 5


def _update_trailing_anomaly(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key trailing-window z-spike detector (the streaming twin of
    ``staged_r7.w_anomaly_trailing_z``): state is the key's last ≤10
    (es, event_id, cents) observations; each batch's rows are sorted by
    event time, scored against the concatenated history with the same
    cleared-denominator integer rule the batch query uses
    ((n·x−s)² > 9·(n·q−s²), n ≥ 5), and the state window slides on.

    Correctness depends on the STREAM delivering batches in event-time
    order (the harness time-slices the source); within a batch any
    arrival order is fine — the kernel sorts. All arithmetic is int64
    (bounded as in the batch query), so flags are bit-identical to the
    batch plan's.
    """
    import numpy as np

    (user_id,) = key
    if state.exists:
        p_es, p_eid, p_cents = (list(x) for x in state.get)
    else:
        p_es, p_eid, p_cents = [], [], []
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        rows = pd.concat(frames, ignore_index=True).sort_values(
            ["es", "event_id"]
        )
        es = p_es + rows["es"].tolist()
        eid = p_eid + rows["event_id"].tolist()
        cents = p_cents + rows["cents"].tolist()
    else:
        es, eid, cents = p_es, p_eid, p_cents
    k = len(p_es)
    c = np.asarray(cents, dtype=np.int64)
    cum = np.concatenate([[0], np.cumsum(c)])
    cumq = np.concatenate([[0], np.cumsum(c * c)])
    idx = np.arange(len(c))
    lo = np.maximum(0, idx - _ANOM_WINDOW)
    n = idx - lo
    s = cum[idx] - cum[lo]
    q = cumq[idx] - cumq[lo]
    flag = (n >= _ANOM_MIN_N) & (
        (n * c - s) * (n * c - s) > 9 * (n * q - s * s)
    )
    new_flags = flag[k:]
    first = None
    if new_flags.any():
        # min event_id among NEWLY flagged events — the batch oracle
        # (w_anomaly_trailing_z) takes min(event_id) over flagged rows,
        # so picking the chronologically-first flag instead would only
        # agree when ids happen to be monotone with (es, event_id) order
        first = int(min(np.asarray(eid[k:], dtype=np.int64)[new_flags]))
    state.update((es[-_ANOM_WINDOW:], eid[-_ANOM_WINDOW:], cents[-_ANOM_WINDOW:]))
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n_new": int(len(new_flags)),
                "n_flagged": int(new_flags.sum()),
                "first_flag_event": first,
            }
        ]
    )


def stream_trailing_anomaly(stream: DataFrame, sink: str, checkpoint: str):
    """Continuous trailing-z anomaly monitor: bounded per-key state (10
    observations), Arrow-batched scoring, batch-partition sink
    (``streaming.incremental`` module docstring, "Sink frame").
    At 100 TB state is ~30 longs per key in the state store; each batch
    shuffles only its own rows on the key."""
    scored = stream.groupBy("user_id").applyInPandasWithState(
        _update_trailing_anomaly,
        ANOM_OUT_SCHEMA,
        ANOM_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return _start(scored, partial(write_batch_partition, path=sink), checkpoint)


PAT_OUT_SCHEMA = "user_id long, n_matches long, first_match_event long"
PAT_STATE_SCHEMA = "es array<long>, eid array<long>, et array<string>"
_PATTERN = ("view", "click", "purchase")


def _update_pattern_match(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Cross-batch CEP kernel (streaming twin of
    ``staged_r8.w_pattern_match``): state is the key's last ≤2
    (es, event_id, event_type) observations — the lookahead buffer a
    strictly-consecutive 3-event pattern needs at a batch boundary.
    Each batch's rows sort by event time, concatenate after the carried
    buffer, and every triple whose THIRD element is a new row is
    scanned — triples completed in earlier batches had their third
    element there, so the new/old split is disjoint and nothing double
    counts. Requires event-time-ordered batch delivery (the
    ``t_stream_anomaly`` harness contract); within a batch any arrival
    order is fine.
    """
    (user_id,) = key
    if state.exists:
        p_es, p_eid, p_et = (list(x) for x in state.get)
    else:
        p_es, p_eid, p_et = [], [], []
    k = len(p_es)
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        rows = pd.concat(frames, ignore_index=True).sort_values(["es", "event_id"])
        es = p_es + rows["es"].tolist()
        eid = p_eid + rows["event_id"].tolist()
        et = p_et + rows["event_type"].tolist()
    else:
        es, eid, et = p_es, p_eid, p_et
    import numpy as np

    first = None
    n = 0
    if len(es) >= 3:
        a = np.asarray(et, dtype=object)
        m = (
            (a[:-2] == _PATTERN[0])
            & (a[1:-1] == _PATTERN[1])
            & (a[2:] == _PATTERN[2])
        )
        idx = np.nonzero(m)[0]
        idx = idx[idx + 2 >= k]  # triples completed in THIS batch only
        n = int(len(idx))
        if n:
            first = int(np.asarray(eid, dtype=np.int64)[idx].min())
    state.update((es[-2:], eid[-2:], et[-2:]))
    yield pd.DataFrame(
        [{"user_id": user_id, "n_matches": n, "first_match_event": first}]
    )


def stream_pattern_match(stream: DataFrame, sink: str, checkpoint: str):
    """Continuous event-sequence CEP: bounded per-key state (2 rows of
    lookahead in the state store), Arrow-batched scanning, batch-
    partition sink ("Sink frame"). At 100 TB the state is 3 scalars x 2
    per key and each batch shuffles only its own rows on the key — the
    Flink-CEP shape on Structured Streaming."""
    scored = stream.groupBy("user_id").applyInPandasWithState(
        _update_pattern_match,
        PAT_OUT_SCHEMA,
        PAT_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return _start(scored, partial(write_batch_partition, path=sink), checkpoint)


DEB_OUT_SCHEMA = "user_id long, n_new long, n_kept long"
DEB_STATE_SCHEMA = "les long, let string"


def _make_debounce_update(gap_s: int):
    def _update_debounce(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Cross-batch debounce kernel (streaming twin of
        ``staged_r9.t_debounce_events``): state is ONE row — the key's
        last RAW event's (es, event_type) — the minimum any debounce
        can carry. Each batch's rows sort by event time, every row is
        compared to its predecessor (the carried state for the first
        row), and repeats of the same type within ``gap_s`` are
        dropped. Comparison is against the previous RAW event exactly
        like the batch lag plan, so kept counts are bit-identical
        however the stream was sliced (requires event-time-ordered
        batch delivery, the harness contract)."""
        (user_id,) = key
        last_es, last_et = state.get if state.exists else (None, None)
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            return
        rows = pd.concat(frames, ignore_index=True).sort_values(["es", "event_id"])
        es = rows["es"].tolist()
        et = rows["event_type"].tolist()
        prev_es = [last_es] + es[:-1]
        prev_et = [last_et] + et[:-1]
        kept = sum(
            1
            for i in range(len(es))
            if prev_et[i] is None
            or et[i] != prev_et[i]
            or es[i] - prev_es[i] > gap_s
        )
        state.update((int(es[-1]), str(et[-1])))
        yield pd.DataFrame(
            [{"user_id": user_id, "n_new": len(es), "n_kept": kept}]
        )

    return _update_debounce


def stream_debounce(stream: DataFrame, sink: str, checkpoint: str, gap_s: int = 3600):
    """Continuous telemetry debounce: 1-row per-key state (last raw
    (es, type)), Arrow-batched comparison, batch-partition sink
    ("Sink frame"). At 100 TB the state store holds one long and one
    short string per key and each batch shuffles only its own rows on
    the key — the cheapest stateful cleaner there is."""
    scored = stream.groupBy("user_id").applyInPandasWithState(
        _make_debounce_update(gap_s),
        DEB_OUT_SCHEMA,
        DEB_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return _start(scored, partial(write_batch_partition, path=sink), checkpoint)
