"""Streaming/incremental semantics: watermark cursor, windows, late data,
micro-batch medallion ingest."""

import pytest
from pyspark.sql import functions as F

from activecampaign_api_data_pipeline_spark.storage import TableStore
from activecampaign_api_data_pipeline_spark.streaming import (
    incremental_batch,
    session_rollup,
    stream_dedup,
    stream_into_store,
    windowed_counts,
)

EV_SCHEMA = "id long, ts timestamp, user_id long, kind string, value double"


def _batch(spark, rows):
    return spark.createDataFrame(rows, EV_SCHEMA).withColumn("ts", F.col("ts"))


def _rows(spark, *data):
    import datetime as dt

    def t(s):
        return dt.datetime.fromisoformat(s)

    return spark.createDataFrame(
        [(i, t(ts), u, k, v) for (i, ts, u, k, v) in data], EV_SCHEMA
    )


# ---------------------------------------------------------------- T1 cursor

def test_incremental_batch_cursor_advances_and_filters(spark):
    df = _rows(
        spark,
        (1, "2020-01-01 00:00:00", 1, "a", 1.0),
        (2, "2020-01-01 01:00:00", 1, "a", 1.0),
        (5, "2020-01-01 02:00:00", 2, "b", 1.0),
    )
    seen = []
    state = incremental_batch(df, "id", {}, lambda d: seen.append(d.count()))
    assert state["max_id"] == 5 and seen == [3]
    # second run over the same table: nothing above the watermark
    state2 = incremental_batch(df, "id", state, lambda d: seen.append(d.count()))
    assert seen[-1] == 0
    assert state2["max_id"] == 5  # unchanged on empty delta


def test_incremental_batch_only_new_ids(spark):
    df = _rows(
        spark,
        (1, "2020-01-01 00:00:00", 1, "a", 1.0),
        (9, "2020-01-01 01:00:00", 1, "a", 1.0),
    )
    got = []
    incremental_batch(df, "id", {"max_id": 1}, lambda d: got.extend(r["id"] for r in d.collect()))
    assert got == [9]


# ----------------------------------------------------- streaming micro-batch

@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    return d


def _write_batch(df, stream_dir, batch_no):
    """Append a parquet batch and stamp STRICTLY increasing mtimes: the file
    stream source orders files by modification time, and sub-second writes
    can tie — which would let the watermark-advancing batch run first and
    drop earlier event-time rows as late (flaky emissions)."""
    import glob
    import os

    # ONE part file per batch: a multi-partition write emits several part
    # files sharing one mtime, and their arbitrary tie order can process a
    # watermark-advancing row before its same-batch earlier-event rows.
    df.coalesce(1).write.mode("append").parquet(str(stream_dir))
    base = 1_600_000_000 + batch_no * 60
    for f in glob.glob(f"{stream_dir}/*.parquet"):
        if os.stat(f).st_mtime < 1_700_000_000:
            continue  # already stamped by an earlier batch
        os.utime(f, (base, base))


def _start_stream(spark, stream_dir):
    return (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )


def _run_available(q_builder, out_name):
    q = q_builder.format("memory").queryName(out_name).outputMode("append").trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    return q


def test_windowed_counts_stream_matches_batch(spark, stream_dir, tmp_path):
    # Three files -> three micro-batches (maxFilesPerTrigger=1). Append mode
    # emits a window during the batch AFTER the watermark passes its end:
    # batch2 moves the watermark to 02:10, batch3 triggers the emission.
    _write_batch(_rows(
        spark,
        (1, "2020-01-01 00:10:00", 1, "click", 2.0),
        (2, "2020-01-01 00:50:00", 1, "click", 3.0),
        (3, "2020-01-01 01:10:00", 2, "buy", 5.0),
    ), stream_dir, 0)
    _write_batch(_rows(spark, (4, "2020-01-01 03:10:00", 2, "buy", 1.0)), stream_dir, 1)
    _write_batch(_rows(spark, (5, "2020-01-01 10:00:00", 3, "noise", 0.0)), stream_dir, 2)
    stream = _start_stream(spark, stream_dir)
    agg = windowed_counts(stream, ts_col="ts", window="1 hour", watermark="1 hour",
                          group_cols=["kind"])
    _run_available(agg.writeStream, "win_out")
    got = {
        (r["window_start"], r["kind"]): (r["n"], r["total_value"])
        for r in spark.sql("select * from win_out").collect()
    }
    # append mode emits only watermark-closed windows; hour 00 and 01 closed by row 4
    assert got[("2020-01-01 00:00:00", "click")] == (2, 5.0)
    assert got[("2020-01-01 01:00:00", "buy")] == (1, 5.0)


def test_late_row_beyond_watermark_dropped(spark, stream_dir):
    _write_batch(_rows(
        spark,
        (1, "2020-01-01 00:10:00", 1, "click", 1.0),
        (2, "2020-01-01 06:00:00", 1, "click", 1.0),
    ), stream_dir, 0)
    # the late-input filter uses the watermark committed by the PREVIOUS
    # batch (one-batch lag), so the late row must arrive two batches after
    # the watermark-advancing row to be observably dropped
    _write_batch(_rows(spark, (4, "2020-01-01 07:00:00", 1, "click", 1.0)), stream_dir, 1)
    _write_batch(_rows(spark, (3, "2020-01-01 00:20:00", 1, "click", 1.0)), stream_dir, 2)
    stream = _start_stream(spark, stream_dir)  # maxFilesPerTrigger=1 -> 3 batches
    agg = windowed_counts(stream, ts_col="ts", window="1 hour", watermark="1 hour",
                          group_cols=["kind"])
    _run_available(agg.writeStream, "late_out")
    got = {r["window_start"]: r["n"] for r in spark.sql("select * from late_out").collect()}
    # hour-00 window was closed (and emitted) before the late row arrived
    assert got.get("2020-01-01 00:00:00") == 1


def test_session_rollup(spark, stream_dir):
    _write_batch(_rows(
        spark,
        (1, "2020-01-01 00:00:00", 7, "a", 1.0),
        (2, "2020-01-01 00:10:00", 7, "a", 1.0),  # same session (gap 30m)
        (3, "2020-01-01 02:00:00", 7, "a", 1.0),  # new session
    ), stream_dir, 0)
    # second batch moves the watermark to 08:00, third triggers emission
    _write_batch(_rows(spark, (4, "2020-01-01 09:00:00", 8, "a", 1.0)), stream_dir, 1)
    _write_batch(_rows(spark, (5, "2020-01-01 20:00:00", 9, "a", 1.0)), stream_dir, 2)
    stream = _start_stream(spark, stream_dir)
    agg = session_rollup(stream, ts_col="ts", gap="30 minutes", watermark="1 hour")
    _run_available(agg.writeStream, "sess_out")
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("select * from sess_out").collect()
    }
    assert got[(7, "2020-01-01 00:00:00")] == 2
    assert got[(7, "2020-01-01 02:00:00")] == 1


def test_stream_dedup(spark, stream_dir):
    _write_batch(_rows(
        spark,
        (1, "2020-01-01 00:00:00", 1, "a", 1.0),
        (1, "2020-01-01 00:00:30", 1, "a", 1.0),  # same id within watermark
        (2, "2020-01-01 00:01:00", 1, "b", 1.0),
    ), stream_dir, 0)
    stream = _start_stream(spark, stream_dir)
    dd = stream_dedup(stream, ["id"], ts_col="ts", watermark="10 minutes")
    _run_available(dd.writeStream, "dd_out")
    assert spark.sql("select count(*) n from dd_out").collect()[0]["n"] == 2


def test_stream_into_store_micro_batch_medallion(spark, stream_dir, tmp_path):
    store = TableStore(spark, str(tmp_path / "lake"), n_buckets=4)
    # two files -> two micro-batches (maxFilesPerTrigger=1); batch 2 contains
    # a duplicate of batch 1's row and a newer version of user 1's row
    _write_batch(_rows(spark, (1, "2020-01-01 00:00:00", 1, "a", 1.0)), stream_dir, 0)
    _write_batch(_rows(
        spark,
        (1, "2020-01-01 00:00:00", 1, "a", 1.0),  # exact dup -> silver no-op
        (2, "2020-01-01 01:00:00", 1, "b", 2.0),
    ), stream_dir, 1)
    stream = _start_stream(spark, stream_dir)
    q = stream_into_store(
        stream, store, "events", key_cols=["user_id"],
        checkpoint=str(tmp_path / "ckpt"), updated_col="ts",
    )
    q.awaitTermination(120)
    silver = store.read("silver", "events")
    assert silver.count() == 2  # dup row appended once
    gold = {r["user_id"]: r["kind"] for r in store.read("gold", "events").collect()}
    assert gold == {1: "b"}  # latest version per key


def test_applyinpandaswithstate_running_stats(spark, stream_dir, tmp_path):
    """Custom stateful op: per-user totals accumulate across micro-batches."""
    from activecampaign_api_data_pipeline_spark.streaming.stateful import running_user_stats

    _write_batch(_rows(
        spark,
        (1, "2020-01-01 00:00:00", 7, "a", 1.5),
        (2, "2020-01-01 00:10:00", 7, "a", 2.5),
        (3, "2020-01-01 00:20:00", 8, "a", 10.0),
    ), stream_dir, 0)
    _write_batch(_rows(spark, (4, "2020-01-01 01:00:00", 7, "a", 4.0)), stream_dir, 1)

    emitted = []

    def sink(batch_df, batch_id):
        emitted.extend((batch_id, r["user_id"], r["n_events"], r["total_value"], r["last_ts"])
                       for r in batch_df.collect())

    stream = _start_stream(spark, stream_dir)
    q = (running_user_stats(stream)
         .writeStream.outputMode("update")
         .foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    final = {u: (n, t, ts) for (_b, u, n, t, ts) in emitted}
    assert final[7] == (3, 8.0, "2020-01-01 01:00:00")  # state crossed batches
    assert final[8] == (1, 10.0, "2020-01-01 00:20:00")
    # user 7 emitted twice (once per batch it appeared in), state accumulating
    user7 = [(n, t) for (_b, u, n, t, _ts) in emitted if u == 7]
    assert user7 == [(2, 4.0), (3, 8.0)]


def test_stream_interval_join_matches_batch(spark, stream_dir, tmp_path):
    """Purchases joined to the clicks that preceded them within 1h —
    streamed result must equal the same operator run on batch frames."""
    from activecampaign_api_data_pipeline_spark.streaming import stream_interval_join

    clicks = [
        (1, "2020-01-01 00:10:00", 1, "click", 0.0),
        (2, "2020-01-01 00:50:00", 1, "click", 0.0),
        (3, "2020-01-01 02:00:00", 1, "click", 0.0),  # too old for the buy
        (4, "2020-01-01 00:40:00", 2, "click", 0.0),
    ]
    buys = [
        (10, "2020-01-01 01:00:00", 1, "buy", 9.0),   # catches clicks 1, 2
        (11, "2020-01-01 04:00:00", 2, "buy", 5.0),   # catches nothing (4 too old)
    ]
    rdir = tmp_path / "right"
    rdir.mkdir()
    _write_batch(_rows(spark, *buys), stream_dir, 0)
    # advance both watermarks far enough to emit all joined rows
    _write_batch(_rows(spark, (99, "2020-01-01 23:00:00", 9, "buy", 0.0)), stream_dir, 1)
    _write_batch(_rows(spark, *clicks), rdir, 0)
    _write_batch(_rows(spark, (98, "2020-01-01 23:00:00", 9, "click", 0.0)), rdir, 1)

    lstream = _start_stream(spark, stream_dir).filter("kind = 'buy'")
    rstream = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(rdir))
        .filter("kind = 'click'")
    )
    joined = stream_interval_join(lstream, rstream, key="user_id", lookback="1 hour")
    _run_available(joined.writeStream.option("checkpointLocation", str(tmp_path / "ck")), "ssj_out")
    got = {(r["id"], r["r_id"]) for r in spark.sql("select * from ssj_out").collect()}

    lb = _rows(spark, *buys, (99, "2020-01-01 23:00:00", 9, "buy", 0.0)).filter("kind='buy'")
    rb = _rows(spark, *clicks, (98, "2020-01-01 23:00:00", 9, "click", 0.0)).filter("kind='click'")
    want = {(r["id"], r["r_id"])
            for r in stream_interval_join(lb, rb, key="user_id", lookback="1 hour").collect()}
    assert got == want
    # the 23:00 advancer rows (user 9, equal ts) legitimately join too
    assert got == {(10, 1), (10, 2), (99, 98)}


def test_stream_top_n_per_key_state_merges_across_batches(spark, stream_dir, tmp_path):
    """applyInPandasWithState top-N: per-key state must merge across
    micro-batches (later batches displace earlier rows), ties break by id
    ASC, and the latest update-mode emission per key equals the batch
    top_n_per_group over everything seen."""
    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_top_n_per_key,
    )

    import pyspark.sql.functions as F

    _write_batch(
        _rows(spark, (1, "2020-01-01 00:00:00", 1, "e", 5.0),
              (2, "2020-01-01 00:01:00", 1, "e", 3.0),
              (3, "2020-01-01 00:02:00", 1, "e", 1.0),
              (4, "2020-01-01 00:03:00", 2, "e", 7.0)),
        stream_dir, 0,
    )
    _write_batch(_rows(spark, (5, "2020-01-01 01:00:00", 1, "e", 4.0)), stream_dir, 1)
    _write_batch(
        _rows(spark, (6, "2020-01-01 02:00:00", 1, "e", 10.0),
              (7, "2020-01-01 02:01:00", 2, "e", 7.0)),
        stream_dir, 2,
    )
    sink = str(tmp_path / "out")
    q = (
        stream_top_n_per_key(
            _start_stream(spark, stream_dir),
            key_col="user_id", value_col="value", id_col="id", n=3,
        )
        .writeStream.foreachBatch(
            lambda bdf, bid: bdf.withColumn("_bid", F.lit(bid))
            .write.mode("append").parquet(sink)
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    final = (
        out.withColumn("_maxb", F.max("_bid").over(w))
        .filter("_bid = _maxb")
        .select("user_id", "id", "value", "rnk")
    )
    got = {(r["user_id"], r["id"], r["value"], r["rnk"]) for r in final.collect()}
    assert got == {
        (1, 6, 10.0, 1), (1, 1, 5.0, 2), (1, 5, 4.0, 3),  # 4.0 displaced 3.0, 10.0 entered late
        (2, 4, 7.0, 1), (2, 7, 7.0, 2),                    # equal values -> id ASC
    }
    # a key emits once per batch it appears in: user 1 in all three batches
    assert out.filter("user_id = 1").select("_bid").distinct().count() == 3


def test_stream_into_store_kmv_sidecar(spark, stream_dir, tmp_path):
    """Streaming ingest folds each micro-batch into the persisted KMV
    sketch; after the drain the estimate equals a batch-built sketch."""
    from activecampaign_api_data_pipeline_spark.operators.curation import kmv_state
    from activecampaign_api_data_pipeline_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "lake"), n_buckets=4)
    r1 = _rows(spark, (1, "2020-01-01 00:00:00", 1, "a", 1.0),
                      (2, "2020-01-01 00:01:00", 2, "b", 1.0))
    r2 = _rows(spark, (3, "2020-01-01 00:02:00", 1, "c", 1.0),
                      (4, "2020-01-01 00:03:00", 3, "a", 1.0))
    _write_batch(r1, stream_dir, 0)
    _write_batch(r2, stream_dir, 1)
    q = stream_into_store(
        _start_stream(spark, stream_dir), store, "events", key_cols=["id"],
        checkpoint=str(tmp_path / "ckpt"), updated_col="ts",
        kmv=("kind", ["user_id"]),
    )
    q.awaitTermination(120)
    got = {r["user_id"]: r["kmv"] for r in spark.read.parquet(store._kmv_path("events", "kind")).collect()}
    want = {r["user_id"]: r["kmv"] for r in kmv_state(r1.union(r2), "kind", ["user_id"]).collect()}
    assert got == want


def test_stream_into_ann_index_builds_then_appends(spark, tmp_path):
    """First micro-batch trains the index; later batches append-encode
    with frozen artifacts; the result is bit-identical to a manual
    build(batch1) + append(batch2) + append(batch3); a replayed batch is
    a no-op (anti-join on ids already coded)."""
    import random

    from activecampaign_api_data_pipeline_spark.operators import ann_index as AIX
    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_into_ann_index,
    )

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(90)]
    schema = "vec_id long, embedding array<double>"
    batches = [vecs[:40], vecs[40:70], vecs[70:]]
    src = tmp_path / "emb_stream"
    src.mkdir()
    import os

    for bno, rows in enumerate(batches):
        f = src / f"b{bno}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(str(f) + "_tmp")
        os.rename(str(f) + "_tmp", str(f))
        base = 1_600_000_000 + bno * 60
        for p in (str(f),) + tuple(
            os.path.join(str(f), x) for x in os.listdir(str(f))
        ):
            os.utime(p, (base, base))

    params = dict(n_centroids=4, m=4, ksub=8, n_iters=2)
    streamed = str(tmp_path / "idx_stream")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = stream_into_ann_index(
        stream, streamed, checkpoint=str(tmp_path / "ckpt"), build_params=params
    )
    q.awaitTermination(180)

    manual = str(tmp_path / "idx_manual")
    AIX.build_ann_index(spark.createDataFrame(batches[0], schema), manual, **params)
    for rows in batches[1:]:
        AIX.append_ann_index(spark.createDataFrame(rows, schema), manual)

    for art in ("coarse", "codebooks", "cells", "codes"):
        a = sorted(map(tuple, spark.read.parquet(f"{streamed}/{art}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{manual}/{art}").collect()))
        assert a == b, f"{art} differs"

    # replay: re-appending an already-ingested batch must be a no-op
    n_before = spark.read.parquet(f"{streamed}/codes").count()
    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_into_ann_index as _s,
    )
    # simulate the foreachBatch body directly with a duplicate batch
    seen = spark.read.parquet(f"{streamed}/codes").select("vec_id").distinct()
    dup = spark.createDataFrame(batches[1], schema)
    fresh = dup.join(seen, "vec_id", "left_anti")
    assert fresh.isEmpty()
    assert spark.read.parquet(f"{streamed}/codes").count() == n_before


def test_anomaly_kernel_min_id_not_chronological(spark):
    """first_flag_event must be min(event_id) among NEWLY flagged events
    (the batch oracle's min over flagged rows), not the id at the
    chronologically first flag — they diverge when ids are not monotone
    with event time."""
    import pandas as pd

    from activecampaign_api_data_pipeline_spark.streaming.stateful import (
        _update_trailing_anomaly,
    )

    class _FakeState:
        exists = False

        def update(self, v):
            self.exists = True
            self._v = v

        @property
        def get(self):
            return self._v

    # 9 calm observations then two spikes; the EARLIER spike (es=9)
    # carries the LARGER id 99, the later one (es=10) id 42 — min is 42
    es = list(range(11))
    eid = [1, 2, 3, 4, 5, 6, 7, 8, 9, 99, 42]
    cents = [100] * 9 + [100000, 10000000]
    pdf = pd.DataFrame({"es": es, "event_id": eid, "cents": cents})
    (out,) = list(_update_trailing_anomaly((7,), iter([pdf]), _FakeState()))
    assert out.loc[0, "n_flagged"] >= 2
    assert out.loc[0, "first_flag_event"] == 42


def test_stream_into_ann_index_heals_crashed_build(spark, tmp_path):
    """A crash mid-first-batch build leaves the '_building_' params
    sidecar build_ann_index writes FIRST. The replayed batch must take
    the BUILD path again (self-heal, mirroring ensure_ann_index), not
    the append path — which would fail on every restart and wedge the
    stream permanently."""
    import json as _json
    import random

    from activecampaign_api_data_pipeline_spark.operators import ann_index as AIX
    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_into_ann_index,
    )

    rng = random.Random(11)
    schema = "vec_id long, embedding array<double>"
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    src = tmp_path / "emb_stream"
    src.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "b0"))

    # simulate the crashed build: marker sidecar present, no artifacts
    streamed = str(tmp_path / "idx")
    spark.createDataFrame(
        [(_json.dumps({"_building_": True}),)], "p string"
    ).coalesce(1).write.mode("overwrite").text(f"{streamed}/params.json")

    params = dict(n_centroids=4, m=4, ksub=8, n_iters=2)
    stream = spark.readStream.schema(schema).parquet(str(src) + "/b*")
    q = stream_into_ann_index(
        stream, streamed, checkpoint=str(tmp_path / "ckpt"), build_params=params
    )
    q.awaitTermination(120)

    # healed: valid params, and codes match a clean one-shot build
    p = AIX.load_ann_params(spark, streamed)
    assert p.n_centroids == 4
    manual = str(tmp_path / "idx_manual")
    AIX.build_ann_index(spark.createDataFrame(rows, schema), manual, **params)
    a = sorted(map(tuple, spark.read.parquet(f"{streamed}/codes").collect()))
    b = sorted(map(tuple, spark.read.parquet(f"{manual}/codes").collect()))
    assert a == b


def test_stream_into_store_auto_compact(spark, stream_dir, tmp_path):
    """auto_compact_files: ingest keeps silver below the fragmentation
    threshold without a blind every-N cadence."""
    import glob

    from activecampaign_api_data_pipeline_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "lake"), n_buckets=2)
    for b in range(6):
        _write_batch(
            _rows(spark, (100 * b + 1, "2020-01-01 00:00:00", b, "a", 1.0),
                         (100 * b + 2, "2020-01-01 00:01:00", b + 10, "b", 1.0)),
            stream_dir, b,
        )
    q = stream_into_store(
        _start_stream(spark, stream_dir), store, "ev", key_cols=["id"],
        checkpoint=str(tmp_path / "ckpt"), updated_col="ts",
        auto_compact_files=2,
    )
    q.awaitTermination(180)
    files = glob.glob(str(tmp_path / "lake/silver/ev/*/part-*.parquet"))
    dirs = {f.rsplit("/", 1)[0] for f in files}
    # 6 micro-batches appended; auto-compaction kept files/bucket <= ~threshold+1
    assert len(files) <= 3 * len(dirs), (len(files), len(dirs))
    assert store.read("silver", "ev").count() == 12


def _upsert_batches(spark, stream_dir, n=3):
    """``n`` files, one micro-batch each: batch b re-versions keys 1-6
    (newer ts) and adds keys 10b+7, 10b+8, so every batch touches every
    bucket of a 2-bucket store and gold has updates to resolve."""
    for b in range(n):
        rows = [(k, f"2020-01-0{b + 1} 00:00:00", k % 3, f"v{b}", float(b)) for k in range(1, 7)]
        rows += [(10 * b + k, "2020-01-01 00:00:00", 9, "n", 0.0) for k in (7, 8)]
        _write_batch(_rows(spark, *rows), stream_dir, b)


def _ingest(spark, stream_dir, store, checkpoint, **kw):
    q = stream_into_store(
        _start_stream(spark, stream_dir), store, "ev", key_cols=["id"],
        checkpoint=checkpoint, updated_col="ts", **kw,
    )
    assert q.awaitTermination(180)
    return q


def _layers(spark, store):
    """Every layer's rows without ``extracted_at`` (the ingest time, which
    differs between two runs of the same batches), plus the KMV sketch.
    Columns compare by position: a read takes the table's recorded column
    order, whichever files it touches."""
    def rows(layer):
        return sorted(tuple(r) for r in store.read(layer, "ev").drop("extracted_at").collect())

    kmv = spark.read.parquet(store._kmv_path("ev", "kind")).collect()
    return {
        "bronze": rows("bronze"),
        "silver": rows("silver"),
        "gold": rows("gold"),
        "kmv": sorted((r["user_id"], tuple(r["kmv"])) for r in kmv),
    }


def _silver_files_per_bucket(store):
    import glob
    import os

    return {
        os.path.basename(d): len(glob.glob(f"{d}/part-*.parquet"))
        for d in glob.glob(f"{store.root}/silver/ev/_kb=*")
    }


def test_stream_into_store_job_budget_per_batch(spark, stream_dir, tmp_path):
    """With ``compact_every=1`` and ``kmv``, a micro-batch onto an existing
    table runs at most 13 Spark jobs under the query's job group: no
    emptiness probe, the compaction shares the gold refresh's read and
    exchange, that read takes the table's pinned schema, and the KMV fold
    (on a thread that inherits the job group) reads its prior sketch
    under a fixed schema."""
    import collections

    _upsert_batches(spark, stream_dir)
    store = TableStore(spark, str(tmp_path / "lake"), n_buckets=2)
    q = _ingest(spark, stream_dir, store, str(tmp_path / "ckpt"),
                compact_every=1, kmv=("kind", ["user_id"]))
    assert q.exception() is None
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    status = sc._jsc.sc().statusStore()
    per_batch = collections.Counter()
    for jid in sc.statusTracker().getJobIdsForGroup(str(q.runId)):
        desc = status.job(jid).description()
        # the stream sets "... batch = <id>" as every batch job's description
        per_batch[desc.get().rsplit("batch = ", 1)[-1] if desc.isDefined() else None] += 1
    assert set(per_batch) == {"0", "1", "2"}, per_batch
    assert max(per_batch["1"], per_batch["2"]) <= 13, per_batch


def test_stream_into_store_compacting_batch_one_file_per_bucket(spark, stream_dir, tmp_path):
    """A compacting micro-batch leaves one silver file per bucket it
    touched, and the store's rows equal those of an uncompacted ingest."""
    _upsert_batches(spark, stream_dir)
    plain = TableStore(spark, str(tmp_path / "plain"), n_buckets=2)
    _ingest(spark, stream_dir, plain, str(tmp_path / "ck_plain"), kmv=("kind", ["user_id"]))
    compacted = TableStore(spark, str(tmp_path / "compacted"), n_buckets=2)
    _ingest(spark, stream_dir, compacted, str(tmp_path / "ck_comp"),
            compact_every=1, kmv=("kind", ["user_id"]))
    assert set(_silver_files_per_bucket(plain).values()) == {3}  # one file per batch
    assert _silver_files_per_bucket(compacted) == {"_kb=0": 1, "_kb=1": 1}
    assert _layers(spark, compacted) == _layers(spark, plain)


def test_stream_into_store_crash_between_compaction_and_gold(
    spark, stream_dir, tmp_path, monkeypatch
):
    """A crash after the compacting refresh has overwritten silver, before
    it writes gold, fails the batch; the restarted query replays it and
    the store ends equal to a run without the crash."""
    from pyspark.errors import StreamingQueryException

    _upsert_batches(spark, stream_dir)
    kw = dict(compact_every=1, kmv=("kind", ["user_id"]))
    clean = TableStore(spark, str(tmp_path / "clean"), n_buckets=2)
    _ingest(spark, stream_dir, clean, str(tmp_path / "ck_clean"), **kw)

    compact = TableStore._compact

    def crash_after_silver_overwrite(self, *args, **kwargs):
        compact(self, *args, **kwargs)
        raise RuntimeError("injected crash between silver overwrite and gold write")

    store = TableStore(spark, str(tmp_path / "crashed"), n_buckets=2)
    monkeypatch.setattr(TableStore, "_compact", crash_after_silver_overwrite)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        _ingest(spark, stream_dir, store, str(tmp_path / "ck"), **kw)
    monkeypatch.undo()
    # batch 1 compacted silver, then died before gold and before its commit
    assert _silver_files_per_bucket(store) == {"_kb=0": 1, "_kb=1": 1}
    q = _ingest(spark, stream_dir, store, str(tmp_path / "ck"), **kw)
    assert q.exception() is None
    assert _layers(spark, store) == _layers(spark, clean)


def test_stream_into_minhash_store(spark, tmp_path):
    """Streamed corpus dedup: near-dups of earlier batches are reported
    as later batches arrive; the store grows replay-safely."""
    import os

    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_into_minhash_store,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()

    def text(seed, mutate=0):
        toks = [words[(seed * 7 + i) % len(words)] for i in range(30)]
        for m in range(mutate):
            toks[3 * m] = "mut%d" % m
        return " ".join(toks)

    src = tmp_path / "docs_stream"
    src.mkdir()
    batches = [
        [Row(doc_id=i, text=text(i)) for i in range(10)],
        [Row(doc_id=100 + i, text=text(i, mutate=2)) for i in range(3)]
        + [Row(doc_id=200, text=" ".join(f"fresh{i}" for i in range(30)))],
    ]
    for bno, rows in enumerate(batches):
        f = src / f"b{bno}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(f) + "_tmp")
        os.rename(str(f) + "_tmp", str(f))
        base = 1_600_000_000 + bno * 60
        for p in (str(f),) + tuple(os.path.join(str(f), x) for x in os.listdir(str(f))):
            os.utime(p, (base, base))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = stream_into_minhash_store(
        stream, str(tmp_path / "sigstore"), checkpoint=str(tmp_path / "ckpt"),
        pairs_out=str(tmp_path / "pairs"), threshold=0.3,
    )
    q.awaitTermination(180)
    pairs = spark.read.parquet(str(tmp_path / "pairs")).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # batch-2 mutations matched against batch-1 originals
    assert {(0, 100), (1, 101), (2, 102)} <= found
    # fresh doc 200 pairs with nothing
    assert not any(200 in p for p in found)
    # store holds every streamed doc exactly once
    assert spark.read.parquet(str(tmp_path / "sigstore/sigs")).count() == 14


def test_minhash_sink_replay_exactly_once(spark, tmp_path):
    """Replaying a micro-batch through the dedup sink (crash before the
    checkpoint commit) must leave store AND pairs output identical to a
    single run: the batch_id-partitioned dynamic overwrite replaces the
    batch's own pairs partition, and the store append anti-joins ids."""
    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        minhash_sink_batch,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    b0 = spark.createDataFrame([Row(doc_id=i, text=base) for i in range(4)])
    b1 = spark.createDataFrame(
        [Row(doc_id=100, text=base), Row(doc_id=101, text="totally different words here now")]
    )
    path, pairs_out = str(tmp_path / "store"), str(tmp_path / "pairs")
    minhash_sink_batch(b0, 0, path, pairs_out, threshold=0.5)
    minhash_sink_batch(b1, 1, path, pairs_out, threshold=0.5)

    def snapshot():
        pairs = sorted(
            (r["batch_id"], r["doc_a"], r["doc_b"], r["est_jaccard"])
            for r in spark.read.parquet(pairs_out).collect()
        )
        sigs = sorted(r["doc_id"] for r in spark.read.parquet(f"{path}/sigs").collect())
        return pairs, sigs

    once = snapshot()
    # replay batch 1 (same batch_df, same batch_id)
    minhash_sink_batch(b1, 1, path, pairs_out, threshold=0.5)
    assert snapshot() == once
    # sanity: batch 1 found its cross-batch dups against batch 0
    assert {(a, b) for _, a, b, _ in once[0] if _ == 1} >= {(0, 100), (1, 100)}


def test_packed_shards_incremental_equals_batch_and_replays(spark, tmp_path):
    """Streaming packing: feeding id-ordered micro-batches through the
    offsets-state sink produces BIT-IDENTICAL packing to the batch
    operator over the whole corpus (per-shard streams continue across
    batches); replaying a batch (crash before checkpoint commit) leaves
    output and state unchanged; a real availableNow stream over files
    lands on the same result."""
    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.operators.curation import pack_sequences
    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        packed_shards_sink_batch,
        stream_into_packed_shards,
    )

    rows = [Row(doc_id=i, n_tokens=(i * 7) % 90 + 10) for i in range(60)]
    docs = spark.createDataFrame(rows)
    want = sorted(
        tuple(r) for r in pack_sequences(docs, budget=64, n_shards=4).collect()
    )

    # ---- manual sink: 3 id-ordered batches ----
    path = str(tmp_path / "packstore")
    for b in range(3):
        batch = spark.createDataFrame(rows[b * 20 : (b + 1) * 20])
        packed_shards_sink_batch(batch, b, path, budget=64, n_shards=4)
    got_df = spark.read.parquet(f"{path}/packed")
    got = sorted(
        (r["doc_id"], r["shard"], r["n_tokens"], r["seq_in_shard"], r["offset_in_seq"])
        for r in got_df.collect()
    )
    assert got == want
    # ---- replay last batch: exactly-once ----
    state_before = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/offsets").collect()
    )
    packed_shards_sink_batch(spark.createDataFrame(rows[40:60]), 2, path, budget=64, n_shards=4)
    assert sorted(
        (r["doc_id"], r["shard"], r["n_tokens"], r["seq_in_shard"], r["offset_in_seq"])
        for r in spark.read.parquet(f"{path}/packed").collect()
    ) == want
    assert sorted(tuple(r) for r in spark.read.parquet(f"{path}/offsets").collect()) == state_before

    # ---- real stream: one parquet file per batch, availableNow ----
    src = str(tmp_path / "src")
    for b in range(3):
        spark.createDataFrame(rows[b * 20 : (b + 1) * 20]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, n_tokens long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    spath = str(tmp_path / "packstream")
    q = stream_into_packed_shards(
        stream, spath, checkpoint=str(tmp_path / "ckpt"), budget=64, n_shards=4
    )
    q.awaitTermination(180)
    got_s = sorted(
        (r["doc_id"], r["shard"], r["n_tokens"], r["seq_in_shard"], r["offset_in_seq"])
        for r in spark.read.parquet(f"{spath}/packed").collect()
    )
    # file arrival order may differ from id order, so compare against the
    # batch twin only on the INVARIANTS that hold for any arrival order:
    # same doc set, same per-shard token totals, contiguous shard streams
    assert {t[0] for t in got_s} == {t[0] for t in want}
    import collections

    def shard_tokens(ts):
        d = collections.Counter()
        for _, shard, n, _, _ in ts:
            d[shard] += n
        return d

    assert shard_tokens(got_s) == shard_tokens(want)


def test_stream_decontaminate_flags_match_batch(spark, tmp_path):
    """Streaming decontamination: flags accumulated across micro-batches
    equal the one-shot check over the whole stream (read-only store ->
    arrival order can't matter), partitioned by batch_id."""
    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        decontam_store_build,
        incremental_decontaminate,
    )
    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_decontaminate,
    )

    bench = "one two three four five six seven eight nine ten"
    test_docs = spark.createDataFrame([Row(doc_id=900, text=bench)])
    store = str(tmp_path / "store")
    decontam_store_build(test_docs, store, ngram=3, max_df=None)

    train_rows = [
        Row(doc_id=1, text=bench + " extra tail"),
        Row(doc_id=2, text="unrelated content that matches nothing at all truly"),
        Row(doc_id=3, text="zero one two three four five six seven eight nine ten end"),
    ]
    src = str(tmp_path / "src")
    for r in train_rows:
        spark.createDataFrame([r]).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    flags_out = str(tmp_path / "flags")
    q = stream_decontaminate(stream, store, checkpoint=str(tmp_path / "ckpt"), flags_out=flags_out)
    q.awaitTermination(180)
    got = sorted(
        (r["train_id"], r["test_id"], r["n_common"], r["containment"])
        for r in spark.read.parquet(flags_out).collect()
    )
    want = sorted(
        (r["train_id"], r["test_id"], r["n_common"], r["containment"])
        for r in incremental_decontaminate(
            spark.createDataFrame(train_rows), store, threshold=0.5
        ).collect()
    )
    assert got == want and {t[0] for t in got} == {1, 3}


def test_stream_into_block_store(spark, tmp_path):
    """Streamed passage dedup: blocks seen in earlier batches are dropped
    from later ones; output is exactly-once per batch partition."""
    import os

    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_into_block_store,
    )

    src = tmp_path / "docs_stream"
    src.mkdir()
    batches = [
        [Row(doc_id=1, text="a b c d e f"), Row(doc_id=2, text="a b c x y z")],
        [Row(doc_id=10, text="d e f q r s"), Row(doc_id=11, text="x y z")],
    ]
    for bno, rows in enumerate(batches):
        f = src / f"b{bno}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(f) + "_tmp")
        os.rename(str(f) + "_tmp", str(f))
        base = 1_600_000_000 + bno * 60
        for p in (str(f),) + tuple(os.path.join(str(f), x) for x in os.listdir(str(f))):
            os.utime(p, (base, base))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = stream_into_block_store(
        stream, str(tmp_path / "blockstore"),
        checkpoint=str(tmp_path / "ckpt"), clean_out=str(tmp_path / "clean"),
    )
    q.awaitTermination(180)
    clean = {r["doc_id"]: r for r in spark.read.parquet(str(tmp_path / "clean")).collect()}
    assert clean[1]["clean_text"] == "a b c d e f"
    assert clean[2]["clean_text"] == "x y z"          # within-batch dedup
    assert clean[10]["clean_text"] == "q r s"         # cross-batch dedup
    assert 11 not in clean                            # fully deduped away
    # store holds each doc once and only distinct surviving blocks
    assert spark.read.parquet(str(tmp_path / "blockstore/docs")).count() == 4
    assert spark.read.parquet(str(tmp_path / "blockstore/blocks")).count() == 4


def test_block_sink_replay_exactly_once(spark, tmp_path):
    """Running the same (batch, batch_id) twice leaves clean_out and the
    store exactly as a single run would (dynamic partition overwrite +
    replay-guarded append)."""
    from pyspark.sql import Row

    from activecampaign_api_data_pipeline_spark.streaming.incremental import block_sink_batch

    path, out = str(tmp_path / "store"), str(tmp_path / "clean")
    b0 = spark.createDataFrame([Row(doc_id=1, text="a b c d e f")])
    b1 = spark.createDataFrame([Row(doc_id=2, text="a b c p q r")])
    block_sink_batch(b0, 0, path, out)
    block_sink_batch(b1, 1, path, out)

    def snapshot():
        clean = sorted(
            (r["doc_id"], r["clean_text"], r["batch_id"])
            for r in spark.read.parquet(out).collect()
        )
        blocks = sorted(
            (r["bh"], r["doc_id"]) for r in spark.read.parquet(f"{path}/blocks").collect()
        )
        docs = sorted(r["doc_id"] for r in spark.read.parquet(f"{path}/docs").collect())
        return clean, blocks, docs

    before = snapshot()
    block_sink_batch(b1, 1, path, out)  # replay
    assert snapshot() == before


def test_importance_sink_replay_exactly_once(spark, tmp_path):
    """Fold-first makes the scored output deterministic under replay:
    running the same (batch, batch_id) twice leaves state and scores
    exactly as one run would."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        importance_sink_batch,
    )

    path, out = str(tmp_path / "state"), str(tmp_path / "scored")
    pred = F.col("lang") == "en"
    b0 = spark.createDataFrame(
        [Row(doc_id=1, text="aa bb aa", lang="en"),
         Row(doc_id=2, text="aa bb cc", lang="de")]
    )
    b1 = spark.createDataFrame(
        [Row(doc_id=3, text="aa aa aa", lang="de"),
         Row(doc_id=4, text="zz yy", lang="de")]
    )
    importance_sink_batch(b0, 0, path, out, pred)
    importance_sink_batch(b1, 1, path, out, pred)

    def snapshot():
        scored = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        state = sorted(
            tuple(r) for r in spark.read.parquet(f"{path}/partials").collect()
        )
        return scored, state

    before = snapshot()
    importance_sink_batch(b1, 1, path, out, pred)  # replay
    assert snapshot() == before
    # target-like raw doc outranks the alien one within its batch
    scored = {r["doc_id"]: r["score"] for r in spark.read.parquet(out).collect()}
    assert scored[3] > scored[4]


def test_stream_importance_state(spark, tmp_path):
    """End-to-end availableNow stream: state accumulates across
    micro-batches and each batch's raw docs get scored."""
    import os

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_importance_state,
    )

    src = tmp_path / "docs_stream"
    src.mkdir()
    batches = [
        [Row(doc_id=1, text="aa bb aa", lang="en"),
         Row(doc_id=2, text="aa bb cc", lang="de")],
        [Row(doc_id=3, text="aa aa bb", lang="de"),
         Row(doc_id=4, text="zz yy xx", lang="de")],
    ]
    for bno, rows in enumerate(batches):
        f = src / f"b{bno}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(f) + "_tmp")
        os.rename(str(f) + "_tmp", str(f))
        base = 1_600_000_000 + bno * 60
        for p in (str(f),) + tuple(os.path.join(str(f), x) for x in os.listdir(str(f))):
            os.utime(p, (base, base))
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = stream_importance_state(
        stream, str(tmp_path / "state"), checkpoint=str(tmp_path / "ckpt"),
        scored_out=str(tmp_path / "scored"), target_pred=F.col("lang") == "en",
    )
    q.awaitTermination(180)
    scored = {r["doc_id"]: r["score"] for r in spark.read.parquet(str(tmp_path / "scored")).collect()}
    assert set(scored) == {2, 3, 4}          # raw docs only
    assert scored[3] > scored[4]             # target-like beats alien
    # accumulated state: batch-1 partials exist alongside batch-0's
    state = spark.read.parquet(str(tmp_path / "state/partials"))
    assert state.select("batch_id").distinct().count() == 2


def _doc_stream(spark, tmp_path):
    """Three document batches as a file stream of one batch per trigger:
    ``(batches, schema, stream)``."""
    import os

    docs = [(i, f"tok{i % 7} common tok{i % 5} word{i}") for i in range(60)]
    schema = "doc_id long, text string"
    batches = [docs[:25], docs[25:45], docs[45:]]
    src = tmp_path / "doc_stream"
    src.mkdir()
    for bno, rows in enumerate(batches):
        f = src / f"b{bno}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(str(f) + "_tmp")
        os.rename(str(f) + "_tmp", str(f))
        base = 1_600_000_000 + bno * 60
        for p in (str(f),) + tuple(
            os.path.join(str(f), x) for x in os.listdir(str(f))
        ):
            os.utime(p, (base, base))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    return batches, schema, stream


def test_stream_into_text_index_builds_then_appends(spark, tmp_path):
    """Inverted index through the streaming ingest: first batch builds
    (and freezes n_docs/avgdl), later batches append postings/doclen;
    artifacts bit-identical to manual build(b0)+append(b1)+append(b2);
    replays are no-ops (anti-join on doclen ids)."""
    from activecampaign_api_data_pipeline_spark.operators import text_index as TIX
    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_into_text_index,
    )

    batches, schema, stream = _doc_stream(spark, tmp_path)
    streamed = str(tmp_path / "tix_stream")
    q = stream_into_text_index(stream, streamed, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    manual = str(tmp_path / "tix_manual")
    TIX.build_text_index(spark.createDataFrame(batches[0], schema), manual)
    for rows in batches[1:]:
        TIX.append_text_index(spark.createDataFrame(rows, schema), manual)

    for art in ("stats", "postings", "doclen"):
        a = sorted(map(tuple, spark.read.parquet(f"{streamed}/{art}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{manual}/{art}").collect()))
        assert a == b, f"{art} differs"

    # replay guard: every id of batch 1 is already indexed -> anti-join empty
    seen = spark.read.parquet(f"{streamed}/doclen").select("doc_id").distinct()
    dup = spark.createDataFrame(batches[1], schema)
    assert dup.join(seen, "doc_id", "left_anti").isEmpty()


def test_stream_into_text_index_reads_params_once_per_batch(spark, tmp_path, monkeypatch):
    """The text sink loads the params sidecar once per batch: the built
    probe's params serve the appending batch's compaction check too."""
    import sys

    from activecampaign_api_data_pipeline_spark.operators import text_index as TIX
    from activecampaign_api_data_pipeline_spark.streaming import incremental

    real, calls = TIX.load_text_params, []

    def counting(spark, path):
        if sys._getframe(1).f_globals["__name__"] == incremental.__name__:
            calls.append(path)
        return real(spark, path)

    monkeypatch.setattr(TIX, "load_text_params", counting)
    batches, _, stream = _doc_stream(spark, tmp_path)
    q = incremental.stream_into_text_index(
        stream, str(tmp_path / "tix"), checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    assert q.exception() is None
    # one build batch, then one load per appending batch
    assert len(calls) == len(batches), calls


def test_stream_into_sq8_index_builds_then_appends(spark, tmp_path):
    """SQ8 codec through the streaming ingest: first batch calibrates +
    builds, later batches append against FROZEN stats; bit-identical to
    manual build(b0)+append(b1)+append(b2); replays are no-ops."""
    import os
    import random

    from activecampaign_api_data_pipeline_spark.operators import ann_index as AIX
    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_into_sq8_index,
    )

    rng = random.Random(11)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(90)]
    schema = "vec_id long, embedding array<double>"
    batches = [vecs[:40], vecs[40:70], vecs[70:]]
    src = tmp_path / "emb_stream"
    src.mkdir()
    for bno, rows in enumerate(batches):
        f = src / f"b{bno}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(str(f) + "_tmp")
        os.rename(str(f) + "_tmp", str(f))
        base = 1_600_000_000 + bno * 60
        for p in (str(f),) + tuple(
            os.path.join(str(f), x) for x in os.listdir(str(f))
        ):
            os.utime(p, (base, base))

    streamed = str(tmp_path / "idx_stream")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/b*")
    )
    q = stream_into_sq8_index(stream, streamed, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    manual = str(tmp_path / "idx_manual")
    AIX.build_sq8_index(spark.createDataFrame(batches[0], schema), manual)
    for rows in batches[1:]:
        AIX.append_sq8_index(spark.createDataFrame(rows, schema), manual)

    for art in ("stats", "codes"):
        a = sorted(map(tuple, spark.read.parquet(f"{streamed}/{art}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{manual}/{art}").collect()))
        assert a == b, f"{art} differs"

    # replay guard: every id of batch 1 is already coded -> anti-join empty
    seen = spark.read.parquet(f"{streamed}/codes").select("vec_id").distinct()
    dup = spark.createDataFrame(batches[1], schema)
    assert dup.join(seen, "vec_id", "left_anti").isEmpty()


def test_stream_running_totals_stateful_fold(spark, tmp_path):
    """applyInPandasWithState fold: per-user totals are cumulative across
    micro-batches (monotone non-decreasing), the sink is batch_id-
    partitioned, and re-running the drained stream on the same checkpoint
    is a no-op (exactly-once)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_running_totals,
    )

    rows = [(u, c) for u in range(5) for c in (100, 200, 300)]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, "user_id long, cents long").repartition(3).write.parquet(src)
    sink, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("user_id long, cents long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_running_totals(stream, sink, ckpt).awaitTermination(180)

    out = spark.read.parquet(sink)
    # batch-partitioned sink
    assert glob.glob(os.path.join(sink, "batch_id=*"))
    # cumulative monotone per user in batch order
    hist = sorted(
        ((r["user_id"], r["batch_id"], r["n_events"], r["sum_cents"])
         for r in out.collect())
    )
    by_user = {}
    for u, b, n, s in hist:
        pn, ps = by_user.get(u, (0, 0))
        assert n >= pn and s >= ps
        by_user[u] = (n, s)
    # final state equals the one-shot aggregate
    assert by_user == {u: (3, 600) for u in range(5)}

    # replay: drained stream + same checkpoint -> sink unchanged
    n_before = out.count()
    stream2 = (
        spark.readStream.schema("user_id long, cents long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_running_totals(stream2, sink, ckpt).awaitTermination(180)
    assert spark.read.parquet(sink).count() == n_before


def test_pattern_kernel_catches_boundary_spanning_match(spark):
    """A view→click→purchase triple SPLIT across micro-batches must be
    counted exactly once (the 2-row lookahead state), and a triple fully
    inside an earlier batch must not recount when its rows ride the
    state into the next call."""
    import pandas as pd

    from activecampaign_api_data_pipeline_spark.streaming.stateful import (
        _update_pattern_match,
    )

    class _S:
        exists = False

        def update(self, v):
            self.exists = True
            self._v = v

        @property
        def get(self):
            return self._v

    st = _S()
    # batch 1: a full match (1,2,3) + the first two rows of a second
    b1 = pd.DataFrame({
        "es": [1, 2, 3, 4, 5],
        "event_id": [11, 12, 13, 14, 15],
        "event_type": ["view", "click", "purchase", "view", "click"],
    })
    (o1,) = list(_update_pattern_match((7,), iter([b1]), st))
    assert o1.loc[0, "n_matches"] == 1
    assert o1.loc[0, "first_match_event"] == 11
    # batch 2: completes the boundary-spanning match; 13/14/15 must not recount
    b2 = pd.DataFrame({
        "es": [6], "event_id": [16], "event_type": ["purchase"],
    })
    (o2,) = list(_update_pattern_match((7,), iter([b2]), st))
    assert o2.loc[0, "n_matches"] == 1
    assert o2.loc[0, "first_match_event"] == 14
    # batch 3: nothing new -> zero matches
    b3 = pd.DataFrame({"es": [7], "event_id": [17], "event_type": ["view"]})
    (o3,) = list(_update_pattern_match((7,), iter([b3]), st))
    assert o3.loc[0, "n_matches"] == 0 and o3.loc[0, "first_match_event"] is None


def test_scoped_state_partitions_restores(spark):
    """The state-partition scope restores the session conf on exit AND
    on exception — a crashed streaming query must not leak a tiny
    shuffle-partition count into every later batch query."""
    import pytest as _pytest

    from activecampaign_api_data_pipeline_spark.streaming.stateful import (
        scoped_state_partitions,
    )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_state_partitions(spark, 8):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
    with _pytest.raises(RuntimeError, match="boom"):
        with scoped_state_partitions(spark, 4):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_state_store_provider_invariant_results(spark):
    """r12 verdict item 4: results of the stateful micro-batch family
    must be IDENTICAL under the default HDFS-backed state store and the
    RocksDB provider (the 100 TB configuration — amortized commits, no
    per-delta small-file tax, memory-resident working set with spill).
    The provider only changes where state bytes live; the conf composes
    with scoped_state_partitions. A/B timings live in BASELINE.md."""
    PROV = "spark.sql.streaming.stateStore.providerClass"
    ROCKS = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    from activecampaign_api_data_pipeline_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    out = {}
    for label, prov in (("hdfs", HDFS), ("rocksdb", ROCKS)):
        spark.conf.set(PROV, prov)
        try:
            # one applyInPandasWithState kernel + one native stateful agg
            out[label] = {
                name: sorted(map(tuple, REGISTRY[name](spark, sf).collect()))
                for name in ("t_stream_debounce", "t_stream_sessions")
            }
        finally:
            spark.conf.unset(PROV)
    assert out["hdfs"] == out["rocksdb"]
    assert all(len(rows) > 0 for rows in out["hdfs"].values())


def test_stream_into_matview_second_run_replays_noop(spark, tmp_path):
    """r14: the matview/hll/join-view sinks seed their replay guard ONCE
    per stream run (closure set) instead of scanning the partials tags
    per batch. The load-bearing case is a SECOND stream run over the same
    source with a FRESH checkpoint: its batch ids restart at 0, every
    batch key is already applied, and the seeded guard must no-op them
    all — the view equals the single-run result exactly."""
    import os

    from activecampaign_api_data_pipeline_spark.operators import matview as MV
    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_into_matview,
    )

    rows = [(i, f"u{i % 5}", i * 10) for i in range(60)]
    schema = "event_id long, user string, value long"
    batches = [rows[:20], rows[20:40], rows[40:]]
    src = tmp_path / "mv_stream"
    src.mkdir()
    for bno, chunk in enumerate(batches):
        f = src / f"b{bno}"
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(str(f) + "_tmp")
        os.rename(str(f) + "_tmp", str(f))
        base = 1_600_000_000 + bno * 60
        for p in (str(f),) + tuple(
            os.path.join(str(f), x) for x in os.listdir(str(f))
        ):
            os.utime(p, (base, base))

    view = str(tmp_path / "view")

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/b*")
        )
        q = stream_into_matview(
            stream, view, checkpoint=str(tmp_path / ckpt),
            key_cols=["user"], measure="value",
        )
        assert q.awaitTermination(180)

    run("ckpt1")
    once = sorted(map(tuple, MV.read_matview(spark, view).collect()))
    applied_once = MV.applied_batches_full(spark, view)
    # second run, fresh checkpoint: batch ids 0..2 again, all replays
    run("ckpt2")
    again = sorted(map(tuple, MV.read_matview(spark, view).collect()))
    assert again == once
    assert MV.applied_batches_full(spark, view) == applied_once


@pytest.mark.parametrize("codec", ["ann", "sq8"])
def test_index_sink_builds_over_empty_legacy_sidecar(spark, tmp_path, codec):
    """A present-but-empty ``params.json`` directory (a crashed legacy
    directory write) marks an unfinished build: the first batch builds
    the index instead of failing the stream."""
    import os
    import random

    from activecampaign_api_data_pipeline_spark.operators import ann_index as AIX
    from activecampaign_api_data_pipeline_spark.streaming import incremental as INC

    rng = random.Random(5)
    schema = "vec_id long, embedding array<double>"
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    src = tmp_path / "emb_stream"
    src.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "b0"))
    idx = str(tmp_path / "idx")
    os.makedirs(f"{idx}/params.json")

    stream = spark.readStream.schema(schema).parquet(str(src) + "/b*")
    ckpt = str(tmp_path / "ckpt")
    if codec == "ann":
        params = dict(n_centroids=4, m=4, ksub=8, n_iters=2)
        q = INC.stream_into_ann_index(stream, idx, ckpt, build_params=params)
        load = AIX.load_ann_params
    else:
        q = INC.stream_into_sq8_index(stream, idx, ckpt)
        load = AIX.load_sq8_params
    q.awaitTermination(180)
    assert q.exception() is None
    assert load(spark, idx).dim == 8
    coded = spark.read.parquet(f"{idx}/codes").select("vec_id").distinct()
    assert coded.count() == len(rows)
