"""Seeded CRM activity events landed as files, and the ``stream_ingest``
workload that consumes them through ``stream_into_store``.

Open loop: the generator lands one file every ``seconds / N_OPEN`` seconds
whatever the query does, so a slow trigger shows as lag, not as a
slower offered rate. Lag is timed from when a file was due, not from when
it was written, so the generator's own lateness counts against the system.
"""

from __future__ import annotations

import glob
import json
import os
import random
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow.parquet as pq

from perfbench.stats import dir_size, max_overlap, median, percentile
from perfbench.trace import Tracer, storage_metrics, storage_targets

SCHEMA = "event_id string, contact_id string, kind string, value double, version long"
KINDS = ("open", "click", "visit", "note", "task", "deal_move")
#: Files loaded into the empty store, landed on the open-loop schedule (at
#: least 100, so the 90th percentile has ten samples beyond it), and landed
#: at once in each of N_BURSTS bursts, whose median drain is reported.
N_INITIAL, N_OPEN, N_BURST, N_BURSTS = 16, 120, 16, 3
ROWS_PER_FILE, ROWS_PER_BURST_FILE = 25, 250
#: Share of rows that update an existing key, and share of those updates
#: that arrive older than the version already landed.
UPDATE_SHARE, STALE_SHARE = 0.3, 0.25
N_CONTACTS = 400
#: Compact after every micro-batch: with a longer cadence, whether the
#: burst's batch compacts would depend on how many triggers came before it.
COMPACT_EVERY = 1
KMV = ("contact_id", ["kind"])


@dataclass
class EventFile:
    name: str
    body: str
    rows: list[dict]
    due: float = 0.0
    written: float = 0.0


@dataclass
class EventGenerator:
    """Builds every file of one invocation up front from the seed."""

    seed: int
    rng: random.Random = field(init=False)
    versions: dict[str, int] = field(default_factory=dict)

    def __post_init__(self):
        self.rng = random.Random(self.seed)
        self._next_key = 0
        self._n = 0

    def _row(self) -> dict:
        rng = self.rng
        if self.versions and rng.random() < UPDATE_SHARE:
            key = f"ev{rng.randrange(self._next_key)}"
            latest = self.versions[key]
            if rng.random() < STALE_SHARE and latest > 1:
                version = rng.randint(1, latest - 1)  # out of order: older than landed
            else:
                version = latest + rng.randint(1, 5)
        else:
            key = f"ev{self._next_key}"
            self._next_key += 1
            version = 1
        self.versions[key] = max(version, self.versions.get(key, 0))
        return {
            "event_id": key,
            "contact_id": f"c{rng.randrange(N_CONTACTS)}",
            "kind": rng.choice(KINDS),
            "value": round(rng.uniform(0, 500), 2),
            "version": version,
        }

    def files(self, n: int, rows_per_file: int, prefix: str) -> list[EventFile]:
        out = []
        for _ in range(n):
            rows = [self._row() for _ in range(rows_per_file)]
            body = "".join(json.dumps(r, sort_keys=True) + "\n" for r in rows)
            out.append(EventFile(f"{prefix}-{self._n:05d}.json", body, rows))
            self._n += 1
        return out


def latest_per_key(files: list[EventFile]) -> dict[str, dict]:
    """Expected gold: the highest-version row of every key. The generator
    lands each key's highest version once (a later row of the key is
    either newer or strictly older), so the expectation is unambiguous."""
    out: dict[str, dict] = {}
    for f in files:
        for r in f.rows:
            cur = out.get(r["event_id"])
            if cur is None or r["version"] > cur["version"]:
                out[r["event_id"]] = r
    return out


def land(directory: str, f: EventFile) -> None:
    """Atomic landing: Spark's file source skips names starting with '.'."""
    tmp = os.path.join(directory, "." + f.name + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(f.body)
    os.replace(tmp, os.path.join(directory, f.name))
    f.written = time.time()


def batch_of_files(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    out[name] = min(out.get(name, e["batchId"]), e["batchId"])
    return out


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def committed_batches(progress: list[dict]) -> dict[int, dict]:
    """Batch id -> progress of every trigger that ran a batch."""
    return {p["batchId"]: p for p in progress if "addBatch" in p.get("durationMs", {})}


def commit_time(p: dict) -> float:
    return _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3


class StreamIngest:
    """``stream_ingest``: a full load into an empty store, open-loop file
    landing into one ``stream_into_store`` query, then bursts applied to
    the populated store with ``availableNow`` drains.

    There is no warm-up: like ``crm_sync``'s full sync, the full load is
    the process's first, cold one, and it warms the open loop after it."""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.attempted = self.failed = 0
        self.landed: list[EventFile] = []
        self.landing = os.path.join(work, "landing")
        self.checkpoint = os.path.join(work, "checkpoint")
        self.lake = os.path.join(work, "stream_lake")

    def setup(self) -> None:
        from activecampaign_api_data_pipeline_spark.storage import TableStore

        self.gen = EventGenerator(self.seed)
        self.initial = self.gen.files(N_INITIAL, ROWS_PER_BURST_FILE, "init")
        self.phases = [
            (self.gen.files(N_OPEN, ROWS_PER_FILE, f"open{k}"),
             [self.gen.files(N_BURST, ROWS_PER_BURST_FILE, f"burst{k}-{b}") for b in range(N_BURSTS)])
            for k in range(2)
        ]
        self.store = TableStore(self.spark, self.lake)
        # keep every trigger's progress, however short triggers get
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(10 * N_OPEN))
        os.makedirs(self.landing)

    def close(self) -> None:
        for q in self.spark.streams.active:
            q.stop()

    def _query(self, available_now: bool):
        from activecampaign_api_data_pipeline_spark.streaming import incremental

        stream = self.spark.readStream.schema(SCHEMA).json(self.landing)
        return incremental.stream_into_store(
            stream, self.store, "events", key_cols=["event_id"], checkpoint=self.checkpoint,
            updated_col="version", trigger_available_now=available_now,
            compact_every=COMPACT_EVERY, kmv=KMV,
        )

    def _open_loop(self, files: list[EventFile], seconds: float) -> tuple[dict, list[dict]]:
        q = self._query(available_now=False)
        deadline = time.monotonic() + 120
        while q.lastProgress is None:  # the schedule starts on a running query
            if not q.isActive or time.monotonic() > deadline:
                raise RuntimeError(f"stream_ingest query did not start: {q.exception()}")
            time.sleep(0.05)
        interval = seconds / len(files)
        late = []
        # the generator: this thread, on a fixed schedule whatever the query does
        t0 = time.time()
        for i, f in enumerate(files):
            f.due = t0 + i * interval
            pause = f.due - time.time()
            if pause > 0:
                time.sleep(pause)
            land(self.landing, f)
            late.append(f.written - f.due)
        self.landed += files
        q.processAllAvailable()
        progress = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"stream_ingest query failed: {q.exception()}")
        batches = committed_batches(progress)
        batch_of = batch_of_files(self.checkpoint)
        commits = {b: commit_time(p) for b, p in batches.items()}
        lags = [commits[batch_of[f.name]] - f.due for f in files]
        return {
            "lags": lags,
            "late_ms_max": max(late) * 1e3,
            # files landed but not yet committed, at the worst instant
            "backlog_max": max_overlap([(f.written, commits[batch_of[f.name]]) for f in files]),
        }, list(batches.values())

    def _drain(self, files: list[EventFile]) -> float:
        """Land ``files`` at once and drain them with ``availableNow``."""
        for f in files:
            land(self.landing, f)
        self.landed += files
        t0 = time.perf_counter()
        q = self._query(available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream_ingest drain failed: {q.exception()}")
        return time.perf_counter() - t0

    def _check(self) -> None:
        """Count every file landed so far; a file fails if gold does not
        hold the expected latest version of each of its keys."""
        want = latest_per_key(self.landed)
        cols = ("contact_id", "kind", "value", "version")
        got = {}
        for part in glob.glob(os.path.join(self.lake, "gold", "events", "*", "*.parquet")):
            for r in pq.read_table(part, columns=["event_id", *cols]).to_pylist():
                if r["event_id"] in got:  # gold must hold one row per key
                    got[r["event_id"]] = {}
                else:
                    got[r["event_id"]] = r
        bad_keys = {k for k, r in want.items()
                    if k not in got or any(got[k].get(c) != r[c] for c in cols)}
        bad_keys |= set(got) - set(want)
        bad_files = [f for f in self.landed if any(r["event_id"] in bad_keys for r in f.rows)]
        self.attempted, self.failed = len(self.landed), len(bad_files)
        if bad_keys:
            print(f"perfbench: stream_ingest gold differs on {len(bad_keys)} keys "
                  f"({len(bad_files)} files)", file=sys.stderr)

    def measure(self, seconds: float) -> dict[str, float]:
        """``full_sync_s``: the ``availableNow`` load of the initial files
        into the empty store. ``lag_*``: per open-loop file, the commit of
        its micro-batch minus its due time. ``incr_sync_s``: the median
        ``availableNow`` drain of the bursts, ``drain_rows_per_s`` a burst's
        rows over it. ``space_amp``: the lake's bytes over the landed
        files' bytes."""
        self.seconds = seconds
        full_s = self._drain(self.initial)
        open_files, bursts = self.phases[0]
        info, _ = self._open_loop(open_files, seconds)
        self.untraced_drain_s = incr_s = median([self._drain(files) for files in bursts])
        self._check()
        _, size = dir_size(self.lake)
        user = sum(len(f.body) for f in self.landed)
        return {
            "full_sync_s": full_s,
            "incr_sync_s": incr_s,
            "drain_rows_per_s": N_BURST * ROWS_PER_BURST_FILE / incr_s,
            "lag_p50_s": median(info["lags"]),
            "lag_p90_s": percentile(info["lags"], 0.9),
            "space_amp": size / user,
        }

    def traced(self, tracer: Tracer) -> dict[str, float]:
        from activecampaign_api_data_pipeline_spark.streaming import incremental

        persisted: list = []
        targets = [
            (incremental, "stream_into_store", "streaming.stream_into_store"),
            *storage_targets(persisted),
        ]
        open_files, bursts = self.phases[1]
        with tracer.patched(targets):
            with tracer.operation("stream.open_loop") as op_open:
                info, batches = self._open_loop(open_files, self.seconds)
            tracer.collect_jobs()
            with tracer.operation("stream.bursts") as op_burst:
                drain_s = median([self._drain(files) for files in bursts])
            tracer.collect_jobs()
        self._check()
        dur = [b["durationMs"] for b in batches]
        n_ops = len(batches) + N_BURSTS  # each open-loop trigger, and each drain
        files, size = dir_size(self.lake)

        def p50(phase: str) -> float:
            return median([d.get(phase, 0) for d in dur])

        return {
            **tracer.spark_metrics(n_ops, op_open.duration + op_burst.duration),
            **storage_metrics(tracer, persisted, n_ops, files, size),
            "streaming.triggers": len(batches),
            "streaming.rows_per_trigger": median([b["numInputRows"] for b in batches]),
            "streaming.trigger_ms_p50": p50("triggerExecution"),
            "streaming.latest_offset_ms": p50("latestOffset"),
            "streaming.query_planning_ms": p50("queryPlanning"),
            "streaming.wal_commit_ms": p50("walCommit"),
            "streaming.commit_offsets_ms": p50("commitOffsets"),
            "streaming.add_batch_ms": p50("addBatch"),
            "streaming.backlog_max_files": info["backlog_max"],
            "streaming.generator_late_ms_max": info["late_ms_max"],
            "trace.overhead_s": drain_s - self.untraced_drain_s,
        }
