"""Spans around the benchmark's calls into the package, and the Spark job,
stage and task numbers attributed to them.

Nothing here touches the package's files: :meth:`Tracer.patched` swaps
functions on the modules and classes where their callers look them up and
restores them on exit. Each span tags the Spark jobs it starts with a job
group (a thread-local property), so a job counts towards the innermost
span that was open when it ran.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

JOB_GROUP = "spark.jobGroup.id"
SPAN_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover.

    Children are clipped to their parent's interval and overlapping
    children count once."""
    from perfbench.stats import union_length

    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, [])
            if c.end > s.start and c.start < s.end
        )
        out[s.id] = s.duration - covered
    return out


def descendants(spans: list[Span], root_ids: set[int]) -> set[int]:
    """``root_ids`` and every span below them."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, stack = set(), list(root_ids)
    while stack:
        sid = stack.pop()
        if sid not in out:
            out.add(sid)
            stack.extend(kids.get(sid, []))
    return out


@dataclass
class StageStats:
    stage_id: int
    job_id: int
    span: int | None
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    spill_mb: float
    gc_s: float


class Tracer:
    """Keeps spans in memory; :meth:`dump` writes them out at the end."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.jobs: dict[int, int | None] = {}  # job id -> span id
        self.stages: list[StageStats] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._last_job = -1
        #: span that parents spans opened on threads with no open span,
        #: such as the streaming sink's callback thread
        self.root: int | None = None
        # jobs that ran before the tracer existed are not attributed
        jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        for i in range(jobs.length()):
            self._last_job = max(self._last_job, jobs.apply(i).jobId())

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str):
        """Time the block and tag its Spark jobs; the previous job group of
        this thread is restored on exit."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        s = Span(next(self._ids), name, parent, self.root, time.perf_counter())
        sc = self.spark.sparkContext
        old = sc.getLocalProperty(JOB_GROUP)
        sc.setLocalProperty(JOB_GROUP, f"{SPAN_PREFIX}{s.id}")
        stack.append(s.id)
        try:
            yield s
        finally:
            stack.pop()
            sc.setLocalProperty(JOB_GROUP, old)
            s.end = time.perf_counter()
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def operation(self, name: str):
        """A top-level span: one timed operation of the workload."""
        with self.span(name) as s:
            prev, self.root = self.root, s.id
            try:
                yield s
            finally:
                self.root = prev

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        return traced

    @contextmanager
    def patched(self, targets):
        """Replace ``(owner, attr, span_name[, on_result])`` targets with
        traced wrappers for the duration of the block."""
        saved = []
        try:
            for owner, attr, name, *rest in targets:
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(name, orig, *rest))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    # ------------------------------------------------------- spark stats

    def collect_jobs(self) -> None:
        """Attribute every job finished since the last call to its span and
        record its stages. Call after the operation's actions returned."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        seen_stages = {s.stage_id for s in self.stages}
        new_last = self._last_job
        jobs = store.jobsList(None)
        for i in range(jobs.length()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                continue
            new_last = max(new_last, jid)
            group = j.jobGroup().getOrElse(None) if j.jobGroup().isDefined() else None
            span = int(group[len(SPAN_PREFIX):]) if group and group.startswith(SPAN_PREFIX) else None
            self.jobs[jid] = span
            ids = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
            for sid in ids:
                if sid in seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # planned but never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                seen_stages.add(sid)
                self.stages.append(StageStats(
                    stage_id=sid, job_id=jid, span=span, tasks=st.numTasks(),
                    run_s=st.executorRunTime() / 1e3, cpu_s=st.executorCpuTime() / 1e9,
                    shuffle_read_mb=(st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / 2**20,
                    shuffle_write_mb=st.shuffleWriteBytes() / 2**20,
                    spill_mb=(st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20,
                    gc_s=st.jvmGcTime() / 1e3,
                ))
        self._last_job = new_last

    def spark_metrics(self, n_ops: int, wall_s: float) -> dict[str, float]:
        """Jobs, stages and tasks per operation; the rest summed over the
        traced operations, which took ``wall_s`` together."""
        cores = self.spark.sparkContext.defaultParallelism
        run_s = sum(s.run_s for s in self.stages)
        return {
            "spark.jobs": len(self.jobs) / n_ops,
            "spark.stages": len(self.stages) / n_ops,
            "spark.tasks": sum(s.tasks for s in self.stages) / n_ops,
            "spark.shuffle_read_mb": sum(s.shuffle_read_mb for s in self.stages),
            "spark.shuffle_write_mb": sum(s.shuffle_write_mb for s in self.stages),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s.cpu_s for s in self.stages),
            "spark.core_util": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "spark.spill_mb": sum(s.spill_mb for s in self.stages),
            "spark.gc_s": sum(s.gc_s for s in self.stages),
        }

    def jobs_under(self, span_ids: set[int]) -> int:
        return sum(1 for s in self.jobs.values() if s in span_ids)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [asdict(s) for s in sorted(self.spans, key=lambda s: s.id)],
                "jobs": {str(k): v for k, v in sorted(self.jobs.items())},
                "stages": [asdict(s) for s in self.stages],
            }, f, default=str)


def storage_targets(persisted: list) -> list[tuple]:
    """Patch targets for the ``TableStore`` verbs; every ``persist`` result
    is appended to ``persisted``."""
    from activecampaign_api_data_pipeline_spark.storage import TableStore

    return [
        (TableStore, "persist", "storage.persist", lambda span, res: persisted.append(res)),
        (TableStore, "rebuild_gold", "storage.rebuild_gold"),
        (TableStore, "compact_silver", "storage.compact_silver"),
        (TableStore, "maybe_compact", "storage.maybe_compact"),
        (TableStore, "update_kmv", "storage.update_kmv"),
    ]


def storage_metrics(tracer: Tracer, persisted: list, n_ops: int, files: int, size: int) -> dict[str, float]:
    """``storage.*`` metrics of the traced operations; ``files`` and
    ``size`` describe the lake they left behind."""
    st = self_times(tracer.spans)
    persists = tracer.named("storage.persist")
    under = descendants(tracer.spans, {s.id for s in persists})

    def total(name: str) -> float:
        return sum(s.duration for s in tracer.named(name))

    return {
        "storage.persist_calls": len(persists) / n_ops,
        "storage.persist_s": sum(st[s.id] for s in persists),
        "storage.rebuild_gold_s": total("storage.rebuild_gold"),
        "storage.jobs_per_persist": tracer.jobs_under(under) / max(1, len(persists)),
        "storage.new_row_ratio": sum(p.n_new_silver for p in persisted) / max(1, sum(p.n_delta for p in persisted)),
        "storage.compact_s": total("storage.compact_silver"),
        "storage.kmv_s": total("storage.update_kmv"),
        "storage.files": files,
        "storage.bytes_mb": size / 2**20,
    }
