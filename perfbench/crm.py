"""Seeded ActiveCampaign-shaped CRM, a counting mock of the v3 API, and the
``crm_sync`` workload that drives ``run_pipeline`` against it.

The generator uses only ``random.Random(seed)`` and builds plain JSON-able
dicts, so one seed always yields byte-identical API payloads.
"""

from __future__ import annotations

import copy
import glob
import json
import os
import random
import shutil
import sys
import threading
import time
import traceback
import urllib.parse
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow.parquet as pq

from perfbench.stats import dir_size, max_overlap, median, percentile, union_length
from perfbench.trace import Span, Tracer, storage_metrics, storage_targets

FIRST = ["Ada", "Grace", "Alan", "Edsger", "Barbara", "Donald", "Frances", "Ken"]
LAST = ["Lovelace", "Hopper", "Turing", "Dijkstra", "Liskov", "Knuth", "Allen"]

#: Endpoints the mock answers with 404 (the connector's tolerance path).
MISSING_CHILDREN = ("bounceLogs",)
MISSING_DIMS = ("scores",)
#: Child rows per endpoint of the contact at activity rank r (0 = most
#: active) fall off as TOP_ROWS / (r + 1): the top contact needs a second
#: 100-row page, most have a handful. Every seed gets this same profile, so
#: a sync moves the same volume whatever the seed; the seed decides which
#: contact holds which rank, and all row contents.
TOP_ROWS = 140
TS_FIELDS = {"tstamp", "cdate", "udate", "lastdate", "mdate", "created_timestamp", "updated_timestamp"}
#: Child fields that hold the id of a dim row.
DIM_REFS = {
    "campaignid": "campaigns", "automation": "automations", "seriesid": "automations",
    "tag": "tags", "list": "lists", "account": "accounts", "score": "scores",
    "user": "users", "userid": "users", "stage": "dealStages", "group": "dealGroups",
    "d_stageid": "dealStages", "d_groupid": "dealGroups",
}
WORDS = ["open", "click", "call", "met", "sent", "paid", "lost", "won"]


def _ts(rng: random.Random) -> str:
    return (f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}")


def rows_at_rank(rank: int) -> int:
    return max(1, TOP_ROWS // (rank + 1))


@dataclass
class CrmState:
    """Everything the mock serves: ``/api/3/<name>`` collections and
    ``/api/3/<contacts|deals>/<id>/<child>`` rows keyed by parent id."""

    collections: dict[str, list[dict]] = field(default_factory=dict)
    children: dict[str, dict[str, list[dict]]] = field(default_factory=dict)

    def n_rows(self, child: str) -> int:
        return sum(len(v) for v in self.children.get(child, {}).values())

    def versions(self, table: str) -> set[str]:
        """Distinct row contents of ``table``, parent id included."""
        if table == "contacts":
            return {json.dumps(r, sort_keys=True) for r in self.collections["contacts"]}
        return {
            json.dumps([parent, r], sort_keys=True)
            for parent, rows in self.children.get(table, {}).items()
            for r in rows
        }


def _child_row(rng, child, fields, n, dim_ids) -> dict:
    row = {"id": f"{child[:3]}{n}"}
    for f in fields[1:]:
        if f in TS_FIELDS:
            row[f] = _ts(rng)
        elif f in DIM_REFS:
            # a sentinel or dangling id now and then, as the live API serves
            ids = dim_ids[DIM_REFS[f]]
            row[f] = rng.choice(ids) if rng.random() < 0.9 else rng.choice(["", "0", "999999"])
        elif f in ("status", "hidden"):
            row[f] = rng.choice(["0", "1", "2"])
        else:
            row[f] = " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 6)))
    return row


class CrmGenerator:
    """Builds the CRM before (``state_a``) and after (``state_b``) one
    incremental change set, plus the expected gold counts of each."""

    def __init__(
        self,
        seed: int,
        n_contacts: int,
        n_new: int,
        n_changed: int,
        children: tuple[str, ...],
        deal_children: tuple[str, ...],
        dims: tuple[str, ...],
    ):
        from activecampaign_api_data_pipeline_spark.plans.pipeline import (
            CHILD_SPECS,
            DEAL_CHILD_SPECS,
            DIM_ENDPOINTS,
        )

        self.rng = random.Random(seed)
        self.child_specs = {c: CHILD_SPECS[c] for c in children}
        self.deal_child_specs = {c: DEAL_CHILD_SPECS[c] for c in deal_children}
        self.dim_endpoints = {d: DIM_ENDPOINTS[d] for d in dims}
        self._next = 0
        # child rows reference every dim, synced or not, like the live API
        self.dim_ids = {d: [str(i) for i in range(1, 13)] for d in DIM_ENDPOINTS}
        a = CrmState()
        self._dims(a)
        a.collections["contacts"] = []
        by_rank = list(range(1, n_contacts + 1))
        self.rng.shuffle(by_rank)
        self._add_contacts(a, sorted((cid, r) for r, cid in enumerate(by_rank)))
        self.state_a = a
        b = copy.deepcopy(a)
        # changed contacts and new ones sit at fixed ranks, so the change
        # set has the same size for every seed
        step = n_contacts // n_changed
        self.changed = sorted(by_rank[1::step][:n_changed])
        self._change(b, self.changed)
        self.new = list(range(n_contacts + 1, n_contacts + n_new + 1))
        self._add_contacts(b, [(cid, j * (n_contacts // n_new)) for j, cid in enumerate(self.new)])
        self.state_b = b
        self.watermark_a = n_contacts
        self.watermark_b = n_contacts + n_new

    def _id(self) -> int:
        self._next += 1
        return self._next

    def _dims(self, s: CrmState) -> None:
        rng = self.rng
        for d, fields in self.dim_endpoints.items():
            if d in MISSING_DIMS:
                continue
            s.collections[d] = [
                {**{f: f"{d}-{f}-{rng.randint(0, 99)}" for f in fields}, "id": i}
                for i in self.dim_ids[d]
            ]

    def _rows(self, child: str, fields: list[str], k: int) -> list[dict]:
        return [_child_row(self.rng, child, fields, self._id(), self.dim_ids) for _ in range(k)]

    def _add_contacts(self, s: CrmState, ranked: list[tuple[int, int]]) -> None:
        """Add ``(contact id, activity rank)`` contacts with their children."""
        rng = self.rng
        for cid, rank in ranked:
            n = rows_at_rank(rank)
            s.collections["contacts"].append({
                "id": cid, "email": f"c{cid}@example.com", "first_name": rng.choice(FIRST),
                "last_name": rng.choice(LAST), "udate": _ts(rng),
            })
            key = str(cid)
            for child, spec in self.child_specs.items():
                if child in MISSING_CHILDREN:
                    continue
                table = s.children.setdefault(child, {})
                rows = self._rows(child, spec["fields"], n)
                if rows:
                    table[key] = rows
            deals = self._rows("deals", ["id", "title", "stage", "group", "mdate"], min(4, 1 + n // 20))
            if deals:
                s.children.setdefault("deals", {})[key] = deals
            for deal in deals:
                for dchild, spec in self.deal_child_specs.items():
                    rows = self._rows(dchild, spec["fields"], min(6, 1 + n // 20))
                    if rows:
                        s.children.setdefault(dchild, {})[deal["id"]] = rows

    def _change(self, s: CrmState, contact_ids: list[int]) -> None:
        """Per changed contact, on up to three endpoints: one edited row and
        one new row, and per deal of theirs one edited and two new deal
        rows; every other row is served unchanged again."""
        rng = self.rng
        for cid in contact_ids:
            for child in rng.sample(sorted(self.child_specs), min(3, len(self.child_specs))):
                spec = self.child_specs[child]
                if child in MISSING_CHILDREN or spec["ts"] is None:
                    continue
                self._edit(s.children.setdefault(child, {}).setdefault(str(cid), []), child, spec, 1)
            for deal in s.children.get("deals", {}).get(str(cid), []):
                for dchild, spec in self.deal_child_specs.items():
                    self._edit(s.children.setdefault(dchild, {}).setdefault(deal["id"], []), dchild, spec, 2)

    def _edit(self, rows: list[dict], child: str, spec: dict, n_new: int) -> None:
        """Edit one row of ``rows`` in place and append ``n_new`` new ones."""
        if rows:
            i = self.rng.randrange(len(rows))
            rows[i] = {**rows[i], spec["ts"]: "2025-01-01 00:00:00"}
        rows.extend(self._rows(child, spec["fields"], n_new))

    @property
    def tables(self) -> list[str]:
        return ["contacts", *self.child_specs, "deals", *self.deal_child_specs]

    def gold_counts(self, s: CrmState) -> dict[str, int]:
        """Expected gold rows per table: one per key ever served."""
        return {t: len(s.collections["contacts"]) if t == "contacts" else s.n_rows(t) for t in self.tables}

    def silver_counts(self, *states: CrmState) -> dict[str, int]:
        """Expected silver rows per table: distinct row versions served."""
        return {t: len(set().union(*(s.versions(t) for s in states))) for t in self.tables}

    def user_bytes(self) -> int:
        """JSON bytes of every distinct row version generated, dims included."""
        seen: set[str] = set()
        for s in (self.state_a, self.state_b):
            for t in self.tables:
                seen |= s.versions(t)
            seen |= {json.dumps(r, sort_keys=True) for d in self.dim_endpoints for r in s.collections.get(d, [])}
        return sum(len(j) for j in seen)


# ------------------------------------------------------------------ mock API


@dataclass
class RequestRecord:
    start: float
    end: float
    status: int
    rows: int


class CrmMock:
    """ActiveCampaign v3 mock with per-request records for the ``sources``
    layer: offset/limit paging, the ``id_greater`` keyset, child
    collections, 404 for unknown endpoints, and one-shot injected 429/500
    responses per path."""

    def __init__(self, state: CrmState):
        self.state = state
        self.inject: dict[str, list[int]] = {}
        self.records: list[RequestRecord] = []
        self._lock = threading.Lock()
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def start(self) -> str:
        mock = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_GET(self):
                t0 = time.monotonic()
                status, rows, body = mock._serve(self.path)
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                # in flight until the reply is written; a client can hold
                # its reply a moment before the request is recorded
                with mock._lock:
                    mock.records.append(RequestRecord(t0, time.monotonic(), status, rows))

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return f"http://127.0.0.1:{self._server.server_port}"

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=10)
            self._server = None

    def _serve(self, path: str) -> tuple[int, int, bytes]:
        """(status, rows served, body) for one GET."""
        parsed = urllib.parse.urlparse(path)
        params = {k: v[0] for k, v in urllib.parse.parse_qs(parsed.query).items()}
        parts = [p for p in parsed.path.split("/") if p]
        with self._lock:
            pending = self.inject.get(parsed.path)
            code = pending.pop(0) if pending else None
        if code is not None:
            return code, 0, b""
        rows = None
        if len(parts) == 3 and parts[:2] == ["api", "3"]:
            name = parts[2]
            rows = self.state.collections.get(name)
        elif len(parts) == 5 and parts[:2] == ["api", "3"]:
            name = parts[4]
            table = self.state.children.get(name)
            rows = None if table is None else table.get(parts[3], [])
        if rows is None:
            return 404, 0, b""
        page, total = _page(rows, params)
        return 200, len(page), json.dumps({name: page, "meta": {"total": total}}).encode()

    def counters(self, since: int = 0) -> dict[str, float]:
        """``sources.*`` metrics over the records from index ``since``."""
        with self._lock:
            recs = self.records[since:]
        n = len(recs)
        spans = [(r.start, r.end) for r in recs]
        return {
            "sources.requests": n,
            "sources.retries": sum(r.status in (429, 500) for r in recs),
            "sources.not_found": sum(r.status == 404 for r in recs),
            "sources.busy_s": union_length(spans),
            "sources.inflight_max": max_overlap(spans),
            "sources.serve_ms_p50": median([(r.end - r.start) * 1e3 for r in recs]) if recs else 0.0,
            "sources.useful_ratio": sum(r.rows > 0 for r in recs) / n if n else 0.0,
        }


def _page(rows: list[dict], params: dict) -> tuple[list[dict], int]:
    out = rows
    if "id_greater" in params:
        cur = int(params["id_greater"])
        out = sorted((r for r in out if int(r["id"]) > cur), key=lambda r: int(r["id"]))
    limit = int(params.get("limit", 20))
    offset = int(params.get("offset", 0))
    return out[offset : offset + limit], len(out)


def injection_plan(rng: random.Random, state: CrmState, contact_ids: list[int]) -> dict[str, list[int]]:
    """One 429 and one 500 on child paths the step will request."""
    children = sorted(c for c in state.children if not c.startswith("deal"))  # contact children
    plan = {}
    for code in (429, 500):
        cid = rng.choice(contact_ids)
        child = rng.choice(children)
        plan.setdefault(f"/api/3/contacts/{cid}/{child}", []).append(code)
    return plan


# ------------------------------------------------------------------ workload


def gold_commit_time(path: str) -> float:
    """Newest modification time of the parquet part files under ``path``."""
    return max(os.path.getmtime(f) for f in glob.glob(f"{path}/*/*.parquet"))


def parquet_rows(path: str) -> int:
    """Rows in every parquet part file under ``path`` (footers only)."""
    n = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                n += pq.read_metadata(os.path.join(root, name)).num_rows
    return n


#: Endpoints each sync fetches and persists: six persists and three dims
#: per sync. The full CHILD_SPECS/DEAL_CHILD_SPECS set (21 persists) and
#: all 11 dims take about a minute per sync on 4 cores, past the per-run
#: time budget of the benchmark. The subset keeps a dim-enriched child, a
#: plain one, a child endpoint that answers 404, the two-level deals
#: bundle, and a dim that answers 404.
CHILDREN = ("activities", "contactAutomations", "bounceLogs")
DEAL_CHILDREN = ("dealActivities",)
DIMS = ("automations", "users", "scores")
N_CONTACTS, N_NEW, N_CHANGED = 60, 6, 12


class CrmSync:
    """``crm_sync``: closed loop, one client. Each pass runs a full
    ``run_pipeline`` on an empty lake, then an incremental one over changed
    and new contacts, and checks gold, silver and the watermark after each."""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.rng = random.Random(seed ^ 0x5EED)
        self.attempted = self.failed = 0
        self.mock: CrmMock | None = None
        self._passes = 0

    def setup(self) -> None:
        # No warm-up pass: a scheduled sync runs in a fresh process, and a
        # warm-up would cost as much as the sync it warms.
        self.gen = CrmGenerator(self.seed, N_CONTACTS, N_NEW, N_CHANGED, CHILDREN, DEAL_CHILDREN, DIMS)
        self.mock = CrmMock(self.gen.state_a)
        self.url = self.mock.start()
        self.user_bytes = self.gen.user_bytes()

    def close(self) -> None:
        if self.mock is not None:
            self.mock.stop()

    def _config(self, lake: str):
        from activecampaign_api_data_pipeline_spark.plans.pipeline import PipelineConfig

        # rate far above what the mock serves, so the limiter is not what
        # is measured; one fetch partition per core
        return PipelineConfig(
            base_url=self.url, lake_root=lake, rate=10000.0,
            fetch_partitions=self.spark.sparkContext.defaultParallelism,
            children=list(CHILDREN), deal_children=list(DEAL_CHILDREN), dims=list(DIMS),
        )

    def _check(self, lake: str, res: dict, watermark: int, gold: dict, silver: dict) -> list[str]:
        problems = []
        if res["watermark"] != watermark:
            problems.append(f"watermark {res['watermark']} != {watermark}")
        for t in self.gen.tables:
            g, s = parquet_rows(f"{lake}/gold/{t}"), parquet_rows(f"{lake}/silver/{t}")
            if g != gold[t]:
                problems.append(f"gold {t}: {g} rows != {gold[t]}")
            if s != silver[t]:
                problems.append(f"silver {t}: {s} rows != {silver[t]}")
        return problems

    def _step(self, name: str, fn, check, tracer=None) -> float | None:
        """Run one timed operation; count it, and count it failed if it
        raises or its output check finds a problem."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                res = fn()
            else:
                with tracer.operation(name):
                    res = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        dt = time.perf_counter() - t0
        if tracer is not None:
            tracer.collect_jobs()
        print(f"perfbench: {name} {dt:.2f}s", file=sys.stderr)
        problems = check(res)
        if problems:
            self.failed += 1
            print(f"perfbench: {name} output check failed: {problems}", file=sys.stderr)
        return dt

    def one_pass(self, tracer=None) -> dict:
        from activecampaign_api_data_pipeline_spark.plans import pipeline as P

        p = self._passes
        self._passes += 1
        gen, mock = self.gen, self.mock
        lake = f"{self.work}/crm_lake{p}"
        cfg = self._config(lake)
        seed_df = self.spark.createDataFrame([(str(c),) for c in gen.changed], "id string")

        mock.state = gen.state_a
        mock.inject = injection_plan(self.rng, gen.state_a, list(range(1, N_CONTACTS + 1)))
        full = self._step(
            "crm.full_sync",
            lambda: P.run_pipeline(self.spark, cfg, run_id=f"p{p}_full"),
            lambda res: self._check(lake, res, gen.watermark_a, gen.gold_counts(gen.state_a),
                                    gen.silver_counts(gen.state_a)),
            tracer,
        )
        mock.state = gen.state_b
        mock.inject = injection_plan(self.rng, gen.state_b, gen.changed + gen.new)
        since = len(mock.records)
        due = time.time()
        # silver must hold each served row version once: the unchanged rows
        # of the changed contacts are fetched again and must anti-join away
        incr = self._step(
            "crm.incr_sync",
            lambda: P.run_pipeline(self.spark, cfg, seed=seed_df, run_id=f"p{p}_incr"),
            lambda res: self._check(lake, res, gen.watermark_b, gen.gold_counts(gen.state_b),
                                    gen.silver_counts(gen.state_a, gen.state_b)),
            tracer,
        )
        # every changed row was due when the incremental sync started and is
        # committed when its table's gold files are written
        lags = []
        for t in gen.tables:
            n = len(gen.state_b.versions(t) - gen.state_a.versions(t))
            if n and incr is not None:
                lags += [gold_commit_time(f"{lake}/gold/{t}") - due] * n
        served = sum(r.rows for r in mock.records[since:] if r.status == 200)
        files, size = dir_size(lake)
        shutil.rmtree(lake, ignore_errors=True)
        return {"full": full, "incr": incr, "lags": lags, "served": served,
                "files": files, "bytes": size}

    def measure(self, seconds: float) -> dict[str, float]:
        """Passes until ``seconds`` have gone (at least one), medians over
        them: ``full_sync_s`` and ``incr_sync_s`` are the two syncs,
        ``drain_rows_per_s`` the rows the API served the incremental sync
        over its time, ``lag_*`` per changed row the gold write of its
        table minus the start of the incremental sync, ``space_amp`` the
        lake's bytes over the JSON bytes of every generated row version."""
        passes = []
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            passes.append(self.one_pass())
        ok = [r for r in passes if r["full"] is not None and r["incr"] is not None]
        if not ok:
            raise RuntimeError("crm_sync: every pass failed")
        self.untraced_incr_s = median([r["incr"] for r in ok])
        lags = [x for r in ok for x in r["lags"]]
        return {
            "full_sync_s": median([r["full"] for r in ok]),
            "incr_sync_s": median([r["incr"] for r in ok]),
            "drain_rows_per_s": median([r["served"] / r["incr"] for r in ok]),
            "lag_p50_s": median(lags),
            "lag_p90_s": percentile(lags, 0.9),
            "space_amp": median([r["bytes"] for r in ok]) / self.user_bytes,
        }

    def traced(self, tracer: Tracer) -> dict[str, float]:
        from activecampaign_api_data_pipeline_spark.plans import pipeline as P

        since = len(self.mock.records)
        persisted: list = []
        targets = [
            (P, "run_pipeline", "plans.run_pipeline"),
            (P, "load_dim_cached", "plans.load_dim_cached"),
            (P, "build_ac_chatter", "plans.build_ac_chatter"),
            (P, "fetch_children", "sources.fetch_children"),
            *storage_targets(persisted),
        ]
        with tracer.patched(targets):
            r = self.one_pass(tracer)
        if r["full"] is None or r["incr"] is None:
            raise RuntimeError("crm_sync: traced pass failed")
        ops = {s.name: s for s in tracer.spans if s.parent is None}
        wall = sum(s.duration for s in ops.values())

        def spans(name: str, op: str) -> list[Span]:
            return [s for s in tracer.named(name) if s.op == ops[op].id]

        # mart and digest writes plus the watermark: from the return of
        # build_ac_chatter to the return of run_pipeline
        mart = sum(spans("plans.run_pipeline", op)[0].end - spans("plans.build_ac_chatter", op)[0].end
                   for op in ops)
        return {
            **self.mock.counters(since),
            **tracer.spark_metrics(len(ops), wall),
            **storage_metrics(tracer, persisted, len(ops), r["files"], r["bytes"]),
            "plans.dims_s": sum(s.duration for s in spans("plans.load_dim_cached", "crm.full_sync")),
            "plans.dims_incr_s": sum(s.duration for s in spans("plans.load_dim_cached", "crm.incr_sync")),
            "plans.mart_s": mart,
            # the incremental syncs only: the untraced full sync is the
            # process's first, cold one, and the traced one is not
            "trace.overhead_s": r["incr"] - self.untraced_incr_s,
        }
