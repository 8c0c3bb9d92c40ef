"""End-to-end pipeline orchestration — the reference's ``run_pipeline``.

Re-expresses run_ac_extraction.py:1537-1703 (SURVEY.md §3.1) on the Spark
stack built here: REST connector (sources.ac_rest), medallion store
(storage.TableStore), conform/enrich/rollup operators, with the
reference's incremental semantics:

    seed CSV → contact ids [S8]
    + keyset fetch of NEW contacts above the stored watermark [S2/T1]
    → contact universe [U3]
    → TTL-cached dim snapshots [S6]
    → per-contact child fan-out ×16 [S4] → medallion persists [K2]
    → two-level deals bundle ×3 [S5]
    → chatter mart + per-contact digest [§3.3] + per-contact txt [K4]
    → advance watermark only after success [T1]

Differences by design (SURVEY.md §7): no full-master rewrites (the store
is incremental), explicit tiebreakers everywhere, sentinel strings
normalized to NULL at silver. The per-contact fetches run distributed
under a GLOBAL rate budget (``cfg.rate`` is divided across fetch
partitions — the reference's deliberate 4 req/s stays an aggregate cap,
:42).

Schedule: the API serves one client at a time. A sync makes two fan-out
passes on the calling thread, each at the full budget: one over the
contacts for every ``cfg.children`` endpoint plus deals, then one over
this run's deals for every ``cfg.deal_children`` endpoint. Each pass runs
once, is materialized (``localCheckpoint``), and is split into one frame
per table. Everything else that is per table — each persist and
each dim load — is a task on a driver-side thread pool, one task per
table, so the persists overlap each other and the deal-level pass. A dim
load takes the API only for its fetch. The mart's chatter is materialized
once, and the chatter and digest are written from it side by side once
every persist has finished. A failed task stops the run before its next
fan-out; ``run_pipeline`` raises once every task it started has finished,
and the watermark stays where it was (T1).

The mart (:func:`build_ac_chatter`) takes each source's event time from its
table spec, and every dim name through one rule (:func:`_lookup`: a
broadcast left join on the dim's ``id``, NULL names when the dim was not
loaded), so ``chatter_master`` has one schema whatever ``cfg.dims`` holds.
The sync's own lake files, the dim cache's ``_meta.json`` and
``state.json``, go through the store's Hadoop FileSystem helpers, so
``lake_root`` may be a local path or any Hadoop URI.
"""

from __future__ import annotations

import json
import threading
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from activecampaign_api_data_pipeline_spark.functions.scalars import (
    code_map,
    full_name,
    id_from_url,
    nullify_sentinels,
)
from activecampaign_api_data_pipeline_spark.operators.conform import conform_union
from activecampaign_api_data_pipeline_spark.operators.rollup import digest_lines, set_rollup
from activecampaign_api_data_pipeline_spark.operators.snapshots import top_n_per_group
from activecampaign_api_data_pipeline_spark.sources.fanout import ENDPOINT_COL, fetch_children
from activecampaign_api_data_pipeline_spark.sources.rest_client import RestClient
from activecampaign_api_data_pipeline_spark.storage import (
    SIDECAR_INCOMPLETE,
    TableStore,
    max_id_watermark,
    read_text_sidecar,
    write_digests,
    write_text_sidecar,
)

#: id-column candidates probed case-insensitively on the seed
#: (reference :280-301).
SEED_ID_CANDIDATES = ("id", "contact_id", "contactid")
SEED_EMAIL_CANDIDATES = ("email",)  # reference :281 (case folded by _seed_col)

#: Code→label maps (reference P5, STATUS_MAP_AUT/HIDDEN_MAP :409-410).
#: "2": "Completed" is a documented superset of the reference's map.
AUTOMATION_STATUS_LABELS = {"1": "Active", "0": "Inactive", "2": "Completed"}
HIDDEN_LABELS = {"1": "Yes", "0": "No"}


def _enrich_entry_counts(df: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """automationEntryCounts labels + dim name (reference :768-787, :981-994):
    BOTH status and hidden code maps, plus ``automation_name_dim`` from the
    automations dim (aec's ``id`` IS the automation id)."""
    df = df.withColumn(
        "status_label", code_map(F.col("status"), AUTOMATION_STATUS_LABELS)
    ).withColumn("hidden_label", code_map(F.col("hidden"), HIDDEN_LABELS))
    autos = dims.get("automations")
    if autos is not None:
        m = autos.select(F.col("id"), F.col("name").alias("automation_name_dim"))
        df = df.join(F.broadcast(m), "id", "left")
    return df


def _enrich_contact_automations(df: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """Persisted automation_name (reference ``enrich_contact_automations``
    :961-978: ``automation`` else ``seriesid`` mapped through the dim)."""
    autos = dims.get("automations")
    if autos is None:
        return df
    m = autos.select(F.col("id").alias("_aid"), F.col("name").alias("automation_name"))
    return (
        df.withColumn(
            "_aid",
            F.coalesce(
                nullify_sentinels(F.col("automation")), nullify_sentinels(F.col("seriesid"))
            ),
        )
        .join(F.broadcast(m), "_aid", "left")
        .drop("_aid")
    )


#: Child collections fetched per contact (reference S4, :422-787 — all 16).
#: Fields are the columns the mart consumes; the connector keeps them
#: stringly. Optional ``enrich`` runs dim lookups before persist.
CHILD_SPECS: dict[str, dict] = {
    "activities": {"fields": ["id", "tstamp", "reference_type", "description", "user"], "ts": "tstamp"},
    "emailActivities": {"fields": ["id", "tstamp", "type", "campaignid", "messageid"], "ts": "tstamp"},
    "contactNotes": {"fields": ["id", "cdate", "note", "userid"], "ts": "cdate"},
    "contactTags": {"fields": ["id", "cdate", "tag"], "ts": "cdate"},
    "contactLists": {"fields": ["id", "udate", "list"], "ts": "udate"},
    "contactLogs": {"fields": ["id", "tstamp", "action", "message"], "ts": "tstamp"},
    "bounceLogs": {"fields": ["id", "tstamp", "reason"], "ts": "tstamp"},
    "trackingLogs": {"fields": ["id", "tstamp", "url"], "ts": "tstamp"},
    "geoIps": {"fields": ["id", "tstamp", "ip", "country"], "ts": "tstamp"},
    "contactGoals": {"fields": ["id", "cdate", "name"], "ts": "cdate"},
    # single-page blob of per-contact field/geo data (reference :653-666)
    "contactData": {
        "fields": ["id", "created_timestamp", "updated_timestamp", "geoCountry2", "geoCity", "geoIp4"],
        "ts": "updated_timestamp",
    },
    "scoreValues": {"fields": ["id", "tstamp", "score", "scoreValue"], "ts": "tstamp"},
    "accountContacts": {"fields": ["id", "cdate", "account"], "ts": "cdate"},
    "contactTasks": {"fields": ["id", "udate", "title", "note", "duedate", "userid"], "ts": "udate"},
    "contactAutomations": {
        "fields": ["id", "lastdate", "automation", "seriesid", "status"],
        "ts": "lastdate",
        "enrich": _enrich_contact_automations,
    },
    # per-contact automation entry counts + label maps (reference :768-787)
    "automationEntryCounts": {
        "fields": ["id", "name", "entered", "status", "hidden"],
        "ts": None,
        "enrich": _enrich_entry_counts,
    },
}

#: Two-level deals bundle (reference S5, :793-861): deals are fetched per
#: contact, then notes/tasks/activities per deal — chained fan-outs.
#: ``DEAL_FIELDS`` are the deal columns, ``DEAL_CHILD_SPECS`` the second level.
DEAL_FIELDS = ["id", "title", "stage", "group", "mdate"]
DEAL_CHILD_SPECS: dict[str, dict] = {
    "dealNotes": {"fields": ["id", "cdate", "note"], "ts": "cdate"},
    "dealTasks": {"fields": ["id", "udate", "title", "duedate"], "ts": "udate"},
    "dealActivities": {
        "fields": ["id", "cdate", "d_stageid", "d_groupid", "dataAction", "userid"],
        "ts": "cdate",
    },
}

#: Dim snapshot endpoints (reference S6, :387-403 — all 11).
DIM_ENDPOINTS: dict[str, list[str]] = {
    "campaigns": ["id", "name", "message_id", "seriesid", "links"],
    "messages": ["id", "subject"],
    "automations": ["id", "name"],
    "tags": ["id", "tag"],
    "lists": ["id", "name"],
    "users": ["id", "firstName", "lastName", "email"],
    "fields": ["id", "title", "type"],
    "dealGroups": ["id", "title"],
    "dealStages": ["id", "title"],
    "accounts": ["id", "name"],
    "scores": ["id", "name"],
}


@dataclass
class PipelineConfig:
    base_url: str
    lake_root: str
    #: GLOBAL API request budget in req/s (reference 4 req/s, :42). Each
    #: fetch partition gets rate/fetch_partitions so the aggregate stays
    #: under the cap.
    rate: float = 4.0
    page_limit: int = 100
    refresh_days: float = 7.0
    max_events_per_contact: int = 500
    fetch_partitions: int = 4
    #: hard cap on rows a DIM fetch may materialize on the driver. Dims are
    #: small by contract (the TTL cache holds them driver-side, S6); a
    #: fact-sized endpoint routed through the dim path would otherwise OOM
    #: the driver silently. Exceeding the cap raises, steering callers to
    #: the distributed ``ac_rest`` source.
    max_dim_rows: int = 100_000
    #: IANA zone for the chatter mart's human-readable local time column
    #: (reference :1403 "LOCAL_TZ"); None = UTC-only output shape.
    local_tz: str | None = None
    children: list[str] = field(default_factory=lambda: list(CHILD_SPECS))
    deal_children: list[str] = field(default_factory=lambda: list(DEAL_CHILD_SPECS))
    dims: list[str] = field(default_factory=lambda: list(DIM_ENDPOINTS))


# ------------------------------------------------------------------ S8 seed

def _seed_col(seed: DataFrame, candidates: tuple[str, ...]) -> str | None:
    """Case-insensitive column-candidate probe (reference :292-301)."""
    by_lower = {c.lower(): c for c in seed.columns}
    for cand in candidates:
        if cand in by_lower:
            return by_lower[cand]
    return None


def resolve_seed_ids(seed: DataFrame, cfg: "PipelineConfig | None" = None) -> DataFrame:
    """Case-insensitive id-column candidate pick + key dedup (S8/A3), with
    the reference's email→id API fallback (:306-327).

    Returns ``(contact_id, email_seed)``: with an id column, ids come from
    the seed directly (``email_seed`` from its email column if present,
    else null); with ONLY an email column and a ``cfg``, each email is
    resolved via ``filters[email]`` + ``limit 1`` probes through the
    rate-budgeted client (:func:`..sources.fanout.resolve_ids_by_email`).
    Raises when neither path applies (the reference returns an empty frame
    for no-email seeds, :329, but an abort surfaces misconfigured seeds).
    """
    id_col = _seed_col(seed, SEED_ID_CANDIDATES)
    email_col = _seed_col(seed, SEED_EMAIL_CANDIDATES)
    if id_col is not None:
        email_expr = (
            F.nullif(F.trim(F.col(email_col)), F.lit(""))
            if email_col is not None
            else F.lit(None).cast("string")
        )
        return (
            seed.select(
                nullify_sentinels(F.col(id_col)).alias("contact_id"),
                email_expr.alias("email_seed"),
            )
            .filter(F.col("contact_id").isNotNull())
            .dropDuplicates(["contact_id"])
        )
    if email_col is not None and cfg is not None:
        from activecampaign_api_data_pipeline_spark.sources.fanout import resolve_ids_by_email

        return (
            resolve_ids_by_email(
                seed.select(F.col(email_col).alias("email")),
                base_url=cfg.base_url,
                rate=cfg.rate,
                n_partitions=cfg.fetch_partitions,
            )
            .filter(nullify_sentinels(F.col("contact_id")).isNotNull())
            .dropDuplicates(["contact_id"])
        )
    raise ValueError(
        f"seed has no id column among {SEED_ID_CANDIDATES}"
        + ("" if cfg is not None else " (and no cfg for the email fallback)")
        + f": {seed.columns}"
    )


# ------------------------------------------------------------- S6 dim cache

#: Held by whichever client is spending the API budget: a fan-out or a dim
#: fetch. ``cfg.rate`` is one budget, so two clients never run at once.
_API_TURN = threading.Lock()


def load_dim_cached(
    spark: SparkSession,
    cfg: PipelineConfig,
    name: str,
    fields: list[str],
) -> DataFrame:
    """TTL-cached dim snapshot (S6, :335-384): parquet + ``_meta.json``
    sidecar (:func:`..storage.write_text_sidecar`), refetched when older
    than ``refresh_days`` or when the sidecar is absent or unreadable;
    404 → empty dim. The dim
    fetch is a single driver-side client, so it uses the full budget, and
    waits for its turn at the API."""
    cache_dir = f"{cfg.lake_root}/dims/{name}"
    meta_path = f"{cache_dir}/_meta.json"
    try:
        meta = json.loads(read_text_sidecar(spark, meta_path))
        fresh = time.time() - meta["fetched_at"] < cfg.refresh_days * 86400
    except SIDECAR_INCOMPLETE:  # absent, or junk left by a crashed write
        fresh = False
    if not fresh:
        client = RestClient(cfg.base_url, rate=cfg.rate)
        with _API_TURN:
            rows = client.paged(f"api/3/{name}", collection=name, page_limit=cfg.page_limit)
        data = []
        for r in rows:
            if len(data) >= cfg.max_dim_rows:
                raise ValueError(
                    f"dim '{name}' exceeded max_dim_rows={cfg.max_dim_rows}; "
                    "dims are materialized driver-side for the TTL cache — "
                    "read fact-sized endpoints through the distributed "
                    "'ac_rest' DataSource instead"
                )
            data.append(tuple(None if r.get(f) is None else str(r.get(f)) for f in fields))
        schema = ", ".join(f"{f} string" for f in fields)
        df = spark.createDataFrame(data, schema)
        df.coalesce(1).write.mode("overwrite").parquet(cache_dir)
        write_text_sidecar(spark, meta_path, json.dumps({"fetched_at": time.time(), "n": len(data)}))
    return spark.read.parquet(cache_dir)


# ------------------------------------------------------------ orchestration

def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    seed: DataFrame | None = None,
    incremental_only: bool = False,
    run_id: str | None = None,
) -> dict:
    """One batch run (reference :1537-1703). Returns summary counters."""
    from activecampaign_api_data_pipeline_spark.sources.ac_rest import ACRestDataSource

    spark.dataSource.register(ACRestDataSource)
    # required whenever a python source implements pushFilters (S3)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    store = TableStore(spark, cfg.lake_root)
    state = store.load_state()
    watermark = int(state.get("max_contact_id", 0))
    run_id = run_id or time.strftime("%Y%m%d_%H%M%S", time.gmtime())

    # --- contact universe: seed ∪ new-above-watermark (S2/S8/U3, :1562-1584).
    # The scan is materialized ONCE to a run-scoped parquet before anything
    # consumes it: every downstream action (universe, fan-outs, watermark)
    # reads the same immutable snapshot, so the watermark can never advance
    # past a contact that was fetched mid-run but not persisted (the
    # reference computes the watermark from the rows it actually fetched,
    # :1696-1698).
    scan = (
        spark.read.format("ac_rest")
        .option("base_url", cfg.base_url)
        .option("endpoint", "contacts")
        .option("fields", "id,email,first_name,last_name,udate")
        .option("global_rate", str(cfg.rate))
        .option("page_limit", str(cfg.page_limit))
        .option("id_greater", str(watermark))
        .load()
    )
    fetch_path = f"{cfg.lake_root}/runs/{run_id}/new_contacts"
    scan.write.mode("overwrite").parquet(fetch_path)
    new_contacts = spark.read.parquet(fetch_path)
    ids_new = new_contacts.select(F.col("id").alias("contact_id"))
    seed_map = None
    if seed is not None:
        # id+email map, possibly via API probes (S8 email fallback). When
        # the fallback fired this lineage contains live fetches, so it is
        # materialized to a run-scoped parquet exactly like the contact
        # scan: downstream consumers (universe, backfill) must not re-probe
        # the API, and the rate budget is spent once.
        seed_map = resolve_seed_ids(seed, cfg)
        seed_path = f"{cfg.lake_root}/runs/{run_id}/seed_map"
        seed_map.write.mode("overwrite").parquet(seed_path)
        seed_map = spark.read.parquet(seed_path)
    if incremental_only or seed_map is None:
        universe = ids_new
    else:
        universe = (
            seed_map.select("contact_id").unionByName(ids_new).dropDuplicates(["contact_id"])
        )

    # --- contacts table, seed-email backfill (J3, :1593-1595). Seed id and
    # email columns are resolved by the same case-insensitive probe as
    # resolve_seed_ids (a seed with ``ID``/``Email`` headers works); an
    # emails-only seed backfills from the API-resolved (id, email) map.
    contacts = new_contacts.select(
        F.col("id").alias("contact_id"), "email", "first_name", "last_name", "udate"
    )
    seed_email_col = _seed_col(seed, SEED_EMAIL_CANDIDATES) if seed is not None else None
    if seed_map is not None and seed_email_col is not None:
        contacts = (
            universe.join(contacts, "contact_id", "left")
            .join(F.broadcast(seed_map), "contact_id", "left")
            .select(
                "contact_id",
                F.coalesce(F.nullif(F.trim("email"), F.lit("")), F.col("email_seed")).alias("email"),
                "first_name",
                "last_name",
                "udate",
            )
        )

    # --- one task per table on a driver-side pool (see the module
    # docstring). Tasks go through inheritable_thread_target so the
    # caller's job group and description reach their Spark jobs.
    n_tasks = 1 + len(cfg.dims) + len(cfg.children)
    if cfg.deal_children:
        n_tasks += 1 + len(cfg.deal_children)
    started: list[Future] = []
    dim_tasks: dict[str, Future] = {}
    persists: dict[str, Future] = {}
    with ThreadPoolExecutor(max_workers=n_tasks, thread_name_prefix="run_pipeline") as pool:

        def submit(fn, *args) -> Future:
            # a failed task stops the run before the next fan-out spends
            # API budget; leaving the ``with`` waits for the running tasks
            for f in started:
                if f.done() and f.exception() is not None:
                    raise f.exception()
            started.append(pool.submit(inheritable_thread_target(spark)(fn), *args))
            return started[-1]

        def fan_out(ids: DataFrame, template: str, endpoints: dict[str, list[str]],
                    parent_col: str = "contact_id", **kw) -> dict[str, DataFrame]:
            # one job fetches every endpoint of a parent level and is
            # materialized once; each table is a slice of it. cfg.rate is
            # the GLOBAL budget; fetch_children divides it across its
            # partitions so the aggregate stays under the cap
            with _API_TURN:
                fetched = fetch_children(
                    ids,
                    base_url=cfg.base_url,
                    endpoint_template=template,
                    endpoints=endpoints,
                    parent_col=parent_col,
                    rate=cfg.rate,
                    page_limit=cfg.page_limit,
                    n_partitions=cfg.fetch_partitions,
                    **kw,
                ).localCheckpoint(eager=True)
            return {
                name: fetched.filter(F.col(ENDPOINT_COL) == name).select(*fields, parent_col)
                for name, fields in endpoints.items()
            }

        def persist(df: DataFrame, table: str, keys: list[str], ts: str | None,
                    enrich=None) -> int:
            if enrich is not None:
                df = enrich(df, {d: f.result() for d, f in dim_tasks.items()})
            return store.persist(df, table, keys, run_id=run_id, updated_col=ts).n_delta

        submit(persist, contacts, "contacts", ["contact_id"], "udate")

        # --- dims with TTL cache (S6)
        for d in cfg.dims:
            dim_tasks[d] = submit(load_dim_cached, spark, cfg, d, DIM_ENDPOINTS[d])

        # --- contact-level pass: every per-contact child (S4, :1605-1664)
        # plus the deals of the two-level bundle (S5, :793-861) → persists (K2)
        endpoints = {child: CHILD_SPECS[child]["fields"] for child in cfg.children}
        if cfg.deal_children:
            endpoints["deals"] = DEAL_FIELDS
        fetched = {}
        if endpoints:
            fetched = fan_out(universe, "api/3/contacts/{id}/{endpoint}", endpoints)
        for child in cfg.children:
            spec = CHILD_SPECS[child]
            persists[child] = submit(
                persist, fetched[child], child, ["id", "contact_id"], spec["ts"], spec.get("enrich")
            )

        # --- deal-level pass: this run's deal ids drive a SECOND fan-out;
        # contact_id rides along via a broadcast join back to those deals
        if cfg.deal_children:
            deals = fetched["deals"]
            persists["deals"] = submit(persist, deals, "deals", ["id", "contact_id"], "mdate")
            deal_ids = deals.select(
                F.col("id").alias("deal_id"), "contact_id"
            ).dropDuplicates(["deal_id"])
            fetched = fan_out(
                deal_ids, "api/3/deals/{id}/{endpoint}",
                {d: DEAL_CHILD_SPECS[d]["fields"] for d in cfg.deal_children},
                id_col="deal_id", parent_col="deal_id",
            )
            for dchild in cfg.deal_children:
                persists[dchild] = submit(
                    persist, fetched[dchild].join(F.broadcast(deal_ids), "deal_id"), dchild,
                    ["id", "deal_id"], DEAL_CHILD_SPECS[dchild]["ts"],
                )

        for f in started:
            f.result()
        counts = {t: f.result() for t, f in persists.items()}
        dims = {d: f.result() for d, f in dim_tasks.items()}

        # --- mart (§3.3) + per-contact txt digests (K4, :1684-1692); the
        # chatter and the digest are written side by side, both from the
        # one chatter that build_ac_chatter materialized
        chatter, digest = build_ac_chatter(
            store, dims, cfg.max_events_per_contact, local_tz=cfg.local_tz
        )
        mart = f"{cfg.lake_root}/mart"

        def write_digest() -> None:
            digest.write.mode("overwrite").parquet(f"{mart}/contact_digest")
            write_digests(
                spark.read.parquet(f"{mart}/contact_digest").filter(F.col("digest") != ""),
                f"{mart}/contact_digest_txt",
                "contact_id",
                "digest",
            )

        marts = [
            submit(chatter.write.mode("overwrite").parquet, f"{mart}/chatter_master"),
            submit(write_digest),
        ]
        for f in marts:
            f.result()

    # --- watermark advanced only after everything succeeded (T1, :1696-1700);
    # computed from the materialized snapshot that was persisted above.
    state["max_contact_id"] = max(watermark, max_id_watermark(new_contacts, "id") or 0)
    state["last_run_id"] = run_id
    store.save_state(state)
    return {"run_id": run_id, "watermark": state["max_contact_id"], "children": counts}


# ------------------------------------------------------------------- §3.3

AC_EVENT_SCHEMA: list[tuple[str, str]] = [
    ("event_id", "string"),
    ("contact_id", "string"),
    ("source_row_id", "string"),
    ("event_ts", "string"),
    ("event_type", "string"),
    ("title", "string"),
    ("detail", "string"),
    ("campaign_id", "string"),
    ("message_id", "string"),
    ("automation_id", "string"),
    ("deal_id", "string"),
    ("deal_stage_id", "string"),
    ("pipeline_id", "string"),
    ("score_id", "string"),
    ("user_id", "string"),
]


def _lookup(df: DataFrame, dim: DataFrame | None, key: str, **cols: Column) -> DataFrame:
    """Left-join a broadcast dim's ``id`` onto ``key``, adding ``cols``
    (expressions over the dim's columns); typed NULL strings when the dim
    was not loaded. ``df`` keeps its column order and the new columns
    follow it, so the mart has one schema whatever dims a run loaded."""
    if dim is None:
        return df.withColumns({c: F.lit(None).cast("string") for c in cols})
    m = dim.select(F.col("id").alias("_dim_id"), *(e.alias(c) for c, e in cols.items()))
    return df.join(F.broadcast(m), F.col(key) == F.col("_dim_id"), "left").drop("_dim_id")


def build_ac_chatter(
    store: TableStore,
    dims: dict[str, DataFrame],
    max_events_per_contact: int = 500,
    local_tz: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Chatter mart + digest from stored gold tables (reference :1016-1507).

    Conform each child source onto AC_EVENT_SCHEMA [U2] with the
    reference's per-source title/detail templates (:1244-1366), its event
    time from the table spec's ``ts``, cap per-contact history [W2],
    enrich names via broadcast joins [J1/J2/P6] — campaign/message/
    automation chains (:899-994), stage/pipeline/account/score/user name
    maps (:1044-1127), deal facts (:1154-1162) — render chatter lines with
    the acting user [F1, :1411-1422], order deterministically [O1], and
    roll up the per-contact digest [A5/A6/W3, :1427-1506].

    Every dim lookup goes through :func:`_lookup`, and the tag, list and
    account ids in ``detail`` become names through one join keyed by
    ``(event_type, id)``. A dim that was not loaded gives NULL names, so
    the chatter has one schema (names, types, order) whatever ``dims``
    holds.

    The sorted chatter is computed here, eagerly, and materialized once
    (``localCheckpoint``); the returned chatter is that copy, and the
    returned digest is derived from it.
    """
    def best(table: str) -> DataFrame | None:
        try:
            return store.read_best(table)
        except FileNotFoundError:
            return None

    # per source: event type, title, detail and ids; event_ts is the
    # spec's ``ts`` and a deal child's deal_id its parent column
    conformed = {
        "activities": {
            "event_type": F.coalesce(F.col("reference_type"), F.lit("activity")),
            "title": F.concat_ws(" ", F.lit("Actividad:"), F.col("reference_type")),
            "detail": F.col("description"),
            "user_id": nullify_sentinels(F.col("user")),
        },
        "emailActivities": {
            "event_type": F.concat_ws("_", F.lit("email"), F.col("type")),
            "title": F.concat_ws(" ", F.lit("Email:"), F.col("type")),
            "campaign_id": nullify_sentinels(F.col("campaignid")),
            "message_id": nullify_sentinels(F.col("messageid")),
        },
        "contactNotes": {
            "event_type": F.lit("note"),
            "title": F.lit("Nota"),
            "detail": F.col("note"),
            "user_id": nullify_sentinels(F.col("userid")),
        },
        "contactLogs": {
            "event_type": F.concat_ws("_", F.lit("log"), F.col("action")),
            "title": F.concat_ws(" ", F.lit("Log:"), F.col("action")),
            "detail": F.col("message"),
        },
        "bounceLogs": {"event_type": F.lit("bounce"), "title": F.lit("Email rebotado"),
                       "detail": F.col("reason")},
        "contactTags": {"event_type": F.lit("tag_added"), "title": F.lit("Tag"), "detail": F.col("tag")},
        "contactLists": {"event_type": F.lit("list_membership"), "title": F.lit("Lista"),
                         "detail": F.col("list")},
        "trackingLogs": {"event_type": F.lit("page_visit"), "title": F.lit("Visita"),
                         "detail": F.col("url")},
        "geoIps": {"event_type": F.lit("geo_ip"), "title": F.lit("Geo"),
                   "detail": F.concat_ws(" ", F.col("ip"), F.col("country"))},
        "contactGoals": {"event_type": F.lit("goal"), "title": F.lit("Meta"), "detail": F.col("name")},
        "scoreValues": {
            "event_type": F.lit("score_change"),
            "title": F.lit("Score"),
            "detail": F.coalesce(F.col("scoreValue"), F.col("score")),
            "score_id": nullify_sentinels(F.col("score")),
        },
        "accountContacts": {"event_type": F.lit("account_link"), "title": F.lit("Cuenta"),
                            "detail": F.col("account")},
        "contactTasks": {
            "event_type": F.lit("task"),
            "title": F.concat_ws(" ", F.lit("Tarea:"), F.col("title")),
            "detail": F.col("note"),
            "user_id": nullify_sentinels(F.col("userid")),
        },
        "contactAutomations": {
            "event_type": F.lit("automation_run"),
            "title": F.lit("Automatización"),
            # P5 code→label with pass-through on unknown codes (:409-410,781-782)
            "detail": code_map(F.col("status"), AUTOMATION_STATUS_LABELS),
            # the event's own automation id wins over the campaign chain (J5)
            "automation_id": F.coalesce(
                nullify_sentinels(F.col("automation")), nullify_sentinels(F.col("seriesid"))
            ),
        },
        "dealActivities": {
            "event_type": F.lit("deal_activity"),
            "title": F.lit("Actividad de deal"),  # rendered with the deal title below
            "detail": nullify_sentinels(F.col("dataAction")),  # folded into stage=/action=
            "deal_stage_id": nullify_sentinels(F.col("d_stageid")),
            "pipeline_id": nullify_sentinels(F.col("d_groupid")),
            "user_id": nullify_sentinels(F.col("userid")),
        },
        "dealNotes": {"event_type": F.lit("deal_note"), "title": F.lit("Nota de deal"),
                      "detail": F.col("note")},
        "dealTasks": {"event_type": F.lit("deal_task"), "title": F.lit("Tarea de deal"),
                      "detail": F.col("title")},
    }
    specs = {**CHILD_SPECS, **DEAL_CHILD_SPECS}
    branches = []
    for source, mapping in conformed.items():
        df = best(source)
        if df is None:
            continue
        base = {
            "event_id": F.concat_ws(":", F.lit(source), F.col("id")),
            "contact_id": F.col("contact_id"),
            "source_row_id": F.col("id"),
            "event_ts": F.col(specs[source]["ts"]),
        }
        if source in DEAL_CHILD_SPECS:
            base["deal_id"] = F.col("deal_id")
        branches.append((source, df, {**base, **mapping}))
    if not branches:
        raise FileNotFoundError("no child tables persisted yet")

    unified = conform_union(branches, AC_EVENT_SCHEMA)
    capped = top_n_per_group(
        unified, ["contact_id"], [F.col("event_ts"), F.col("event_id")],
        max_events_per_contact,
    )

    # campaign → message → automation enrichment chains (J1/J5/F6,
    # reference :899-994): campaign name by id; message id from the event
    # else the campaign's; automation from the event else campaign seriesid
    # else the maybe-JSON links column (sentinels "" / "0" → NULL throughout)
    capped = _lookup(
        capped, dims.get("campaigns"), "campaign_id",
        campaign_name=F.col("name"),
        _camp_msg_id=nullify_sentinels(F.col("message_id")),
        _camp_auto_id=F.coalesce(
            nullify_sentinels(F.col("seriesid")),
            id_from_url(F.get_json_object("links", "$.automation")),
        ),
    ).withColumns({
        "message_id": F.coalesce("message_id", "_camp_msg_id"),
        "automation_id": F.coalesce("automation_id", "_camp_auto_id"),
    }).drop("_camp_msg_id", "_camp_auto_id")
    capped = _lookup(capped, dims.get("messages"), "message_id", message_subject=F.col("subject"))
    capped = _lookup(capped, dims.get("automations"), "automation_id", automation_name=F.col("name"))

    # deal title/stage/pipeline from the deals FACT table (reference
    # :1154-1162 — the one enrichment whose lookup side is a fact, not a
    # dim catalog); the event's own d_stageid/d_groupid win (:1332-1337)
    deals = best("deals")
    if deals is None:
        capped = capped.withColumns(
            {c: F.lit(None).cast("string") for c in ("deal_title", "deal_stage", "_deal_group")}
        )
    else:
        dl = deals.select(
            F.col("id").alias("_deal_id"),
            F.col("title").alias("deal_title"),
            F.col("stage").alias("deal_stage"),
            F.col("group").alias("_deal_group"),
        ).dropDuplicates(["_deal_id"])
        # no broadcast hint: deals is a FACT table (unbounded at scale);
        # Catalyst auto-broadcasts under the threshold, AQE picks a
        # shuffle join above it
        capped = capped.join(dl, F.col("deal_id") == F.col("_deal_id"), "left").drop("_deal_id")
    capped = capped.withColumns({
        "deal_stage_id": F.coalesce("deal_stage_id", "deal_stage"),
        "pipeline_id": F.coalesce("pipeline_id", "_deal_group"),
    }).drop("_deal_group")

    # stage / pipeline / user / score name maps (reference :1094-1127),
    # keyed on the id columns carried through the conform schema
    capped = _lookup(capped, dims.get("dealStages"), "deal_stage_id", deal_stage_name=F.col("title"))
    capped = _lookup(capped, dims.get("dealGroups"), "pipeline_id", pipeline_name=F.col("title"))
    capped = _lookup(
        capped, dims.get("users"), "user_id",
        user_name=full_name(F.col("firstName"), F.col("lastName"), F.col("email")),
    )
    capped = _lookup(capped, dims.get("scores"), "score_id", score_name=F.col("name"))

    # tag/list/account id→name (J1): the id rides in ``detail`` and is
    # replaced by its name, one broadcast join keyed by (event_type, id)
    names = [
        dims[d].select(F.lit(t).alias("_nm_type"), F.col("id").alias("_nm_id"), F.col(c).alias("_nm"))
        for d, t, c in (
            ("tags", "tag_added", "tag"),
            ("lists", "list_membership", "name"),
            ("accounts", "account_link", "name"),
        )
        if dims.get(d) is not None
    ]
    if names:
        on = (F.col("event_type") == F.col("_nm_type")) & (F.col("detail") == F.col("_nm_id"))
        capped = (
            capped.join(F.broadcast(reduce(DataFrame.unionByName, names)), on, "left")
            .withColumn("detail", F.coalesce("_nm", "detail"))
            .drop("_nm_type", "_nm_id", "_nm")
        )

    # per event type, on disjoint types: email detail = subject else
    # campaign name (:1241); the automation NAME in the title (:1317-1321);
    # a deal activity's title carries the deal title and its detail is
    # "stage=<name> action=<action>" with the stage NAME when the dim
    # resolves it, else the raw stage id (:1330-1340); a score event's
    # detail is prefixed with the score NAME (:1123-1127)
    etype = F.col("event_type")
    is_da = etype == "deal_activity"
    capped = capped.withColumns({
        "title": F.when(
            (etype == "automation_run") & F.col("automation_name").isNotNull(),
            F.concat_ws(": ", F.lit("Automatización"), F.col("automation_name")),
        ).when(is_da, F.concat_ws(": ", F.lit("Deal"), F.col("deal_title")))
        .otherwise(F.col("title")),
        "detail": F.when(
            etype.startswith("email_"), F.coalesce("message_subject", "campaign_name", "detail")
        ).when(
            is_da,
            F.concat_ws(
                " ",
                F.concat(F.lit("stage="), F.coalesce("deal_stage_name", "deal_stage_id", F.lit(""))),
                F.concat(F.lit("action="), F.coalesce("detail", F.lit(""))),
            ),
        ).when(
            (etype == "score_change") & F.col("score_name").isNotNull(),
            F.concat_ws(": ", F.col("score_name"), F.col("detail")),
        ).otherwise(F.col("detail")),
    })

    # contact enrich + name (J2/P6, :1390-1397)
    contacts = store.read_best("contacts").select(
        "contact_id", "email",
        full_name(F.col("first_name"), F.col("last_name"), F.col("email")).alias("contact_name"),
    )
    # contacts is fact-sized (every contact ever seen) — no broadcast hint;
    # the events side is already capped per contact, so the shuffle join is
    # bounded and AQE/auto-broadcast handles the small case
    enriched = capped.join(contacts, "contact_id", "left")

    # chatter line with the acting user appended, reference ``who_txt``
    # (:1415-1417): "<title>[: <detail>] (<user>)"
    who = F.when(
        F.col("user_name").isNotNull() & (F.col("user_name") != ""),
        F.concat(F.lit(" ("), F.col("user_name"), F.lit(")")),
    ).otherwise(F.lit(""))
    line = F.concat_ws(
        " — ",
        F.col("event_ts"),
        F.col("event_type"),
        F.concat(
            F.concat_ws(": ", F.col("title"), F.nullif(F.col("detail"), F.lit(""))), who
        ),
    )
    chatter = enriched.withColumn("chatter_line", line)

    # local-timezone rendering (reference :1399-1404): alongside the UTC
    # string the reference emits a human-readable local wall time with the
    # zone offset (strftime "%Y-%m-%d %H:%M:%S %z"). The script ships a
    # placeholder "LOCAL_TZ" literal (the notebook pins "UTC"), so here it
    # is an explicit parameter; None (default) keeps the UTC-only shape.
    # The offset is computed per ROW from the instant shift — date_format's
    # zone patterns render the SESSION zone (pinned UTC), which would print
    # +0000 for every row.
    if local_tz is not None:
        utc_ts = F.to_timestamp("event_ts")
        local_ts = F.from_utc_timestamp(utc_ts, local_tz)
        off = local_ts.cast("long") - utc_ts.cast("long")  # seconds, DST-aware
        off_str = F.format_string(
            "%s%02d%02d",
            F.when(off < 0, F.lit("-")).otherwise(F.lit("+")),
            F.floor(F.abs(off) / 3600).cast("int"),
            F.floor((F.abs(off) % 3600) / 60).cast("int"),
        )
        chatter = chatter.withColumn(
            "event_time_utc", F.date_format(utc_ts, "yyyy-MM-dd HH:mm:ss")
        ).withColumn(
            "event_time_local",
            F.when(
                utc_ts.isNotNull(),
                F.concat_ws(
                    " ", F.date_format(local_ts, "yyyy-MM-dd HH:mm:ss"), off_str
                ),
            ).otherwise(F.lit("")),  # reference: unparseable ts -> "" (:1407-1409)
        )

    # materialized once: the chatter write and every digest rollup below
    # read this one copy instead of each recomputing the whole lineage
    chatter = chatter.orderBy(
        F.col("contact_id").asc(),
        F.col("event_ts").asc_nulls_last(),
        F.col("event_id").asc(),
    ).localCheckpoint(eager=True)

    # digest: tag/list/automation rollups + last-25 lines (A5/A6/W3,
    # :1427-1506; automations use the resolved name, else the raw id)
    tags_roll = set_rollup(
        chatter.filter(F.col("event_type") == "tag_added"), "contact_id", {"tags": "detail"}
    )
    lists_roll = set_rollup(
        chatter.filter(F.col("event_type") == "list_membership"), "contact_id", {"lists": "detail"}
    )
    autos_roll = set_rollup(
        chatter.filter(F.col("event_type") == "automation_run").withColumn(
            "_auto_nm", F.coalesce("automation_name", "automation_id")
        ),
        "contact_id",
        {"automations": "_auto_nm"},
    )
    lines = digest_lines(chatter, "contact_id", "event_ts", "chatter_line", "event_id", n=25)
    digest = (
        contacts.join(tags_roll, "contact_id", "left")
        .join(lists_roll, "contact_id", "left")
        .join(autos_roll, "contact_id", "left")
        .join(lines, "contact_id", "left")
        .select(
            "contact_id", "contact_name", "email",
            F.coalesce("tags", F.lit("")).alias("tags"),
            F.coalesce("lists", F.lit("")).alias("lists"),
            F.coalesce("automations", F.lit("")).alias("automations"),
            F.coalesce("digest", F.lit("")).alias("digest"),
        )
    )
    return chatter, digest
