"""Golden end-to-end pipeline test (SURVEY §5.2/§5.3): mock API → connector
→ medallion store → chatter mart/digest, with incremental + idempotent
semantics across runs."""

import dataclasses
import json
import os
import pathlib
import time
import urllib.parse

import pytest
from pyspark.sql import functions as F

from activecampaign_api_data_pipeline_spark.plans import pipeline as pipeline_mod
from activecampaign_api_data_pipeline_spark.plans.pipeline import (
    DIM_ENDPOINTS,
    PipelineConfig,
    load_dim_cached,
    resolve_seed_ids,
    run_pipeline,
)
from activecampaign_api_data_pipeline_spark.storage import TableStore

from tests.mock_ac_server import MockAC


def _seed_mock(m: MockAC) -> None:
    m.collections["contacts"] = [
        {"id": 1, "email": "ada@x.com", "first_name": "Ada", "last_name": "Lovelace", "udate": "2020-01-05"},
        {"id": 2, "email": "", "first_name": "", "last_name": "", "udate": "2020-01-06"},
        {"id": 3, "email": "g@x.com", "first_name": "Grace", "last_name": "Hopper", "udate": "2020-01-07"},
    ]
    m.collections["campaigns"] = [
        # automation via seriesid; message via campaign's message_id
        {"id": 11, "name": "Welcome", "message_id": "71", "seriesid": "5", "links": ""},
        # seriesid sentinel "0" -> automation via links JSON URL (J5/F6)
        {"id": 12, "name": "Promo", "message_id": "", "seriesid": "0",
         "links": '{"automation": "https://x/api/3/automations/9"}'},
        # non-JSON links string -> graceful NULL automation
        {"id": 13, "name": "Odd", "message_id": "", "seriesid": "", "links": "not json"},
    ]
    m.collections["messages"] = [
        {"id": 71, "subject": "Hi there"},
        {"id": 72, "subject": "Deal inside"},
    ]
    m.collections["automations"] = [
        {"id": 5, "name": "Onboarding"},
        {"id": 9, "name": "Winback"},
    ]
    m.children["emailActivities"] = {
        "1": [
            {"id": "e1", "tstamp": "2020-02-07 10:00:00", "type": "open",
             "campaignid": "11", "messageid": ""},
            {"id": "e2", "tstamp": "2020-02-08 10:00:00", "type": "click",
             "campaignid": "12", "messageid": "72"},
            {"id": "e3", "tstamp": "2020-02-09 10:00:00", "type": "open",
             "campaignid": "13", "messageid": ""},
        ],
    }
    m.collections["tags"] = [{"id": 21, "tag": "vip"}, {"id": 22, "tag": "beta"}]
    m.collections["lists"] = [{"id": 31, "name": "Newsletter"}]
    m.collections["users"] = [{"id": 41, "firstName": "Ops", "lastName": "Bot", "email": "ops@x.com"}]
    # the 5 CRM-extra dims (reference :387-403)
    m.collections["fields"] = [{"id": 61, "title": "Phone", "type": "text"}]
    m.collections["dealGroups"] = [{"id": "g1", "title": "Sales"}]
    m.collections["dealStages"] = [{"id": "s1", "title": "Negotiation"}]
    m.collections["accounts"] = [{"id": 91, "name": "Acme Corp"}]
    m.collections["scores"] = [{"id": 81, "name": "Engagement"}]
    m.children["activities"] = {
        "1": [
            {"id": "a1", "tstamp": "2020-02-01 10:00:00", "reference_type": "open", "description": "opened welcome"},
            {"id": "a2", "tstamp": "2020-02-02 11:00:00", "reference_type": "click", "description": "clicked link"},
        ],
        # a3 carries the acting user -> "(Ops Bot)" suffix in its line
        "3": [{"id": "a3", "tstamp": "2020-02-03 09:00:00", "reference_type": "open",
               "description": "opened digest", "user": "41"}],
    }
    m.children["contactNotes"] = {
        "1": [{"id": "n1", "cdate": "2020-02-05 08:00:00", "note": "called back"}],
    }
    m.children["contactTags"] = {
        "1": [
            {"id": "t1", "cdate": "2020-02-01 09:00:00", "tag": "21"},
            {"id": "t2", "cdate": "2020-02-06 09:00:00", "tag": "22"},
        ],
    }
    m.children["contactLists"] = {
        "3": [{"id": "l1", "udate": "2020-02-04 07:00:00", "list": "31"}],
    }
    m.children["contactLogs"] = {}
    m.children["bounceLogs"] = {}
    # P5 code-map branch: known status -> label, unknown passes through
    m.children["contactAutomations"] = {
        "3": [
            {"id": "ca1", "lastdate": "2020-02-14 08:00:00", "automation": "5",
             "seriesid": "5", "status": "1"},
            {"id": "ca2", "lastdate": "2020-02-15 08:00:00", "automation": "9",
             "seriesid": "9", "status": "9"},
        ],
    }
    # single-page contactData blob (reference :653-666)
    m.children["contactData"] = {
        "1": [{"id": "cd1", "created_timestamp": "2020-01-01 00:00:00",
               "updated_timestamp": "2020-02-01 00:00:00", "geoCountry2": "AR",
               "geoCity": "Buenos Aires", "geoIp4": "1.2.3.4"}],
    }
    # automationEntryCounts with BOTH label maps (reference :768-787)
    m.children["automationEntryCounts"] = {
        "3": [{"id": "5", "name": "Onboarding", "entered": "2", "status": "1", "hidden": "0"}],
    }
    # account link + score value -> name-enriched via accounts/scores dims
    m.children["accountContacts"] = {
        "1": [{"id": "ac1", "cdate": "2020-02-16 09:00:00", "account": "91"}],
    }
    m.children["scoreValues"] = {
        "1": [{"id": "sv1", "tstamp": "2020-02-17 09:00:00", "score": "81", "scoreValue": "42"}],
    }
    # remaining child endpoints are absent -> 404-tolerant empty tables
    # two-level deals bundle: deals per contact, notes/tasks/activities per deal
    m.children["deals"] = {
        "1": [{"id": "d1", "title": "Big Deal", "stage": "open", "group": "g1", "mdate": "2020-02-10 00:00:00"}],
        "3": [{"id": "d2", "title": "Small Deal", "stage": "won", "group": "", "mdate": "2020-02-11 00:00:00"}],
    }
    m.children["dealNotes"] = {
        "d1": [{"id": "dn1", "cdate": "2020-02-12 09:00:00", "note": "negotiating price"}],
    }
    m.children["dealTasks"] = {
        "d2": [{"id": "dt1", "udate": "2020-02-13 10:00:00", "title": "send contract",
                "duedate": "2020-02-20"}],
    }
    m.children["dealActivities"] = {
        "d1": [{"id": "da1", "cdate": "2020-02-14 09:00:00", "d_stageid": "s1",
                "d_groupid": "g1", "dataAction": "moved", "userid": "41"}],
    }


@pytest.fixture()
def mock():
    m = MockAC()
    _seed_mock(m)
    url = m.start()
    yield m, url
    m.stop()


@pytest.fixture()
def cfg(mock, tmp_path):
    _, url = mock
    return PipelineConfig(base_url=url, lake_root=str(tmp_path / "lake"), rate=10000,
                          fetch_partitions=2)


def test_resolve_seed_ids_candidates(spark):
    s1 = spark.createDataFrame([("5", "a@x"), ("5", "b@x"), ("0", "c@x")], "Contact_ID string, email string")
    out = resolve_seed_ids(s1)
    assert [r["contact_id"] for r in out.collect()] == ["5"]  # dedup + sentinel "0" dropped
    s2 = spark.createDataFrame([("x",)], "name string")
    with pytest.raises(ValueError, match="no id column"):
        resolve_seed_ids(s2)


def test_pipeline_end_to_end_golden(spark, mock, cfg):
    m, _ = mock
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("golden", "golden pipeline run")
    try:
        res = run_pipeline(spark, cfg, run_id="r1")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the caller's job group reaches every job, the pool's included (the
    # status store may evict old jobs meanwhile, so only new ones count)
    assert sc.statusTracker().getJobIdsForGroup("golden")
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
    assert res["watermark"] == 3

    # two fan-out passes, one client at a time: every per-contact request
    # (children and deals) comes before every per-deal request, no dim
    # fetch falls inside either pass, and every child endpoint is asked
    # for every parent it was asked for before
    paths = [urllib.parse.urlparse(p).path for p in m.request_log]
    contact_at = [i for i, p in enumerate(paths) if p.startswith("/api/3/contacts/")]
    deal_at = [i for i, p in enumerate(paths) if p.startswith("/api/3/deals/")]
    assert max(contact_at) < min(deal_at)
    dim_paths = {f"/api/3/{d}" for d in cfg.dims}
    dim_at = [i for i, p in enumerate(paths) if p in dim_paths]
    for first, last in ((contact_at[0], contact_at[-1]), (deal_at[0], deal_at[-1])):
        assert not [i for i in dim_at if first < i < last]
    assert {paths[i] for i in contact_at + deal_at} == {
        *(f"/api/3/contacts/{c}/{e}" for c in "123" for e in [*cfg.children, "deals"]),
        *(f"/api/3/deals/{d}/{e}" for d in ("d1", "d2") for e in cfg.deal_children),
    }
    assert res["children"]["activities"] == 3
    store = TableStore(spark, cfg.lake_root)

    chatter = spark.read.parquet(f"{cfg.lake_root}/mart/chatter_master")
    digest = spark.read.parquet(f"{cfg.lake_root}/mart/contact_digest")

    # golden rows: contact 1's chronological lines with dim-name enrichment
    c1 = [r["chatter_line"] for r in chatter.filter("contact_id = '1'")
          .orderBy("event_ts", "event_id").collect()]
    assert c1 == [
        "2020-02-01 09:00:00 — tag_added — Tag: vip",
        "2020-02-01 10:00:00 — open — Actividad: open: opened welcome",
        "2020-02-02 11:00:00 — click — Actividad: click: clicked link",
        "2020-02-05 08:00:00 — note — Nota: called back",
        "2020-02-06 09:00:00 — tag_added — Tag: beta",
        "2020-02-07 10:00:00 — email_open — Email: open: Hi there",
        "2020-02-08 10:00:00 — email_click — Email: click: Deal inside",
        "2020-02-09 10:00:00 — email_open — Email: open: Odd",
        "2020-02-12 09:00:00 — deal_note — Nota de deal: negotiating price",
        # dealActivities: deal title + stage NAME (dealStages dim) + user
        "2020-02-14 09:00:00 — deal_activity — Deal: Big Deal: stage=Negotiation action=moved (Ops Bot)",
        # accountContacts: account id 91 rendered as its NAME (accounts dim)
        "2020-02-16 09:00:00 — account_link — Cuenta: Acme Corp",
        # scoreValues: score NAME prefix (scores dim) + value
        "2020-02-17 09:00:00 — score_change — Score: Engagement: 42",
    ]

    # campaign -> message -> automation chains (J1/J5/F6)
    em = {r["source_row_id"]: r for r in chatter.filter("source = 'emailActivities'").collect()}
    e1, e2, e3 = em["e1"], em["e2"], em["e3"]
    assert (e1["message_id"], e1["message_subject"]) == ("71", "Hi there")  # campaign's message
    assert (e1["automation_id"], e1["automation_name"]) == ("5", "Onboarding")  # via seriesid
    assert (e2["message_id"], e2["message_subject"]) == ("72", "Deal inside")  # event's own
    assert (e2["automation_id"], e2["automation_name"]) == ("9", "Winback")  # via links JSON
    assert e3["automation_id"] is None and e3["message_subject"] is None  # non-JSON links
    d = {r["contact_id"]: r for r in digest.collect()}
    assert d["1"]["contact_name"] == "Ada Lovelace"
    assert d["1"]["tags"] == "beta, vip"  # sorted distinct names (A5)
    assert d["2"]["contact_name"] is None or d["2"]["contact_name"] == ""  # no name, no email
    assert d["3"]["lists"] == "Newsletter"
    assert "opened digest" in d["3"]["digest"]
    # user name rendered on the acting user's activity (user_name_map)
    assert "opened digest (Ops Bot)" in d["3"]["digest"]
    # automations rollup: dim-resolved names, sorted distinct
    assert d["3"]["automations"] == "Onboarding, Winback"

    # gold layer: one row per (id, contact_id) key
    acts = store.read("gold", "activities")
    assert acts.count() == 3

    # contactData persisted (single-page child, reference :653-666)
    assert res["children"]["contactData"] == 1
    cd = store.read_best("contactData").collect()
    assert len(cd) == 1 and cd[0]["contact_id"] == "1" and cd[0]["geoCountry2"] == "AR"

    # automationEntryCounts: BOTH label maps + dim name (reference :768-787)
    assert res["children"]["automationEntryCounts"] == 1
    aec = store.read_best("automationEntryCounts").collect()
    assert len(aec) == 1 and aec[0]["contact_id"] == "3"
    assert aec[0]["status_label"] == "Active" and aec[0]["hidden_label"] == "No"
    assert aec[0]["automation_name_dim"] == "Onboarding"

    # two-level deals bundle (S5): deal children reached via fetched deal
    # ids, contact attribution and deal-title enrichment intact
    assert res["children"]["deals"] == 2
    assert res["children"]["dealNotes"] == 1 and res["children"]["dealTasks"] == 1
    assert res["children"]["dealActivities"] == 1
    dn = chatter.filter("event_type = 'deal_note'").collect()
    assert len(dn) == 1 and dn[0]["contact_id"] == "1"
    assert dn[0]["deal_title"] == "Big Deal" and dn[0]["detail"] == "negotiating price"
    dt = chatter.filter("event_type = 'deal_task'").collect()
    assert dt[0]["contact_id"] == "3" and dt[0]["deal_title"] == "Small Deal"
    da = chatter.filter("event_type = 'deal_activity'").collect()
    assert len(da) == 1 and da[0]["contact_id"] == "1"
    assert da[0]["deal_stage_name"] == "Negotiation"  # stage id -> NAME
    assert da[0]["pipeline_name"] == "Sales"  # dealGroups id -> NAME
    assert da[0]["user_name"] == "Ops Bot"
    assert "negotiating price" in d["1"]["digest"]

    # P5 code→label with pass-through (contactAutomations status); the
    # automation NAME renders in the title (aut_name_map)
    ca = {r["source_row_id"]: r["detail"]
          for r in chatter.filter("event_type = 'automation_run'").collect()}
    assert ca == {"ca1": "Active", "ca2": "9"}
    ca_titles = {r["source_row_id"]: r["title"]
                 for r in chatter.filter("event_type = 'automation_run'").collect()}
    assert ca_titles == {"ca1": "Automatización: Onboarding", "ca2": "Automatización: Winback"}

    # K4: one txt partition per contact with a non-empty digest
    txt_dirs = sorted(
        p for p in os.listdir(f"{cfg.lake_root}/mart/contact_digest_txt")
        if p.startswith("contact_id=")
    )
    assert txt_dirs == ["contact_id=1", "contact_id=3"]


def test_pipeline_idempotent_and_incremental(spark, mock, cfg):
    m, _ = mock
    run_pipeline(spark, cfg, run_id="r1")
    store = TableStore(spark, cfg.lake_root)
    silver_before = store.read("silver", "activities").count()

    # replay with no new data: watermark blocks contact refetch; child rows
    # for fetched contacts dedup away in silver
    res2 = run_pipeline(spark, cfg, run_id="r2")
    assert res2["children"].get("activities", 0) == 0  # empty universe
    assert store.read("silver", "activities").count() == silver_before

    # a new contact (id 4) appears with one activity: only the delta lands
    m.collections["contacts"].append(
        {"id": 4, "email": "new@x.com", "first_name": "New", "last_name": "One", "udate": "2020-03-01"}
    )
    m.children["activities"]["4"] = [
        {"id": "a9", "tstamp": "2020-03-02 10:00:00", "reference_type": "open", "description": "first open"}
    ]
    res3 = run_pipeline(spark, cfg, run_id="r3")
    assert res3["watermark"] == 4
    assert res3["children"]["activities"] == 1
    chatter = spark.read.parquet(f"{cfg.lake_root}/mart/chatter_master")
    assert chatter.filter("contact_id = '4'").count() == 1
    # old contacts' history still present in the rebuilt mart
    assert chatter.filter("contact_id = '1'").count() == 12


def _add_contact_4(m: MockAC) -> None:
    """A new contact (id 4) with one activity and one deal with a note."""
    m.collections["contacts"].append(
        {"id": 4, "email": "new@x.com", "first_name": "New", "last_name": "One", "udate": "2020-03-01"}
    )
    m.children["activities"]["4"] = [
        {"id": "a9", "tstamp": "2020-03-02 10:00:00", "reference_type": "open", "description": "first open"}
    ]
    m.children["deals"]["4"] = [
        {"id": "d4", "title": "New Deal", "stage": "open", "group": "g1", "mdate": "2020-03-03 00:00:00"}
    ]
    m.children["dealNotes"]["d4"] = [{"id": "dn4", "cdate": "2020-03-04 09:00:00", "note": "first call"}]


def test_incremental_fetches_children_of_this_runs_deals_only(spark, mock, cfg):
    """The deal-children fan-out is driven by the deals this run fetched,
    not by every deal in gold: an incremental run over one new contact
    asks only for that contact's deals."""
    m, _ = mock
    run_pipeline(spark, cfg, run_id="r1")
    since = len(m.request_log)
    _add_contact_4(m)
    res = run_pipeline(spark, cfg, run_id="r2")
    assert res["children"]["dealNotes"] == 1
    deal_paths = [p for p in m.request_log[since:] if p.startswith("/api/3/deals/")]
    assert deal_paths and {p.split("/")[4] for p in deal_paths} == {"d4"}
    notes = TableStore(spark, cfg.lake_root).read_best("dealNotes")
    assert sorted((r["id"], r["contact_id"]) for r in notes.collect()) == [("dn1", "1"), ("dn4", "4")]


def _gold(spark, root: str) -> dict[str, list]:
    """Every gold table's rows, sorted, without the wall-clock stamp."""
    store = TableStore(spark, root)
    out = {}
    for t in sorted(os.listdir(f"{root}/gold")):
        df = store.read("gold", t).drop("extracted_at")
        out[t] = sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())
    return out


def test_failed_fanout_stops_run_cleanly(spark, mock, cfg, tmp_path, monkeypatch):
    """A child endpoint answers a status the client does not retry: the
    run raises only once every task it started has finished, keeps the
    old watermark (T1), and a rerun of the same run_id with the fault
    cleared converges to the gold of a clean run (same-batch restart)."""
    m, url = mock
    clean = PipelineConfig(base_url=url, lake_root=str(tmp_path / "clean"), rate=10000,
                           fetch_partitions=2)
    run_pipeline(spark, cfg, run_id="r1")
    run_pipeline(spark, clean, run_id="r1")
    _add_contact_4(m)
    run_pipeline(spark, clean, run_id="r2")

    events: list[tuple[str, str]] = []

    def tracked(fn, label):
        def run(*args, **kwargs):
            events.append(("start", label(args)))
            time.sleep(0.5)  # still running when the fan-out fails
            try:
                return fn(*args, **kwargs)
            finally:
                events.append(("end", label(args)))
        return run

    monkeypatch.setattr(TableStore, "persist", tracked(TableStore.persist, lambda a: a[2]))
    monkeypatch.setattr(pipeline_mod, "load_dim_cached",
                        tracked(pipeline_mod.load_dim_cached, lambda a: a[2]))
    m.fail_first["/api/3/contacts/4/contactTags"] = [400]
    with pytest.raises(Exception, match="400"):
        run_pipeline(spark, cfg, run_id="r2")
    at_raise = list(events)
    started = sorted(t for e, t in at_raise if e == "start")
    # contactTags fails inside the contact-level pass, before any child
    # table's persist could start
    assert not set(started) & {*cfg.children, "deals", *cfg.deal_children}
    assert started == sorted(t for e, t in at_raise if e == "end")
    time.sleep(1.0)
    assert events == at_raise  # nothing was left running
    assert TableStore(spark, cfg.lake_root).load_state()["max_contact_id"] == 3

    monkeypatch.undo()
    assert not m.fail_first["/api/3/contacts/4/contactTags"]
    res = run_pipeline(spark, cfg, run_id="r2")
    assert res["watermark"] == 4
    assert _gold(spark, cfg.lake_root) == _gold(spark, clean.lake_root)


def test_dim_ttl_cache_not_refetched(spark, mock, cfg):
    m, _ = mock
    run_pipeline(spark, cfg, run_id="r1")
    n_dim_calls_1 = sum("/api/3/tags" in p for p in m.request_log)
    run_pipeline(spark, cfg, run_id="r2")
    n_dim_calls_2 = sum("/api/3/tags" in p for p in m.request_log)
    assert n_dim_calls_1 >= 1
    assert n_dim_calls_2 == n_dim_calls_1  # TTL cache served the second run


def test_seed_union_and_email_backfill(spark, mock, cfg):
    seed = spark.createDataFrame(
        [("2", "seeded@x.com")], "contact_id string, email string"
    )
    run_pipeline(spark, cfg, seed=seed, run_id="r1")
    store = TableStore(spark, cfg.lake_root)
    contacts = {r["contact_id"]: r for r in store.read_best("contacts").collect()}
    # contact 2 had a blank email in the API -> backfilled from the seed (J3)
    assert contacts["2"]["email"] == "seeded@x.com"
    assert contacts["1"]["email"] == "ada@x.com"


def test_seed_email_only_fallback_resolves_ids(spark, mock, cfg):
    """S8 email→id fallback (reference :315-327): a seed with ONLY an email
    column resolves ids via filters[email] + limit 1 probes and yields the
    same universe as an id seed of those contacts."""
    m, _ = mock
    # watermark already at the max id: the keyset scan returns nothing and
    # the universe comes ENTIRELY from the resolved seed
    store = TableStore(spark, cfg.lake_root)
    store.save_state({"max_contact_id": 3})
    seed = spark.createDataFrame(
        [("ada@x.com",), ("g@x.com",), ("nobody@x.com",)], "Email string"
    )
    run_pipeline(spark, cfg, seed=seed, run_id="r1")
    contacts = {r["contact_id"]: r for r in store.read_best("contacts").collect()}
    # ada@x.com -> 1, g@x.com -> 3; nobody@x.com resolves to no contact
    assert sorted(contacts) == ["1", "3"]
    # emails backfilled from the probe map (the scan fetched no rows)
    assert contacts["1"]["email"] == "ada@x.com"
    assert contacts["3"]["email"] == "g@x.com"
    # the probes really were filters[email] + limit 1 (reference :320)
    probes = [p for p in m.request_log if "filters%5Bemail%5D" in p]
    assert len(probes) == 3 and all("limit=1" in p for p in probes)


def test_seed_email_only_without_cfg_raises(spark):
    emails = spark.createDataFrame([("a@x",)], "email string")
    with pytest.raises(ValueError, match="no id column"):
        resolve_seed_ids(emails)


def test_chatter_local_tz_rendering(spark, mock, cfg):
    """Local-tz mart parameter (reference :1399-1404): event_time_utc plus
    a human-readable local wall time with the zone offset. Asia/Kolkata
    exercises a positive non-whole-hour offset (+0530)."""
    cfg.local_tz = "Asia/Kolkata"
    run_pipeline(spark, cfg, run_id="r1")
    chatter = spark.read.parquet(f"{cfg.lake_root}/mart/chatter_master")
    r = chatter.filter("event_id = 'activities:a1'").collect()[0]
    assert r["event_time_utc"] == "2020-02-01 10:00:00"
    assert r["event_time_local"] == "2020-02-01 15:30:00 +0530"


def test_dim_row_cap_guards_driver_memory(spark, mock, tmp_path):
    """Dims materialize on the driver for the TTL cache; a fact-sized
    endpoint routed through the dim path must raise (steering to the
    distributed ac_rest source) instead of silently OOMing the driver."""
    from activecampaign_api_data_pipeline_spark.plans.pipeline import load_dim_cached

    _, url = mock
    small = PipelineConfig(base_url=url, lake_root=str(tmp_path / "lake_cap"),
                           rate=10000, max_dim_rows=1)
    with pytest.raises(ValueError, match="max_dim_rows"):
        load_dim_cached(spark, small, "tags", ["id", "tag"])
    # a cap-sized-or-smaller dim loads normally
    ok = PipelineConfig(base_url=url, lake_root=str(tmp_path / "lake_ok"),
                       rate=10000, max_dim_rows=2)
    assert load_dim_cached(spark, ok, "tags", ["id", "tag"]).count() == 2


def _mart_rows(spark, root: str) -> dict[str, list[dict]]:
    """Both mart tables' rows as dicts, in a fixed order."""
    return {
        mart: sorted(
            (r.asDict() for r in spark.read.parquet(f"{root}/mart/{mart}").collect()),
            key=lambda r: json.dumps(r, sort_keys=True),
        )
        for mart in ("chatter_master", "contact_digest")
    }


def test_mart_rows_and_one_schema_for_any_dims(spark, mock, cfg):
    """``chatter_master`` and ``contact_digest`` of the golden mock equal,
    row for row by column name, the rows recorded in
    ``tests/fixtures/golden_mart.json`` by the mart as it was before its
    dim lookups were folded into one rule: once with every dim loaded,
    once with the benchmark's three. Both runs write one
    ``chatter_master`` schema: names, types and order."""
    fixture = pathlib.Path(__file__).parent / "fixtures" / "golden_mart.json"
    want = json.loads(fixture.read_text())
    schemas = []
    for name, dims in (
        ("all_dims", list(DIM_ENDPOINTS)),
        ("perfbench_dims", ["automations", "users", "scores"]),
    ):
        run_cfg = dataclasses.replace(cfg, lake_root=f"{cfg.lake_root}_{name}", dims=dims)
        run_pipeline(spark, run_cfg, run_id="r1")
        assert _mart_rows(spark, run_cfg.lake_root) == want[name], name
        schemas.append(spark.read.parquet(f"{run_cfg.lake_root}/mart/chatter_master").schema)
    assert schemas[0] == schemas[1]


def test_sync_on_hadoop_uri_lake_root(spark, mock, cfg, tmp_path, monkeypatch):
    """A ``file://`` lake root: the dim cache's ``_meta.json`` and
    ``state.json`` live in the lake, so a second run fetches no dim
    again and keeps the watermark, and nothing lands under the working
    directory."""
    m, _ = mock
    monkeypatch.chdir(tmp_path)
    uri = dataclasses.replace(cfg, lake_root=(tmp_path / "uri_lake").as_uri())
    run_pipeline(spark, uri, run_id="r1")
    n_tag_calls = sum("/api/3/tags" in p for p in m.request_log)
    res = run_pipeline(spark, uri, run_id="r2")
    assert sum("/api/3/tags" in p for p in m.request_log) == n_tag_calls
    assert res["watermark"] == 3
    assert TableStore(spark, uri.lake_root).load_state()["max_contact_id"] == 3
    assert not [p for p in os.listdir(tmp_path) if p.startswith("file:")]


def test_junk_dim_meta_refetches(spark, mock, cfg):
    """A ``_meta.json`` cut short by a crash mid-write marks the dim stale:
    it is fetched again instead of raising on every later run."""
    m, _ = mock
    os.makedirs(f"{cfg.lake_root}/dims/tags")
    with open(f"{cfg.lake_root}/dims/tags/_meta.json", "w") as f:
        f.write("{")
    assert load_dim_cached(spark, cfg, "tags", ["id", "tag"]).count() == 2
    n_tag_calls = sum("/api/3/tags" in p for p in m.request_log)
    assert n_tag_calls >= 1
    # the refetch wrote a readable sidecar: the next load is a cache hit
    assert load_dim_cached(spark, cfg, "tags", ["id", "tag"]).count() == 2
    assert sum("/api/3/tags" in p for p in m.request_log) == n_tag_calls
