"""Connector tests: pagination, pushdown, retry, 404 tolerance, keyset
streaming, child fan-out — all against the in-process mock AC server."""

import time

import pytest
from pyspark.sql import functions as F

from activecampaign_api_data_pipeline_spark.sources.ac_rest import ACRestDataSource
from activecampaign_api_data_pipeline_spark.sources.fanout import fetch_children
from activecampaign_api_data_pipeline_spark.sources.rest_client import RestClient

from tests.mock_ac_server import MockAC

N_CONTACTS = 137


@pytest.fixture(scope="module")
def mock():
    m = MockAC()
    m.collections["contacts"] = [
        {
            "id": i,
            "email": f"user{i}@x.com",
            "first_name": f"F{i}",
            "last_name": f"L{i}",
            "udate": f"2020-01-{(i % 28) + 1:02d}",
        }
        for i in range(1, N_CONTACTS + 1)
    ]
    m.children["activities"] = {
        str(i): [
            {"id": f"{i}00{j}", "tstamp": f"2020-02-0{j+1}", "reference_type": "note"}
            for j in range(i % 3)
        ]
        for i in range(1, N_CONTACTS + 1)
    }
    url = m.start()
    yield m, url
    m.stop()


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(ACRestDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark


def _reader(spark, url, **opts):
    r = (
        spark.read.format("ac_rest")
        .option("base_url", url)
        .option("endpoint", "contacts")
        .option("rate", "10000")  # tests: no throttling
    )
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r


# ----------------------------------------------------------------- client

def test_client_retry_on_429_then_success(mock):
    m, url = mock
    m.fail_first["/api/3/contacts"] = [429, 500]
    c = RestClient(url, rate=10000, backoff=0.01)
    out = c.get_json("api/3/contacts", {"limit": 1})
    assert out is not None and out["meta"]["total"] == N_CONTACTS
    m.fail_first.clear()


def test_client_404_returns_none(mock):
    _, url = mock
    c = RestClient(url, rate=10000)
    assert c.get_json("api/3/doesNotExist") is None


def test_client_gives_up_after_retries(mock):
    m, url = mock
    m.fail_first["/api/3/contacts"] = [500] * 10
    c = RestClient(url, rate=10000, retries=2, backoff=0.01)
    with pytest.raises(RuntimeError, match="failed after 3 attempts"):
        c.get_json("api/3/contacts", {"limit": 1})
    m.fail_first.clear()


def test_rate_limiter_enforces_average():
    from activecampaign_api_data_pipeline_spark.sources.rest_client import RateLimiter

    rl = RateLimiter(rate=100, burst=1)
    t0 = time.monotonic()
    for _ in range(11):
        rl.acquire()
    assert time.monotonic() - t0 >= 0.09  # ≥10 waits of ~10ms


# ---------------------------------------------------------------- batch read

def test_full_scan_partitioned(registered, mock):
    _, url = mock
    df = _reader(registered, url, page_limit=20, pages_per_partition=2).load()
    assert df.rdd.getNumPartitions() == 4  # ceil(137 / 40)
    assert df.count() == N_CONTACTS
    assert df.schema.simpleString().count("string") == 5  # all-string bronze
    ids = sorted(int(r["id"]) for r in df.select("id").collect())
    assert ids == list(range(1, N_CONTACTS + 1))


def test_filter_pushdown_email(registered, mock):
    m, url = mock
    m.request_log.clear()
    df = (
        _reader(registered, url, page_limit=20, filterable="email")
        .load()
        .filter(F.col("email") == "user7@x.com")
    )
    rows = df.collect()
    assert [r["id"] for r in rows] == ["7"]
    served = [p for p in m.request_log if "filters%5Bemail%5D=user7%40x.com" in p]
    assert served, f"server never saw the pushed filter: {m.request_log[-5:]}"


def test_pushdown_id_greater_keyset(registered, mock):
    m, url = mock
    df = _reader(registered, url).load().filter(F.col("id").cast("long") > 130)
    # cast(col) > 130 is NOT pushable (expression), Spark filters post-scan;
    # a raw string comparison would be wrong — verify correctness either way
    assert df.count() == 7


def test_empty_collection(registered, mock):
    m, url = mock
    m.collections["empty"] = []
    df = (
        registered.read.format("ac_rest")
        .option("base_url", url)
        .option("endpoint", "empty")
        .option("rate", "10000")
        .load()
    )
    assert df.count() == 0


# ----------------------------------------------------------- keyset stream

def test_keyset_stream_two_batches(registered, mock, tmp_path):
    m, url = mock
    stream = (
        registered.readStream.format("ac_rest")
        .option("base_url", url)
        .option("endpoint", "contacts")
        .option("rate", "10000")
        .option("page_limit", "50")
        .option("max_pages_per_batch", "10")
        .load()
    )
    out_dir = str(tmp_path / "out")

    def _run():
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run()
    assert registered.read.parquet(out_dir).count() == N_CONTACTS

    # new rows arrive; the next run resumes from the committed cursor and
    # picks up ONLY ids > watermark
    m.collections["contacts"].append(
        {"id": 500, "email": "new@x.com", "first_name": "N", "last_name": "E", "udate": "2020-03-01"}
    )
    _run()
    after = registered.read.parquet(out_dir)
    assert after.count() == N_CONTACTS + 1
    new_rows = [r["id"] for r in after.filter(F.col("id").cast("long") > 137).collect()]
    assert new_rows == ["500"]


# ---------------------------------------------------------------- fan-out

def test_fetch_children_fanout(registered, mock):
    _, url = mock
    ids = registered.createDataFrame(
        [(str(i),) for i in range(1, 11)], "contact_id string"
    )
    out = fetch_children(
        ids,
        base_url=url,
        endpoint_template="api/3/contacts/{id}/{endpoint}",
        endpoints={"activities": ["id", "tstamp", "reference_type"]},
        rate=10000,
        n_partitions=3,
    )
    rows = out.collect()
    # contact i has i%3 activities; parent id attached to each child row
    assert len(rows) == sum(i % 3 for i in range(1, 11))
    by_parent = {r["id"]: r["contact_id"] for r in rows}
    assert by_parent["1000"] == "1"  # contact 1's single activity (j=0)


def test_fetch_children_respects_global_rate_budget(registered):
    """T4: ``rate`` is the GLOBAL budget — the per-partition clients each get
    rate/n_partitions, so the aggregate request rate stays under the cap
    (reference stays under AC's 5 req/s with 4 req/s TOTAL, :42)."""
    m = MockAC()
    n = 32
    m.children["activities"] = {
        str(i): [{"id": f"x{i}", "tstamp": "2020-01-01", "reference_type": "note"}]
        for i in range(1, n + 1)
    }
    url = m.start()
    try:
        ids = registered.createDataFrame(
            [(str(i),) for i in range(1, n + 1)], "contact_id string"
        )
        out = fetch_children(
            ids,
            base_url=url,
            endpoint_template="api/3/contacts/{id}/{endpoint}",
            endpoints={"activities": ["id", "tstamp", "reference_type"]},
            rate=40.0,  # global budget; 4 partitions -> 10 req/s each
            n_partitions=4,
        )
        assert out.count() == n
        assert len(m.request_times) == n  # one page per contact
        elapsed = max(m.request_times) - min(m.request_times)
        # each partition: 8 requests at 10 req/s with burst 4 -> >=0.4 s of
        # throttled tail; undivided clients (40 req/s each) would finish the
        # tail in ~0.1 s. 0.3 s threshold proves the division happened.
        assert elapsed >= 0.3, f"aggregate rate exceeded budget: {n} reqs in {elapsed:.2f}s"
    finally:
        m.stop()


def test_ac_rest_global_rate_split_across_partitions(registered, mock):
    """The batch reader's global_rate option divides the budget across the
    offset-range partitions it plans."""
    from pyspark.sql.types import StringType, StructField, StructType

    from activecampaign_api_data_pipeline_spark.sources.ac_rest import ACRestReader

    _, url = mock
    schema = StructType([StructField("id", StringType())])
    reader = ACRestReader(
        schema,
        {"base_url": url, "endpoint": "contacts", "page_limit": "20",
         "pages_per_partition": "2", "rate": "10000", "global_rate": "8"},
    )
    parts = reader.partitions()
    assert len(parts) == 4  # ceil(137 / 40)
    assert all(p.rate == 2.0 for p in parts)  # 8 req/s budget / 4 partitions


def test_fetch_children_404_tolerant(registered, mock):
    _, url = mock
    ids = registered.createDataFrame([("1",), ("2",)], "contact_id string")
    out = fetch_children(
        ids,
        base_url=url,
        endpoint_template="api/3/contacts/{id}/{endpoint}",
        endpoints={"bounceLogs": ["id", "reason"]},
        rate=10000,
    )
    assert out.count() == 0  # 404 -> empty table, no error


def test_fetch_children_several_endpoints_one_pass(registered, mock):
    """One pass over a served endpoint and a 404 one: rows come only from
    the served endpoint, each tagged with its endpoint and parent id, and
    every (parent, endpoint) pair is requested once."""
    m, url = mock
    since = len(m.request_log)
    ids = registered.createDataFrame([("1",), ("2",), ("4",)], "contact_id string")
    out = fetch_children(
        ids,
        base_url=url,
        endpoint_template="api/3/contacts/{id}/{endpoint}",
        endpoints={"bounceLogs": ["id", "reason"], "activities": ["id", "tstamp"]},
        rate=10000,
        n_partitions=2,
    )
    assert out.columns == ["endpoint", "id", "reason", "tstamp", "contact_id"]
    rows = sorted(tuple(r) for r in out.collect())
    # contact i has i%3 activities (ids "<i>00<j>"); bounceLogs answers 404
    assert rows == [
        ("activities", "1000", None, "2020-02-01", "1"),
        ("activities", "2000", None, "2020-02-01", "2"),
        ("activities", "2001", None, "2020-02-02", "2"),
        ("activities", "4000", None, "2020-02-01", "4"),
    ]
    paths = sorted(p.split("?")[0] for p in m.request_log[since:])
    assert paths == sorted(
        f"/api/3/contacts/{i}/{e}" for i in (1, 2, 4) for e in ("bounceLogs", "activities")
    )
