"""Tests of the benchmark's own code at a tiny size; none starts Spark.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import crm, stream
from perfbench.stats import max_overlap, percentile, union_length
from perfbench.trace import Span, descendants, self_times


def _crm(seed):
    return crm.CrmGenerator(seed, 8, 2, 3, crm.CHILDREN, crm.DEAL_CHILDREN, crm.DIMS)


def _dump(state):
    return json.dumps([state.collections, state.children], sort_keys=True)


def test_crm_generator_is_deterministic_per_seed():
    a, b, c = _crm(7), _crm(7), _crm(8)
    assert _dump(a.state_a) == _dump(b.state_a)
    assert _dump(a.state_b) == _dump(b.state_b)
    assert (a.changed, a.new) == (b.changed, b.new)
    assert _dump(a.state_a) != _dump(c.state_a)


def test_crm_generator_change_set():
    g = _crm(3)
    gold_a, gold_b = g.gold_counts(g.state_a), g.gold_counts(g.state_b)
    assert gold_b["contacts"] == gold_a["contacts"] + 2 == g.watermark_b
    assert gold_a["bounceLogs"] == 0  # answers 404
    silver = g.silver_counts(g.state_a, g.state_b)
    # edited rows add a version to silver but not a key to gold
    assert sum(silver.values()) > sum(gold_b.values())


def test_stream_generator_is_deterministic_per_seed():
    def bodies(seed):
        gen = stream.EventGenerator(seed)
        return [f.body for f in gen.files(3, 10, "open") + gen.files(2, 20, "burst")]

    assert bodies(5) == bodies(5)
    assert bodies(5) != bodies(6)


def test_stream_generator_lands_each_highest_version_once():
    gen = stream.EventGenerator(3)
    rows = [r for f in gen.files(40, 25, "open") for r in f.rows]
    top = {}
    for r in rows:
        top[r["event_id"]] = max(top.get(r["event_id"], 0), r["version"])
    assert any(r["version"] < top[r["event_id"]] for r in rows[len(rows) // 2:])  # out of order
    assert sum(r["version"] == top[r["event_id"]] for r in rows) == len(top)


def test_stream_expected_gold_keeps_highest_version():
    f1 = stream.EventFile("a", "", [{"event_id": "k", "version": 3, "kind": "new"}])
    f2 = stream.EventFile("b", "", [{"event_id": "k", "version": 1, "kind": "stale"}])
    assert stream.latest_per_key([f1, f2])["k"]["kind"] == "new"


def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))
    assert percentile(xs, 0.5) == 5
    assert percentile(xs, 0.9) == 9
    assert percentile(xs, 1.0) == 10
    assert percentile([4.0], 0.9) == 4.0
    assert percentile(list(reversed(xs)), 0.9) == 9
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile(xs, 0.0)


def test_interval_helpers():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    assert max_overlap([(0, 2), (1, 3), (2, 4)]) == 2  # an end at t frees before a start at t


def test_self_time_subtracts_clipped_union_of_children():
    spans = [
        Span(1, "op", None, None, 0.0, 10.0),
        Span(2, "a", 1, 1, 1.0, 3.0),
        Span(3, "b", 1, 1, 2.0, 5.0),  # overlaps a: [1, 5] counts once
        Span(4, "c", 1, 1, 8.0, 12.0),  # runs past its parent: clipped at 10
        Span(5, "d", 2, 1, 1.5, 2.5),  # grandchild: only a's self time shrinks
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 4 - 2)
    assert st[2] == pytest.approx(2 - 1)
    assert st[3] == pytest.approx(3)
    assert descendants(spans, {2}) == {2, 5}


@pytest.fixture
def mock():
    g = _crm(11)
    m = crm.CrmMock(g.state_a)
    url = m.start()
    yield g, m, url
    m.stop()


def test_mock_counts_requests_not_found_and_retries(mock):
    from activecampaign_api_data_pipeline_spark.sources.rest_client import RestClient

    g, m, url = mock
    cid = next(c for c, rows in g.state_a.children["activities"].items() if 0 < len(rows) < 100)
    m.inject = {f"/api/3/contacts/{cid}/activities": [429]}
    client = RestClient(url, rate=1000.0, backoff=0.01)
    rows = client.paged(f"api/3/contacts/{cid}/activities", collection="activities")
    assert len(rows) == len(g.state_a.children["activities"][cid])
    assert client.paged(f"api/3/contacts/{cid}/bounceLogs", collection="bounceLogs") == []
    assert client.paged("api/3/scores", collection="scores") == []
    deadline = time.monotonic() + 5
    while len(m.records) < 4 and time.monotonic() < deadline:
        time.sleep(0.01)  # the last handler records after its reply
    n = m.counters()
    assert n["sources.requests"] == 4  # 429, its retry (one page), and two 404s
    assert n["sources.retries"] == 1
    assert n["sources.not_found"] == 2
    assert n["sources.useful_ratio"] == 0.25
    assert n["sources.inflight_max"] == 1


def _write(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), path)


def test_corrupted_stream_gold_counts_as_failed(tmp_path):
    gen = stream.EventGenerator(1)
    files = gen.files(4, 5, "open")
    wl = stream.StreamIngest(None, str(tmp_path), 1)
    wl.landed = files
    gold = list(stream.latest_per_key(files).values())
    _write(f"{wl.lake}/gold/events/_kb=0/part-0.parquet", gold)
    wl._check()
    assert (wl.attempted, wl.failed) == (4, 0)

    gold[0] = dict(gold[0], version=gold[0]["version"] + 1)
    _write(f"{wl.lake}/gold/events/_kb=0/part-0.parquet", gold)
    wl._check()
    bad = [f for f in files if any(r["event_id"] == gold[0]["event_id"] for r in f.rows)]
    assert wl.attempted == 4 and wl.failed == len(bad) >= 1


def test_corrupted_crm_output_counts_as_failed(tmp_path):
    g = _crm(2)
    wl = crm.CrmSync(None, str(tmp_path), 2)
    wl.gen = g
    lake = str(tmp_path / "lake")
    gold, silver = g.gold_counts(g.state_a), g.silver_counts(g.state_a)
    for t in g.tables:
        for layer, n in (("gold", gold[t]), ("silver", silver[t])):
            if n:
                _write(f"{lake}/{layer}/{t}/_kb=0/part-0.parquet", [{"x": i} for i in range(n)])

    def check(res):
        return wl._check(lake, res, g.watermark_a, gold, silver)

    assert wl._step("ok", lambda: {"watermark": g.watermark_a}, check) is not None
    assert (wl.attempted, wl.failed) == (1, 0)
    wl._step("bad watermark", lambda: {"watermark": 0}, check)
    assert (wl.attempted, wl.failed) == (2, 1)
    _write(f"{lake}/gold/activities/_kb=1/part-0.parquet", [{"x": 0}])  # one row too many
    wl._step("extra row", lambda: {"watermark": g.watermark_a}, check)
    assert (wl.attempted, wl.failed) == (3, 2)
    wl._step("raises", lambda: 1 / 0, check)
    assert (wl.attempted, wl.failed) == (4, 3)
