"""The TSD serves reads from a point store materialized once, at
construction, and kept at the partition count of the frame it was given.
For a base of one file split that count is one, so every read of a
dashboard panel plans with no shuffle Exchange and no file scan, before and
after puts, folds, deletes and uid renames; /api/dropcaches cannot drop the
store back to a parquet scan. A zero fill merges by grouping on the
series' own columns, so those panels plan no join and no broadcast."""

import json
import re
import socket
import threading
import urllib.request
import uuid

import pytest

from opentsdb_spark import api
from opentsdb_spark import tsd as tsd_mod
from opentsdb_spark.sources.points import load_points
from opentsdb_spark.tsd import TSD, TelnetServer, make_http_server
from tests.conftest import SF_DIR

START = 1704067200  # 2024-01-01T00:00:00Z, the first day of the events table
END = START + 3 * 86_400

# the downsample shapes of the dashboard panels, plus the pack strategy's
# Arrow map, which no panel reaches any more
PANELS = (
    "zimsum:10m-sum:purchase{k=*}",  # identity interpolation: one groupBy
    "sum:10m-sum:purchase{k=*}",  # lerp without fill: pack (Arrow map)
    "sum:1h-sum-zero:view{big=*}",  # linear-rate rewrite
    "p95:30m-max-zero:signup{k=wildcard(1*)}",  # percentile window
    "max:1m-max-zero:error",  # series-level zero fill, grouped on the tags map
)


def _plans_and_jobs(spark, fn):
    """(fn's result, physical plan descriptions of the SQL executions fn
    ran, jobs it submitted in its own job group)."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()

    def execution_ids():
        bus.waitUntilEmpty()
        runs = store.executionsList()
        return {runs.apply(i).executionId(): runs.apply(i)
                for i in range(runs.size())}

    before = execution_ids()
    group = f"served-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plans = [run.physicalPlanDescription()
             for eid, run in execution_ids().items() if eid not in before]
    return out, plans, len(sc.statusTracker().getJobIdsForGroup(group))


def _file_scans(plan):
    return "Scan parquet" in plan or "FileScan" in plan


def _query(tsd, m):
    out, _ = tsd.route("GET", "/api/query",
                       {"start": str(START), "end": str(END), "m": m}, None)
    return out


def _assert_zero_exchange(spark, tsd, when):
    for m in PANELS:
        out, plans, jobs = _plans_and_jobs(spark, lambda: _query(tsd, m))
        assert out and plans, f"{m} {when}: no answer"
        zero_fill = "-zero:" in m
        for plan in plans:
            # a shuffle prints as "Exchange", a broadcast as "BroadcastExchange"
            assert not re.search(r"\bExchange\b", plan), f"{m} {when}:\n{plan}"
            assert not _file_scans(plan), f"{m} {when}:\n{plan}"
            if zero_fill:
                # the fill merges grid and data by union + groupBy
                assert "BroadcastExchange" not in plan, f"{m} {when}:\n{plan}"
                assert "Join" not in plan, f"{m} {when}:\n{plan}"
        # the identity rule starts no Python worker; lerp still packs
        arrow_map = any("MapInArrow" in plan for plan in plans)
        assert arrow_map == m.startswith("sum:10m-sum"), f"{m} {when}:\n{plans}"
        # the series resolve and the data collect; nothing else for a fill
        assert jobs <= (2 if zero_fill else 3), f"{m} {when}: {jobs} jobs"


def _put(tsd, i, n=4):
    body = [{"metric": metric, "timestamp": START + 600 * i + j,
             "value": float(j), "tags": tags}
            for metric, tags in (("purchase", {"k": "3", "user": "u1"}),
                                 ("view", {"big": "1", "user": "u1"}),
                                 ("signup", {"k": "12", "user": "u1"}),
                                 ("error", {"k": "7", "user": "u1"}))
            for j in range(n)]
    out, _ = tsd.route("POST", "/api/put", {"summary": ""}, body)
    assert out["failed"] == 0


def test_reads_plan_no_exchange_and_no_file_scan(spark, monkeypatch):
    monkeypatch.setattr(tsd_mod, "_CHECKPOINT_EVERY", 3)
    monkeypatch.setattr(api, "ALLOW_DELETE", True)
    base = load_points(spark, SF_DIR)
    assert base.rdd.getNumPartitions() == 1  # one file split
    tsd = TSD(spark, base)
    _assert_zero_exchange(spark, tsd, "at start")

    _put(tsd, 0)
    _put(tsd, 1)
    assert tsd._delta is None and len(tsd._memtable) == 2
    _assert_zero_exchange(spark, tsd, "after puts")

    _put(tsd, 2)  # the _CHECKPOINT_EVERY-th write folds
    assert tsd._delta is not None and not tsd._memtable
    _put(tsd, 3)
    _assert_zero_exchange(spark, tsd, "after a fold")

    tsd.route("POST", "/api/query", {}, {
        "start": START, "end": START + 3_600, "delete": True,
        "queries": [{"metric": "purchase", "aggregator": "sum"}],
    })
    _assert_zero_exchange(spark, tsd, "after a delete")

    tsd.route("POST", "/api/uid/rename", {},
              {"kind": "tagv", "tagk": "k", "old": "12", "name": "twelve"})
    _assert_zero_exchange(spark, tsd, "after a uid rename")


@pytest.fixture
def served(spark):
    tsd = TSD(spark, load_points(spark, SF_DIR))
    http = make_http_server(tsd, 0)
    tel = TelnetServer(tsd, 0)
    threading.Thread(target=http.serve_forever, daemon=True).start()
    threading.Thread(target=tel.serve_forever, daemon=True).start()
    yield tsd, http.server_address[1], tel.server_address[1]
    http.shutdown()
    tel.shutdown()


def test_dropcaches_keeps_the_materialized_store(spark, served):
    tsd, port, tel_port = served
    path = (f"/api/query?start={START}&end={END}"
            "&m=zimsum:10m-sum:purchase%7Bk=*%7D")

    def read():
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return json.loads(r.read())

    expected = read()
    assert expected

    def dropcaches_http():
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/api/dropcaches") as r:
            assert r.status == 200

    def dropcaches_telnet():
        with socket.create_connection(("127.0.0.1", tel_port), timeout=30) as s:
            f = s.makefile("rwb")
            f.write(b"dropcaches\nexit\n")
            f.flush()
            assert f.readline().strip() == b"Caches dropped."

    for drop in (dropcaches_http, dropcaches_telnet):
        drop()
        out, plans, _ = _plans_and_jobs(spark, read)
        assert out == expected, drop.__name__
        assert plans and not any(_file_scans(p) for p in plans), drop.__name__
