"""The TSD's write path: each put is parsed and materialized once into a
memtable served as one LocalRelation, and every ``_CHECKPOINT_EVERY``
writes the memtable folds into a checkpointed delta. The served frame is
base ∪ delta ∪ memtable, so a read's plan and its Spark work stay the same
however many puts arrived."""

import uuid

from opentsdb_spark import api
from opentsdb_spark import tsd as tsd_mod
from opentsdb_spark.tsd import TSD
from tests.conftest import EPOCH


def _batch(metric, i, n=4, host="m1"):
    """n points at distinct seconds, batch i at EPOCH + 100*i + j."""
    return [{"metric": metric, "timestamp": EPOCH + 100 * i + j,
             "value": float(1000 * i + j), "tags": {"host": host}}
            for j in range(n)]


def _put(tsd, body):
    out, _ = tsd.route("POST", "/api/put", {"summary": ""}, body)
    assert out["failed"] == 0
    return out


def _read(tsd, metric):
    """Raw zimsum of ``metric`` as {epoch seconds: value}."""
    out, _ = tsd.route("GET", "/api/query", {
        "start": str(EPOCH), "end": str(EPOCH + 90_000), "m": f"zimsum:{metric}",
    }, None)
    return {int(k): v for s in out for k, v in s["dps"].items()}


def _sent(batches):
    return {dp["timestamp"]: dp["value"] for b in batches for dp in b}


def _leaves(df):
    # the probe perfbench's traced run reports as points.plan_depth
    return df._jdf.queryExecution().logical().collectLeaves().size()


def _spark_work(spark, fn):
    """(jobs, completed tasks) fn submits in its own job group."""
    sc = spark.sparkContext
    group = f"memtable-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        for sid in tracker.getJobInfo(jid).stageIds:
            stage = tracker.getStageInfo(sid)
            tasks += stage.numCompletedTasks if stage else 0
    return len(jobs), tasks


def test_plan_depth_bounded_and_folds_exact(spark, fixture_points):
    every = tsd_mod._CHECKPOINT_EVERY
    tsd = TSD(spark, fixture_points)
    sent = []
    for i in range(2 * every + 1):
        sent.append(_batch("mem.depth", i))
        _put(tsd, sent[-1])
        assert _leaves(tsd.points) <= 3, f"after put {i + 1}"
        if (i + 1) % every == 0:
            # right after a fold every written point sits in the delta
            assert _read(tsd, "mem.depth") == _sent(sent)
    assert _read(tsd, "mem.depth") == _sent(sent)


def test_put_is_one_job_and_reads_do_not_grow(spark, fixture_points):
    tsd = TSD(spark, fixture_points)

    def read():
        return _read(tsd, "sys.cpu.user")

    jobs0, _ = _spark_work(spark, read)
    tasks_at = {}
    for i in range(6):
        work = _spark_work(spark, lambda: _put(tsd, _batch("sys.cpu.user", i, host="web09")))
        assert work[0] == 1, f"put {i + 1} submitted {work[0]} jobs"
        if i + 1 in (2, 6):
            jobs, tasks_at[i + 1] = _spark_work(spark, read)
            assert jobs <= jobs0
    # the memtable is one relation: more batches add no scan tasks
    assert tasks_at[6] == tasks_at[2]


def test_delete_and_rename_reach_every_layer(spark, fixture_points, monkeypatch):
    monkeypatch.setattr(tsd_mod, "_CHECKPOINT_EVERY", 2)
    monkeypatch.setattr(api, "ALLOW_DELETE", True)
    tsd = TSD(spark, fixture_points)
    # two batches fold into the delta, the third stays in the memtable;
    # base, delta and memtable all hold sys.cpu.user points in [EPOCH, EPOCH+99]
    for i in range(3):
        _put(tsd, _batch("sys.cpu.user", 0, host=f"w{i}") + _batch("mem.keep", i))
    assert tsd._delta is not None and len(tsd._memtable) == 1
    window = f"metric = 'sys.cpu.user' and ts <= timestamp_seconds({EPOCH + 99})"
    assert tsd.points.where(window).count() == 2 * 3 + 3 * 4
    before = tsd.points.count()

    tsd.route("POST", "/api/query", {}, {
        "start": EPOCH, "end": EPOCH + 99, "delete": True,
        "queries": [{"metric": "sys.cpu.user", "aggregator": "sum"}],
    })
    assert tsd.points.where(window).count() == 0
    assert tsd.points.count() == before - 18
    assert _read(tsd, "mem.keep") == _sent(_batch("mem.keep", i) for i in range(3))

    tsd.route("POST", "/api/uid/rename", {},
              {"kind": "metric", "old": "mem.keep", "name": "mem.kept"})
    assert tsd.points.where("metric = 'mem.keep'").count() == 0
    assert _read(tsd, "mem.kept") == _sent(_batch("mem.keep", i) for i in range(3))

    # later puts are served, and across another fold nothing comes back
    _put(tsd, _batch("sys.cpu.user", 0, n=1, host="late"))
    _put(tsd, _batch("mem.keep", 7, n=2))
    assert tsd.points.where(window).count() == 1
    assert tsd.points.where("metric = 'mem.keep'").count() == 2
    assert tsd.points.where("metric = 'mem.kept'").count() == 12
    assert tsd.points.count() == before - 18 + 3


def test_telnet_puts_share_the_memtable(spark, fixture_points):
    tsd = TSD(spark, fixture_points)
    http = _batch("mem.tel", 0, n=2)
    _put(tsd, http)
    res = tsd.put_lines([f"put mem.tel {EPOCH + 50} 7 host=m1",
                         f"put mem.tel {EPOCH + 51} 9 host=m1",
                         "put bad!metric 1 2 host=m1"])
    assert res == {"success": 2, "failed": 1}
    assert len(tsd._memtable) == 2 and _leaves(tsd.points) == 2
    assert _read(tsd, "mem.tel") == {**_sent([http]), EPOCH + 50: 7.0, EPOCH + 51: 9.0}
    # one schema for both protocols: an integer point keeps its long value
    # whichever protocol carried it
    _put(tsd, [{"metric": "mem.int", "timestamp": EPOCH + 5, "value": 42,
                "tags": {"host": "m1"}}])
    tsd.put_lines([f"put mem.int {EPOCH + 5} 42 host=m1"])
    http_int, telnet_int = tsd._memtable[2:]
    assert telnet_int.schema == http_int.schema
    assert telnet_int.to_pylist() == http_int.to_pylist()
    rows = [r.asDict() for r in tsd.points.where("metric = 'mem.int'").collect()]
    assert len(rows) == 2 and rows[0] == rows[1] and rows[0]["value_long"] == 42


def test_default_annotation_lookup_runs_no_job(spark, fixture_points):
    from opentsdb_spark.operators.annotations import annotations_in_range

    tsd = TSD(spark, fixture_points)
    rows = []
    jobs, _ = _spark_work(spark, lambda: rows.extend(annotations_in_range(
        tsd.annotations, EPOCH * 1000, (EPOCH + 3600) * 1000,
        tsuids=("sys.cpu.user{host=web01}",)).collect()))
    assert rows == [] and jobs == 0


def test_empty_df_schema_from_ddl(spark):
    from opentsdb_spark.session import empty_df

    df = empty_df(spark, "kind string, name string, uid string")
    assert df.columns == ["kind", "name", "uid"] and df.collect() == []
