"""m= parser, gexp parser, API handlers, import/dump, limits tests."""

import itertools

import pytest
from pyspark.sql import functions as F

from opentsdb_spark import api
from opentsdb_spark.model import RateOptions
from opentsdb_spark.parse import parse_gexp, parse_m_subquery, parse_query
from opentsdb_spark.plans.limits import QueryLimitExceeded, enforce_data_point_limit
from opentsdb_spark.sources.points import dump_series, parse_import_lines
from tests.conftest import EPOCH


def test_parse_m_subquery_full():
    q = parse_m_subquery(
        "sum:10m-avg-zero:rate{counter,1000,10}:sys.cpu.user{host=*,dc=literal_or(lga|phx)}{k=regexp(x.*)}"
    )
    assert q.aggregator == "sum"
    assert q.metric == "sys.cpu.user"
    assert q.downsample.interval_ms == 600_000
    assert q.downsample.aggregator == "avg"
    assert q.downsample.fill == "zero"
    assert q.rate == RateOptions(counter=True, counter_max=1000, reset_value=10)
    f = {x.tagk: x for x in q.filters}
    assert f["host"].type == "iwildcard" and f["host"].group_by
    assert f["dc"].type == "literal_or" and f["dc"].filter == "lga|phx"
    assert f["k"].type == "regexp" and not f["k"].group_by


def test_parse_rate_empty_positional_slots():
    # empty slots are positional defaults (reference QueryRpc.
    # parseRateOptions:775-783): 'rate{counter,,1000}' keeps max=Long.MAX
    q = parse_m_subquery("sum:rate{counter,,1000}:m1")
    assert q.rate == RateOptions(
        counter=True, counter_max=(1 << 63) - 1, reset_value=1000
    )
    q = parse_m_subquery("sum:rate{}:m1")
    assert q.rate == RateOptions()
    q = parse_m_subquery("sum:rate{dropcounter}:m1")
    assert q.rate.drop_resets and q.rate.counter
    # engine extension: trailing 'fvz' opts into the reference's
    # first-vs-(0,0) origin (RateSpan.java:108-114); composes with the
    # positional counter slots and never collides with them
    q = parse_m_subquery("sum:rate{fvz}:m1")
    assert q.rate == RateOptions(first_vs_zero=True)
    q = parse_m_subquery("sum:rate{counter,,1000,fvz}:m1")
    assert q.rate.counter and q.rate.reset_value == 1000 and q.rate.first_vs_zero
    with pytest.raises(ValueError):
        parse_m_subquery("sum:rate{counter,1,2,3,fvz}:m1")


def test_parse_m_subquery_minimal():
    q = parse_m_subquery("avg:sys.cpu.user")
    assert q.aggregator == "avg" and q.metric == "sys.cpu.user"
    assert q.downsample is None and q.rate is None and q.filters == ()
    q = parse_m_subquery("max:0all-sum:m1")
    assert q.downsample.run_all
    q = parse_m_subquery("sum:1dc-max:m1")
    assert q.downsample.calendar and q.downsample.calendar_unit == "d"
    q = parse_m_subquery("sum:explicit_tags:m1{host=web01}")
    assert q.explicit_tags


def test_parse_query_get():
    tsq = parse_query({"start": "1h-ago", "m": ["sum:m1", "avg:m2{h=*}"]})
    assert len(tsq.queries) == 2
    assert tsq.queries[1].filters[0].type == "iwildcard"


def test_handle_query_get(fixture_points):
    out = api.handle_query(
        fixture_points,
        {"start": EPOCH, "end": EPOCH + 100_000,
         "m": "sum:10m-avg:sys.cpu.user{host=*}"},
    )
    assert len(out) == 2
    by_host = {r["tags"]["host"]: r for r in out}
    assert by_host["web01"]["dps"][str(EPOCH)] == pytest.approx(10.0)


def test_inverted_time_range_rejected(fixture_points):
    """end < start must fail validation (TSQuery.java:179-183), never reach
    F.sequence — which would silently generate a DESCENDING time grid."""
    req = {"start": EPOCH + 1000, "end": EPOCH,
           "m": "sum:10m-avg-zero:sys.cpu.user"}
    with pytest.raises(ValueError, match="must be greater than or equal"):
        api.handle_query(fixture_points, req)
    with pytest.raises(ValueError, match="Missing queries"):
        from opentsdb_spark.model import TSQuery
        from opentsdb_spark.plans.planner import compile_query

        compile_query(fixture_points, TSQuery(start=EPOCH, end=EPOCH + 1))


def test_handle_query_data_point_limit(fixture_points):
    # over-limit queries abort BEFORE collecting (reference tsd.query.limits
    # data-point ceiling, TsdbQuery.java:527-536), per-request override key
    from opentsdb_spark.plans.limits import QueryLimitExceeded

    # (agg=none over a multi-series metric is itself a strict_none error on
    # the API surface now — use a real aggregator to exercise the limit)
    req = {"start": EPOCH, "end": EPOCH + 9000 * 1000,
           "m": "sum:sys.cpu.user", "max_data_points": 10}
    with pytest.raises(QueryLimitExceeded):
        api.handle_query(fixture_points, req)
    req["max_data_points"] = 100_000  # raise the ceiling -> passes
    assert api.handle_query(fixture_points, req)
    # process-wide default ceiling path
    from opentsdb_spark.plans import limits

    limits.configure(10)
    try:
        with pytest.raises(QueryLimitExceeded):
            api.handle_query(fixture_points, {k: req[k] for k in ("start", "end", "m")})
    finally:
        limits.configure(0)


def test_per_metric_limit_override(fixture_points, tmp_path):
    """tsd.query.limits.overrides (QueryLimitOverride.java): a regex-matched
    metric gets ITS OWN ceiling — one metric over-budget rejects while a
    sibling query passes under the (unlimited) global default, and an
    explicit per-request max_data_points still beats the override."""
    import json

    from opentsdb_spark.plans import limits
    from opentsdb_spark.plans.limits import QueryLimitExceeded, QueryLimitOverrides

    req = {"start": EPOCH, "end": EPOCH + 9000 * 1000}
    ov = QueryLimitOverrides([
        {"regex": "^noisy\\..*", "dataPointsLimit": 10, "byteLimit": 0},
        {"regex": "^sys\\.cpu\\..*", "dataPointsLimit": 10, "byteLimit": 0},
    ])
    try:
        # only the unmatched-pattern override installed: query passes
        # under the unlimited global default
        limits.configure(overrides=QueryLimitOverrides(
            [{"regex": "^noisy\\..*", "dataPointsLimit": 10}]))
        assert api.handle_query(fixture_points, {**req, "m": "sum:sys.cpu.user"})
        # matched metric: its 10-point ceiling trips while the global
        # default stays unlimited
        limits.configure(overrides=ov)
        with pytest.raises(QueryLimitExceeded):
            api.handle_query(fixture_points, {**req, "m": "sum:sys.cpu.user"})
        # explicit per-request ceiling beats the override
        assert api.handle_query(
            fixture_points,
            {**req, "m": "sum:sys.cpu.user", "max_data_points": 100_000})
        # overrides reach the OTHER query surfaces too: gexp resolves the
        # metrics inside the expression, last/lookup resolve request.metric
        with pytest.raises(QueryLimitExceeded):
            api.handle_gexp(fixture_points,
                            {**req, "exp": "scale(sum:sys.cpu.user,2)"})
        from opentsdb_spark.parse import gexp_metrics
        assert gexp_metrics("scale(sum:sys.cpu.user,2)") == ["sys.cpu.user"]
        from opentsdb_spark.plans.limits import strictest_limit
        assert strictest_limit({}, ["sys.cpu.user", "other"]) == 10
        assert strictest_limit({"max_data_points": 7}, ["sys.cpu.user"]) == 7
        assert strictest_limit({}, ["other"]) == 0
        # metrics ALL resolved unlimited (a matched 0, which the reference's
        # getDataPointLimit returns verbatim) stay unlimited even under a
        # positive global default; only "no metrics at all" falls back
        limits.configure(max_data_points=100, overrides=QueryLimitOverrides(
            [{"regex": "^free\\..*", "dataPointsLimit": 0}]))
        assert strictest_limit({}, ["free.a", "free.b"]) == 0
        assert strictest_limit({}, []) == 100
        assert strictest_limit({}, ["free.a", "sys.x"]) == 100  # sys.x -> default
        limits.configure(max_data_points=0, overrides=ov)
        # file loader accepts the reference's item serialization
        p = tmp_path / "overrides.json"
        p.write_text(json.dumps(
            [{"regex": "noisy.*", "dataPointsLimit": 5, "byteLimit": 123}]))
        limits.configure(overrides_file=str(p))
        assert limits.request_limit({}, "noisy.metric") == 5
        assert limits.request_byte_limit({}, "noisy.metric") == 123
        assert limits.request_limit({}, "other") == limits.DEFAULT_MAX_DATA_POINTS
    finally:
        limits.OVERRIDES = None


def test_handle_query_post(fixture_points):
    out = api.handle_query(
        fixture_points,
        {"start": EPOCH, "end": EPOCH + 100_000,
         "queries": [{"metric": "sys.cpu.user", "aggregator": "max",
                      "filters": [{"type": "literal_or", "tagk": "host",
                                   "filter": "web02", "groupBy": True}]}]},
    )
    # dc is constant across the group's series -> stays in tags
    # (reference SpanGroup.computeTags: only CONFLICTING values aggregate)
    assert len(out) == 1 and out[0]["tags"] == {"host": "web02", "dc": "phx"}


def test_handle_gexp(fixture_points):
    out = api.handle_gexp(
        fixture_points,
        {"exp": "scale(sum:10m-avg:sys.cpu.user{host=*},2)",
         "start": EPOCH, "end": EPOCH + 100_000},
    )
    assert len(out) == 2
    by_host = {r["tags"]["host"]: r for r in out}
    assert by_host["web01"]["dps"][str(EPOCH)] == pytest.approx(20.0)


def test_parse_gexp_nested(fixture_points):
    df = parse_gexp(
        "sumSeries(sum:10m-avg:sys.cpu.user{host=literal_or(web01)},"
        "sum:10m-avg:sys.cpu.user{host=literal_or(web02)})",
        fixture_points, EPOCH * 1000, (EPOCH + 100_000) * 1000,
    )
    # {host=...} filters are grouping, so the union join keys on host:
    # each host keeps its own series, the other side zero-fills
    rows = {(r["host"], int(r["ts"].timestamp())): r["value"] for r in df.collect()}
    assert rows[("web01", EPOCH)] == pytest.approx(10.0)
    assert rows[("web02", EPOCH)] == pytest.approx(sum(range(282, 301)) / 19)


def test_handle_metadata(fixture_points):
    assert "sum" in api.handle_aggregators()
    assert api.handle_version()["engine"] == "opentsdb-spark"
    out = api.handle_suggest(fixture_points, {"type": "metrics", "q": "sys"})
    assert out == ["sys.cpu.user"]
    out = api.handle_lookup(fixture_points, {"metric": "sys.cpu.user",
                                             "tags": [{"key": "host", "value": "web01"}]})
    assert len(out) == 1 and out[0]["tags"]["host"] == "web01"
    out = api.handle_last(fixture_points, {"metric": "sys.cpu.user"})
    assert len(out) == 2


def test_import_dump_roundtrip(spark, fixture_points):
    lines = dump_series(fixture_points.limit(10))
    reparsed = parse_import_lines(lines, "line")
    assert reparsed.count() == 10
    orig = {(r["metric"], r["ts"], r["value"]) for r in fixture_points.limit(10).collect()}
    got = {(r["metric"], r["ts"], r["value"]) for r in reparsed.collect()}
    assert got == orig


def test_limits(fixture_points):
    rows = fixture_points.collect()
    assert enforce_data_point_limit(rows, 0) is rows
    enforce_data_point_limit(rows, 10_000)
    enforce_data_point_limit(rows[:10], 10)
    with pytest.raises(QueryLimitExceeded):
        enforce_data_point_limit(fixture_points.limit(11).collect(), 10)


_JOB_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` submits (run under its own job group)."""
    sc, group = spark.sparkContext, f"jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_scan_budget_rejects_before_execution(spark, fixture_points):
    """The budget is priced from the resolved series alone — a 1-second
    zero-filled downsample over the range explodes to ~series x
    range_seconds output rows, which the grid ARITHMETIC catches without
    ever building (or counting) that grid. A sane grid passes; a raw scan
    bigger than the ceiling is also caught; a rejected query runs no job
    beyond the series resolution."""
    from opentsdb_spark.model import DownsampleSpec
    from opentsdb_spark.plans.limits import enforce_scan_budget
    from opentsdb_spark.serializer import resolve_series

    start_ms, end_ms = EPOCH * 1000, (EPOCH + 10 * 86400) * 1000
    src = fixture_points.where(F.col("metric") == "sys.cpu.user")
    counts = [s.points for s in resolve_series(src)]
    assert sorted(counts) == [300, 300]
    # two batches of one series, their tag maps in different key order,
    # resolve to one series and one TSUID
    host_dc = F.create_map(F.lit("host"), F.lit("web01"), F.lit("dc"), F.lit("lga"))
    dc_host = F.create_map(F.lit("dc"), F.lit("lga"), F.lit("host"), F.lit("web01"))
    [one] = resolve_series(src.limit(3).withColumn("tags", host_dc).unionByName(
        src.limit(2).withColumn("tags", dc_host)))
    assert (one.tsuid, one.points) == ("sys.cpu.user{dc=lga,host=web01}", 5)
    # 600 raw points, but a 1s fill=zero grid = 2 series x 864001 buckets
    with pytest.raises(QueryLimitExceeded, match="grid"):
        enforce_scan_budget(
            counts, DownsampleSpec(1_000, "avg", fill="zero"), start_ms, end_ms, 100_000
        )
    # same query, 1h buckets: 2 x 241 clears the same ceiling
    enforce_scan_budget(
        counts, DownsampleSpec(3_600_000, "avg", fill="zero"), start_ms, end_ms, 100_000
    )
    # raw scan over the ceiling is caught from the summed counts
    with pytest.raises(QueryLimitExceeded, match="scan"):
        enforce_scan_budget(counts, None, start_ms, end_ms, 10)
    # API path: the grid rejection fires through handle_query, and the
    # data plan never runs — only the resolution's jobs are submitted
    req = {"start": EPOCH, "end": EPOCH + 10 * 86400,
           "m": "sum:1s-avg-zero:sys.cpu.user", "max_data_points": 100_000}
    compiled = api.compile_query(fixture_points, parse_query(req))

    def rejected():
        with pytest.raises(QueryLimitExceeded, match="grid"):
            api.handle_query(fixture_points, req)

    resolve_jobs = _jobs(spark, lambda: resolve_series(compiled[0].source_df))
    assert _jobs(spark, rejected) <= resolve_jobs


def _notes(spark, rows):
    """Annotation frame of (tsuid, start second after EPOCH, description)."""
    return spark.createDataFrame(
        [(t, (EPOCH + s) * 1000, d) for t, s, d in rows],
        "tsuid string, s long, description string",
    ).select("tsuid", F.timestamp_millis("s").alias("start_time"),
             F.lit(None).cast("timestamp").alias("end_time"), "description",
             F.lit(None).cast("string").alias("notes"),
             F.lit(None).cast("map<string,string>").alias("custom"))


def test_query_job_count(spark, fixture_points):
    """One resolve and one data collect per sub-query: a grouped, zero-filled
    downsample with annotations submits at most 3 jobs beyond the data plan's
    own collect (the resolution's aggregate and the annotation lookup)."""
    anns = _notes(spark, [("sys.cpu.user{dc=lga,host=web01}", 60, "deploy")])
    req = {"start": EPOCH, "end": EPOCH + 10_000,
           "m": "sum:10m-avg-zero:sys.cpu.user{host=*}"}
    compiled = api.compile_query(fixture_points, parse_query(req))
    out = api.handle_query(fixture_points, req, annotations=anns)  # warm
    assert [a["description"] for a in out[0]["annotations"]] == ["deploy"]
    data_jobs = _jobs(spark, compiled[0].df.collect)
    query_jobs = _jobs(
        spark, lambda: api.handle_query(fixture_points, req, annotations=anns))
    assert query_jobs <= data_jobs + 3


# each endpoint called with a data-point ceiling n (0 = unlimited)
_LIMITED_ENDPOINTS = {
    "gexp": lambda pts, anns, n: api.handle_gexp(pts, {
        "exp": "scale(sum:10m-avg:sys.cpu.user{host=*},2)",
        "start": EPOCH, "end": EPOCH + 100_000, "max_data_points": n}),
    "exp": lambda pts, anns, n: api.handle_exp(pts, {
        "time": {"start": EPOCH, "end": EPOCH + 100_000, "aggregator": "sum",
                 "downsampler": {"interval": "10m", "aggregator": "avg"}},
        "metrics": [{"id": "a", "metric": "sys.cpu.user"}],
        "expressions": [{"id": "e", "expr": "a * 2"}],
        "outputs": [{"id": "e"}], "max_data_points": n}),
    "last": lambda pts, anns, n: api.handle_last(
        pts, {"metric": "sys.cpu.user", "max_data_points": n}),
    "lookup": lambda pts, anns, n: api.handle_lookup(
        pts, {"metric": "sys.cpu.user", "max_data_points": n}),
    "annotation": lambda pts, anns, n: api.handle_annotation_query(
        anns, {"start_time": EPOCH, "end_time": EPOCH + 1_000, "max_data_points": n,
               "tsuids": ["sys.cpu.user{dc=lga,host=web01}",
                          "sys.cpu.user{dc=phx,host=web02}"]}),
    "tree": lambda pts, anns, n: api.handle_tree(pts, {
        "rules": [{"type": "TAGK", "field": "dc"},
                  {"type": "METRIC", "separator": "."}],
        "max_data_points": n}),
}


def _executions(spark, fn) -> int:
    """SQL executions (one per action: collect, count, ...) ``fn`` runs."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids():
        bus.waitUntilEmpty()
        runs = store.executionsList()
        return {runs.apply(i).executionId() for i in range(runs.size())}

    before = ids()
    fn()
    return len(ids() - before)


@pytest.mark.parametrize("endpoint", sorted(_LIMITED_ENDPOINTS))
def test_limited_endpoint_collects_once(spark, fixture_points, endpoint):
    """Under a data-point ceiling an endpoint runs its plan once, as
    limit(n+1).collect(), with no count before it: it runs no more Spark
    actions than the same request without a ceiling (one plain collect)
    and returns the same answer. Actions are counted as SQL executions,
    not jobs: a limited collect may scan the partitions of its one
    execution in more than one job."""
    anns = _notes(spark, [("sys.cpu.user{dc=lga,host=web01}", 60, "deploy"),
                          ("sys.cpu.user{dc=phx,host=web02}", 120, "fix")])
    call = _LIMITED_ENDPOINTS[endpoint]
    unlimited = call(fixture_points, anns, 0)  # warm
    assert unlimited
    assert call(fixture_points, anns, 10_000) == unlimited
    limited = _executions(spark, lambda: call(fixture_points, anns, 10_000))
    assert 0 < limited <= _executions(spark, lambda: call(fixture_points, anns, 0))
    with pytest.raises(QueryLimitExceeded):
        call(fixture_points, anns, 1)


def test_byte_budget_prices_from_plan_stats(spark, fixture_points, tmp_path):
    """tsd.query.limits.bytes analog: the ceiling is enforced from the
    OPTIMIZED plan's size statistics — partition pruning must shrink the
    estimate (a one-day slice of a dt-partitioned layout prices only that
    day's files), and rejection runs NO Spark job."""
    from opentsdb_spark.plans.limits import (
        QueryLimitExceeded, enforce_byte_budget, estimate_scan_bytes,
    )
    from opentsdb_spark.sources.points import write_points

    path = str(tmp_path / "pts")
    # fixture spans one day; widen to 3 dt partitions by shifting copies
    wide = fixture_points
    for days in (1, 2):
        wide = wide.unionByName(
            fixture_points.withColumn(
                "ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS"))
        )
    write_points(wide, path)
    full = spark.read.parquet(path)
    full_bytes = estimate_scan_bytes(full)
    day0 = full.where(F.col("dt") == F.to_date(F.timestamp_seconds(F.lit(EPOCH))))
    day0_bytes = estimate_scan_bytes(day0)
    assert 0 < day0_bytes < full_bytes  # pruning reflected in the estimate
    enforce_byte_budget(day0, day0_bytes + 1)  # under budget passes
    with pytest.raises(QueryLimitExceeded, match="bytes"):
        enforce_byte_budget(day0, day0_bytes - 1)
    # rejection is statistics-only: no job may run
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    with pytest.raises(QueryLimitExceeded):
        enforce_byte_budget(full, 1)
    assert tracker.getJobIdsForGroup(None) == before


# four series of one metric: ``rack`` is missing on one of them, ``host``
# conflicts within every dc group, and the host values mix case and a
# non-ASCII letter so driver-side ordering is checked against Spark's
MIXED_TAGS = (
    {"host": "a", "dc": "lga", "rack": "r1"},
    {"host": "b", "dc": "lga"},
    {"host": "\u00e9", "dc": "phx", "rack": "r1"},
    {"host": "Z", "dc": "phx", "rack": "r1"},
)


@pytest.fixture(scope="module")
def mixed_points(spark):
    rows = [("m.mixed", (EPOCH + 60 * i + 7 * n) * 1000, float(10 * n + i), tags)
            for n, tags in enumerate(MIXED_TAGS) for i in range(5)]
    return spark.createDataFrame(
        rows, "metric string, ts_ms long, value double, tags map<string,string>"
    ).select("metric", F.timestamp_millis("ts_ms").alias("ts"), "value",
             F.lit(None).cast("long").alias("value_long"), "tags")


def test_aggregate_tags(fixture_points, mixed_points):
    out = api.handle_query(
        fixture_points,
        {"start": EPOCH, "end": EPOCH + 100_000,
         "m": "sum:10m-avg:sys.cpu.user{host=*}"},
    )
    # each host group holds ONE series, so dc is constant within it and
    # stays in tags (SpanGroup.computeTags); nothing is aggregated away
    assert out[0]["aggregateTags"] == []
    assert out[0]["tags"]["dc"] in ("lga", "phx")
    # ungrouped: both series collapse, dc and host CONFLICT -> aggregated
    both = api.handle_query(
        fixture_points,
        {"start": EPOCH, "end": EPOCH + 100_000, "m": "sum:10m-avg:sys.cpu.user"},
    )
    assert both[0]["aggregateTags"] == ["dc", "host"] and both[0]["tags"] == {}
    # a key only some series carry stays in tags when every series that
    # has it agrees; a conflicting key moves to aggregateTags
    by_dc = api.handle_query(
        mixed_points,
        {"start": EPOCH, "end": EPOCH + 1_000, "m": "sum:1m-sum:m.mixed{dc=*}"},
    )
    assert [(s["tags"], s["aggregateTags"]) for s in by_dc] == [
        ({"dc": "lga", "rack": "r1"}, ["host"]),
        ({"dc": "phx", "rack": "r1"}, ["host"]),
    ]
    flat = api.handle_query(
        mixed_points,
        {"start": EPOCH, "end": EPOCH + 1_000, "m": "sum:1m-sum:m.mixed"},
    )
    assert flat[0]["tags"] == {"rack": "r1"}
    assert flat[0]["aggregateTags"] == ["dc", "host"]


def test_resolved_series_parity(spark, mixed_points):
    """tags/aggregateTags, TSUID lists, annotation routing and series/dps
    order all come from the one series resolution and the one collect, and
    match what per-fact Spark aggregates and ``orderBy`` give."""
    from opentsdb_spark.sources.points import series_id_col

    sids = {r["host"]: r["sid"] for r in mixed_points.select(
        F.col("tags")["host"].alias("host"), series_id_col().alias("sid")
    ).distinct().collect()}
    anns = _notes(spark, [(sids["a"], 60, "on a"), (None, 61, "all")])
    for m, key in (("sum:1m-sum:m.mixed{dc=*}", "dc"), ("sum:m.mixed{host=*}", "host")):
        req = {"start": EPOCH, "end": EPOCH + 1_000, "m": m,
               "show_tsuids": "1", "global_annotations": "1"}
        out = api.handle_query(mixed_points, req, annotations=anns)
        for s in out:
            members = sorted(sids[t["host"]] for t in MIXED_TAGS
                             if t[key] == s["tags"][key])
            assert s["tsuids"] == members
            assert [a["description"] for a in s["annotations"]] == (
                ["on a"] if sids["a"] in members else [])
            assert [g["description"] for g in s["globalAnnotations"]] == ["all"]
        # series and dps order: Spark's ascending orderBy on key then time
        compiled = api.compile_query(mixed_points, parse_query(req))
        want = [(r[key], r["t"] // 1000) for r in compiled[0].df.select(
            key, F.unix_millis("ts").alias("t")).orderBy(key, "t").collect()]
        got = [(s["tags"][key], int(t)) for s in out for t in s["dps"]]
        assert got == want
    assert [s["tags"]["host"] for s in out] == ["Z", "a", "b", "\u00e9"]


def test_tree(fixture_points):
    from opentsdb_spark.operators.tree import TreeRule, build_tree, tree_branches

    leaves = build_tree(
        fixture_points,
        (TreeRule("METRIC", separator="."), TreeRule("TAGK", "host")),
    )
    rows = {tuple(r["path"]): r["depth"] for r in leaves.collect()}
    assert ("sys", "cpu", "user", "web01") in rows
    assert rows[("sys", "cpu", "user", "web02")] == 4
    branches = tree_branches(leaves)
    b = {r["branch_path"]: r["leaf_count"] for r in branches.collect()}
    assert b["sys"] == 2 and b["sys/cpu/user"] == 2
    assert b["sys/cpu/user/web01"] == 1


def test_uid_ops(fixture_points):
    from opentsdb_spark.operators.uid import (
        rename_metric, rename_tagk, rename_tagv, uid_listing,
    )

    out = {r["name"]: r["points"] for r in uid_listing(fixture_points, "metrics").collect()}
    assert out == {"sys.cpu.user": 600}
    out = {r["name"] for r in uid_listing(fixture_points, "tagk").collect()}
    assert out == {"host", "dc"}
    df = rename_metric(fixture_points, "sys.cpu.user", "cpu.u")
    assert df.where(F.col("metric") == "cpu.u").count() == 600
    df = rename_tagk(fixture_points, "host", "server")
    assert df.where(F.map_contains_key("tags", "server")).count() == 600
    df = rename_tagv(fixture_points, "host", "web01", "w1")
    assert df.where(F.col("tags")["host"] == "w1").count() == 300


def test_cli_in_process(spark, tmp_path, capsys):
    from opentsdb_spark import cli

    rc = cli.main(["--sf-dir", "/root/testdata/sf0.001", "query",
                   "--start", "2024/01/01", "--end", "2024/02/01", "--ascii",
                   "sum:1d-sum:purchase{user=literal_or(1)}"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "purchase{user=1}" in out and "aggregated: k" in out
    rc = cli.main(["--sf-dir", "/root/testdata/sf0.001", "suggest", "--type", "metrics"])
    assert rc == 0
    assert "purchase" in capsys.readouterr().out
    rc = cli.main(["version"])
    assert rc == 0
    assert "opentsdb-spark" in capsys.readouterr().out
    rc = cli.main(["--sf-dir", "/root/testdata/sf0.001", "search", "lookup",
                   "purchase", "user=1"])
    assert rc == 0
    assert "purchase{" in capsys.readouterr().out
    png_path = tmp_path / "g.png"
    rc = cli.main(["--sf-dir", "/root/testdata/sf0.001", "graph",
                   "--start", "2024/01/01", "--end", "2024/02/01",
                   "--out", str(png_path), "--wxh", "320x240",
                   "sum:1d-sum:purchase"])
    assert rc == 0
    from opentsdb_spark.graph import decode_png_size

    assert decode_png_size(png_path.read_bytes()) == (320, 240)


def test_cli_uid_registry_and_trees(spark, tmp_path, capsys):
    """`uid delete/lookup` against the assign registry and `uid treesync` /
    `uid treepurge` against a tree-storage dir (UidManager.java:60-90
    usage + :220-245 dispatch)."""
    from opentsdb_spark import cli
    from opentsdb_spark.operators.tree import (
        TreeDef, TreeRule, TreeStore, save_tree_defs,
    )

    reg = str(tmp_path / "reg")
    assert cli.main(["--sf-dir", "/root/testdata/sf0.001", "uid",
                     "--registry", reg, "assign", "m1", "m2"]) == 0
    capsys.readouterr()
    assert cli.main(["--sf-dir", "/root/testdata/sf0.001", "uid",
                     "--registry", reg, "lookup", "m1"]) == 0
    out = capsys.readouterr().out
    assert "m1" in out and "metric" in out
    assert cli.main(["--sf-dir", "/root/testdata/sf0.001", "uid",
                     "--registry", reg, "delete", "m1"]) == 0
    capsys.readouterr()
    # deleted name no longer resolves; m2 still does
    assert cli.main(["--sf-dir", "/root/testdata/sf0.001", "uid",
                     "--registry", reg, "lookup", "m1"]) == 2
    assert cli.main(["--sf-dir", "/root/testdata/sf0.001", "uid",
                     "--registry", reg, "lookup", "m2"]) == 0
    capsys.readouterr()

    td = str(tmp_path / "trees")
    st = TreeStore()
    st.create(TreeDef(tree_id=0, name="by user",
                      rules=(TreeRule(type="TAGK", field="user"),)))
    save_tree_defs(st, td)
    assert cli.main(["--sf-dir", "/root/testdata/sf0.001", "uid",
                     "--trees", td, "treesync"]) == 0
    assert '"leaves"' in capsys.readouterr().out
    import os

    assert os.path.isdir(os.path.join(td, "tree_1", "leaves"))
    assert cli.main(["uid", "--trees", td, "treepurge", "1", "true"]) == 0
    assert not os.path.isdir(os.path.join(td, "tree_1"))


def test_handle_stats(spark):
    out = api.handle_stats(spark)
    assert out["default_parallelism"] >= 1 and "applicationId" in out


def test_ascii_table():
    from opentsdb_spark.serializer import ascii_table

    txt = ascii_table([{"metric": "m", "tags": {"h": "a"}, "aggregateTags": ["k"],
                        "dps": {"100": 1.5}}])
    assert "m{h=a}" in txt and "100  1.5" in txt and "aggregated: k" in txt


def test_handle_exp(fixture_points):
    body = {
        "time": {"start": EPOCH, "end": EPOCH + 100_000, "aggregator": "sum",
                 "downsampler": {"interval": "10m", "aggregator": "avg"}},
        "filters": [{"id": "f1", "tags": [{"type": "wildcard", "tagk": "host",
                                           "filter": "*", "groupBy": True}]}],
        "metrics": [{"id": "a", "metric": "sys.cpu.user", "filter": "f1"},
                    {"id": "b", "metric": "sys.cpu.user", "filter": "f1"}],
        "expressions": [{"id": "e", "expr": "a + b",
                         "join": {"operator": "intersection"}}],
        "outputs": [{"id": "e"}],
    }
    out = api.handle_exp(fixture_points, body)
    assert set(out) == {"e"}
    rows = {(r["host"], int(r["ts"].timestamp())): r["value"] for r in out["e"]}
    # a + b = 2x the 10m avg per host
    assert rows[("web01", EPOCH)] == pytest.approx(20.0)


def test_handle_query_multi_m(fixture_points):
    out = api.handle_query(
        fixture_points,
        {"start": EPOCH, "end": EPOCH + 100_000,
         "m": ["sum:10m-avg:sys.cpu.user{host=*}", "max:0all-max:sys.cpu.user"]},
    )
    # 2 series from the first sub-query + 1 collapsed series from the second
    assert len(out) == 3
    glob = [r for r in out if not r["tags"]][0]
    assert glob["dps"][str(EPOCH)] == 300.0


def test_handle_query_delete(fixture_points):
    # disabled by default, mirroring tsd.http.query.allow_delete=false
    req = {"start": EPOCH, "end": EPOCH + 3000,
           "m": "sum:sys.cpu.user{host=literal_or(web01)}"}
    with pytest.raises(PermissionError):
        api.handle_query_delete(fixture_points, req)
    api.ALLOW_DELETE = True
    try:
        results, retained, _tsq = api.handle_query_delete(fixture_points, req)
        assert results  # query results still served, like the reference
        # 100 buckets of 30s in (EPOCH, EPOCH+3000]: ts starts at EPOCH+30
        n_deleted = fixture_points.count() - retained.count()
        assert n_deleted == 100  # only web01's points in range
        from pyspark.sql import functions as F

        still = retained.where(
            (F.col("tags")["host"] == "web01")
            & (F.unix_millis("ts") <= (EPOCH + 3000) * 1000)
        )
        assert still.count() == 0
    finally:
        api.ALLOW_DELETE = False


def test_delete_removes_what_the_read_matched(fixture_points):
    """DELETE /api/query removes exactly the points the same query reads:
    each sub-query's matched points (the read's source frame) together,
    and nothing else — for a metric with a tag filter, a regexp filter
    and a TSUID-only sub-query."""
    from opentsdb_spark.model import SubQuery, TagFilter, TSQuery
    from opentsdb_spark.plans.planner import compile_query, delete_matching_points

    def keyed(df):
        return {(r["metric"], r["ts"], r["value"], tuple(sorted(r["tags"].items())))
                for r in df.collect()}

    every = keyed(fixture_points)
    assert len(every) == fixture_points.count()  # no duplicate points

    tsq = TSQuery(start=str(EPOCH + 600), end=str(EPOCH + 1_200), queries=(
        SubQuery(metric="sys.cpu.user", aggregator="sum",
                 filters=(TagFilter("literal_or", "host", "web01", False),)),
        SubQuery(metric="", aggregator="sum",
                 tsuids=("sys.cpu.user{dc=phx,host=web02}",)),
    ))
    wider = TSQuery(start=str(EPOCH), end=str(EPOCH + 9_000), queries=(
        SubQuery(metric="sys.cpu.user", aggregator="max",
                 filters=(TagFilter("regexp", "dc", "p.*", True),)),
    ))
    for q in (tsq, wider):
        read = set().union(*(keyed(r.source_df) for r in compile_query(fixture_points, q)))
        deleted = every - keyed(delete_matching_points(fixture_points, q))
        assert deleted == read
        assert 0 < len(deleted) < len(every)


def test_fsck(spark, fixture_points):
    from opentsdb_spark.sources.points import fsck_fix, fsck_points

    pts = fixture_points.withColumn("value_long", F.lit(None).cast("long"))
    dup = pts.union(pts.limit(5))  # 5 duplicate cells
    bad = dup.union(
        spark.createDataFrame(
            [("m", (EPOCH + 999_999_999) * 1000, float("nan"), None, {"h": "x"})],
            "metric string, ms long, value double, value_long long, "
            "tags map<string,string>",
        ).select("metric", F.timestamp_millis("ms").alias("ts"),
                 "value", "value_long", "tags")
    )
    now_ms = EPOCH * 1000 + 10_000_000
    rep = {r["issue"]: r["count"] for r in fsck_points(bad, now_ms).collect()}
    assert rep["duplicate_points"] == 5
    assert rep["nan_value"] == 1
    assert rep["future_timestamp"] == 1
    fixed = fsck_fix(bad, now_ms)
    assert fixed.count() == 600  # dups resolved, NaN/future row dropped
    assert {r["issue"]: r["count"] for r in fsck_points(fixed, now_ms).collect()} == {
        "duplicate_points": 0, "nan_value": 0, "null_value": 0, "future_timestamp": 0}


def test_parse_percentiles_and_rollup_tokens():
    q = parse_m_subquery("sum:1d-sum:percentiles[99,50,95.5]:latency{host=*}")
    assert q.percentiles == (50.0, 95.5, 99.0)  # sorted, like setPercentiles
    assert q.downsample.interval_ms == 86_400_000
    q = parse_m_subquery("sum:show-histogram-buckets:latency")
    assert q.show_histogram_buckets and q.percentiles == ()
    q = parse_m_subquery("sum:rollup_raw:m1")
    assert q.rollup_usage == "ROLLUP_RAW"
    with pytest.raises(ValueError):
        parse_m_subquery("sum:percentiles(95):m1")


def test_handle_query_histogram_percentiles(spark, fixture_points):
    from opentsdb_spark.operators.histogram import synthesize_histograms

    pts = fixture_points.withColumn("host", F.col("tags")["host"])
    hists = (
        synthesize_histograms(pts, 100.0, ("metric", "host"), 3_600_000)
        .withColumn("tags", F.create_map(F.lit("host"), F.col("host")))
        .drop("host")
    )
    req = {
        "start": EPOCH, "end": EPOCH + 10_000,
        # 1d-sum re-buckets the hourly histograms into one daily merge
        "m": "sum:1d-sum:percentiles[50,99]:sys.cpu.user",
    }
    out = api.handle_query(fixture_points, req, histograms=hists)
    names = {s["metric"] for s in out}
    assert names == {"sys.cpu.user_pct_50.0", "sys.cpu.user_pct_99.0"}
    # values 1..300 uniform in width-100 buckets: p50 -> [100,200) midpoint,
    # p99 -> [200,300) midpoint
    by = {s["metric"]: s for s in out}
    assert set(by["sys.cpu.user_pct_50.0"]["dps"].values()) == {150.0}
    assert set(by["sys.cpu.user_pct_99.0"]["dps"].values()) == {250.0}
    # bucket series: one per (lower,upper), value = merged count
    req["m"] = "sum:show-histogram-buckets:sys.cpu.user{host=literal_or(web01)}"
    out = api.handle_query(fixture_points, req, histograms=hists)
    assert all(s["metric"].startswith("sys.cpu.user_bucket_") for s in out)
    total = sum(v for s in out for v in s["dps"].values())
    assert total == 300.0  # every web01 point counted once
    # no histogram frame -> explicit error
    with pytest.raises(ValueError, match="histogram"):
        api.handle_query(fixture_points, {"start": EPOCH, "m": "sum:percentiles[95]:x"})


def test_query_output_options(fixture_points):
    req = {
        "start": EPOCH, "end": EPOCH + 10_000,
        "m": "sum:sys.cpu.user{host=*}",
        "show_tsuids": "true", "show_query": "true",
        "show_stats": "true", "show_summary": "true",
    }
    out = api.handle_query(fixture_points, req)
    summary = out[-1]
    assert set(summary) == {"statsSummary"}
    assert summary["statsSummary"]["queryCount"] == 1
    assert summary["statsSummary"]["emittedDPs"] == sum(
        len(s["dps"]) for s in out[:-1]
    ) > 0
    series = out[:-1]
    assert {s["tags"]["host"] for s in series} == {"web01", "web02"}
    for s in series:
        # each grouped output series carries exactly its own source tsuid
        assert len(s["tsuids"]) == 1 and s["tags"]["host"] in s["tsuids"][0]
        assert s["query"]["metric"] == "sys.cpu.user"
        assert s["query"]["filters"][0]["type"] == "iwildcard"
        assert s["stats"]["emittedDPs"] > 0
    # flags off -> none of the extra fields appear
    plain = api.handle_query(
        fixture_points, {"start": EPOCH, "end": EPOCH + 10_000, "m": "sum:sys.cpu.user"}
    )
    assert all(
        set(s) == {"metric", "tags", "aggregateTags", "dps"} for s in plain
    )
    # aggregated (no group-by): one series, both tsuids listed sorted
    agg = api.handle_query(
        fixture_points,
        {"start": EPOCH, "end": EPOCH + 10_000, "m": "sum:sys.cpu.user",
         "show_tsuids": "1"},
    )
    assert len(agg) == 1 and len(agg[0]["tsuids"]) == 2
    assert agg[0]["tsuids"] == sorted(agg[0]["tsuids"])


def test_query_annotations_merged(spark, fixture_points):
    from opentsdb_spark.operators.annotations import ANNOTATION_SCHEMA
    from opentsdb_spark.sources.points import series_id_col

    web01 = fixture_points.where(F.col("tags")["host"] == "web01").select(
        series_id_col().alias("sid")
    ).first()["sid"]
    rows = [
        (web01, (EPOCH + 60) * 1000, None, "deploy", None, None),
        (web01, (EPOCH + 999_999) * 1000, None, "out of range", None, None),
        (None, (EPOCH + 90) * 1000, (EPOCH + 95) * 1000, "global maint", None, None),
        # an in-range note on a series the query does NOT match: the
        # semi-join against the matched-series frame must drop it
        ("other.metric{host=web09}", (EPOCH + 60) * 1000, None,
         "unmatched series", None, None),
    ]
    anns = spark.createDataFrame(
        [(t, *r) for t, *r in rows], "tsuid string, s long, e long, "
        "description string, notes string, custom map<string,string>"
    ).select(
        "tsuid", F.timestamp_millis("s").alias("start_time"),
        F.timestamp_millis("e").alias("end_time"), "description", "notes", "custom",
    )
    req = {"start": EPOCH, "end": EPOCH + 10_000,
           "m": "sum:sys.cpu.user{host=*}", "global_annotations": "1"}
    out = api.handle_query(fixture_points, req, annotations=anns)
    by_host = {s["tags"]["host"]: s for s in out}
    assert [a["description"] for a in by_host["web01"]["annotations"]] == ["deploy"]
    assert by_host["web01"]["annotations"][0]["startTime"] == EPOCH + 60
    assert by_host["web02"]["annotations"] == []
    for s in out:
        assert [g["description"] for g in s["globalAnnotations"]] == ["global maint"]
        assert all(a["description"] != "unmatched series"
                   for a in s["annotations"])
    # no_annotations suppresses everything
    req["no_annotations"] = "1"
    out = api.handle_query(fixture_points, req, annotations=anns)
    assert all("annotations" not in s for s in out)
    # arrays output option
    out = api.handle_query(
        fixture_points,
        {"start": EPOCH, "end": EPOCH + 10_000, "m": "sum:sys.cpu.user",
         "arrays": "true"},
    )
    dps = out[0]["dps"]
    assert isinstance(dps, list) and dps == sorted(dps)
    assert all(len(p) == 2 and isinstance(p[0], int) for p in dps)


def test_annotation_tsuid_filter_in_plan(spark, fixture_points):
    """Plan evidence for the annotation identity filter: the resolved series
    ids arrive as an IN list of literals, so the lookup reads only the
    annotation frame — no join against the points."""
    from opentsdb_spark.operators.annotations import annotations_in_range
    from opentsdb_spark.serializer import resolve_series

    anns = spark.createDataFrame(
        [("sys.cpu.user{dc=lga,host=web01}", (EPOCH + 60) * 1000, None, "d"),
         ("other{host=x}", (EPOCH + 61) * 1000, None, "u"),
         (None, (EPOCH + 62) * 1000, None, "g")],
        "tsuid string, s long, e long, description string",
    ).select("tsuid", F.timestamp_millis("s").alias("start_time"),
             F.timestamp_millis("e").alias("end_time"), "description")
    ids = tuple(s.tsuid for s in resolve_series(fixture_points))
    out = annotations_in_range(anns, EPOCH * 1000, (EPOCH + 300) * 1000,
                               tsuids=ids, include_global=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert (" IN (" in plan or " INSET " in plan) and "Join" not in plan
    got = sorted(r["description"] for r in out.collect())
    assert got == ["d", "g"]  # matched + global; unmatched series dropped


def test_annotation_tsuid_filter_exact(spark):
    """Series ids reach the IN list verbatim, whatever characters they hold."""
    from opentsdb_spark.operators.annotations import annotations_in_range

    odd = ["m{k=a'b}", "m{k=c\\d}", "m{k=${env:HOME}}", "m{k=x\ny}", "m{k=\U0001f600}"]
    anns = spark.createDataFrame(
        [(t, (EPOCH + 60) * 1000) for t in [*odd, "m{k=other}"]], "tsuid string, s long",
    ).select("tsuid", F.timestamp_millis("s").alias("start_time"),
             F.lit(None).cast("timestamp").alias("end_time"))
    out = annotations_in_range(anns, EPOCH * 1000, (EPOCH + 300) * 1000,
                               tsuids=tuple(odd), include_global=False)
    assert sorted(r["tsuid"] for r in out.collect()) == sorted(odd)


def test_graph_ascii_format():
    from opentsdb_spark.serializer import graph_ascii

    out = graph_ascii([
        {"metric": "sys.cpu", "tags": {"host": "web01", "dc": "lga"},
         "aggregateTags": [], "dps": {"100": 4.0, "160": 1.5, "220": float("nan")}},
    ])
    # one line per point: metric epoch_sec value tags (sorted); integral
    # doubles print as longs, NaN points are skipped (GraphHandler.java:979-982)
    assert out == (
        "sys.cpu 100 4 dc=lga host=web01\n"
        "sys.cpu 160 1.5 dc=lga host=web01\n"
    )
    # infinity aborts the response (GraphHandler.java:976-978)
    with pytest.raises(ValueError, match="Infinity"):
        graph_ascii([{"metric": "m", "tags": {}, "dps": {"1": float("inf")}}])
    # Java Double.toString E-notation outside [1e-3, 1e7)
    big = graph_ascii([{"metric": "m", "tags": {}, "dps": {"1": 123450000.5}}])
    assert big == "m 1 1.234500005E8\n"
    tiny = graph_ascii([{"metric": "m", "tags": {}, "dps": {"1": 0.0001220703125}}])
    assert tiny == "m 1 1.220703125E-4\n"


def test_handle_graph(fixture_points):
    req = {"start": EPOCH, "end": EPOCH + 100_000,
           "m": "sum:10m-avg:sys.cpu.user{host=*}"}
    # no output param -> redirect to the built-in UI, like GraphHandler:135-146
    red = api.handle_graph(fixture_points, dict(req))
    assert red["redirect"].startswith("/#start=")
    # m= values carry {}|* — the fragment must be percent-encoded and
    # decode back to the original params (the reference bounces the
    # original ENCODED query string)
    frag = red["redirect"][2:]
    assert "{" not in frag and "|" not in frag
    from urllib.parse import parse_qs

    decoded = {k: v[0] for k, v in parse_qs(frag).items()}
    assert decoded["m"] == req["m"]
    # ascii mode: per-point lines for both grouped series
    out = api.handle_graph(fixture_points, {**req, "ascii": "true"})
    lines = out["ascii"].strip().split("\n")
    assert out["points"] == len(lines) > 0
    first = lines[0].split(" ")
    assert first[0] == "sys.cpu.user" and first[1].isdigit() and "host=web01" in lines[0]
    # json mode: the GraphHandler.execute() metadata key set
    js = api.handle_graph(fixture_points, {**req, "json": "true"})
    assert set(js) == {"plotted", "points", "etags", "timing"}
    assert js["plotted"] == js["points"] == out["points"]
    assert js["etags"] == [[]]  # one series per host group: nothing aggregated
    # two sub-queries with IDENTICAL aggregated-tag sets still yield one
    # etags entry EACH (grouped by sub-query index, not list identity —
    # GraphHandler.java:259-262 collects getAggregatedTags per query)
    two = api.handle_graph(fixture_points, {
        "start": EPOCH, "end": EPOCH + 100_000, "json": "true",
        "m": ["sum:sys.cpu.user{host=*}", "max:sys.cpu.user{host=*}"],
    })
    assert two["etags"] == [[], []]
    # the internal grouping key never leaks into the series dicts
    assert all("__subquery_index" not in s for s in api.handle_query(
        fixture_points, {"start": EPOCH, "end": EPOCH + 100_000,
                         "m": "sum:sys.cpu.user{host=*}"}))
    # png renders via the stdlib raster backend (graph.render_png)
    png_out = api.handle_graph(fixture_points, {**req, "png": "true"})
    assert png_out["png"][:8] == b"\x89PNG\r\n\x1a\n"
    assert png_out["points"] == out["points"]


def test_none_aggregator_with_grouping_serializes(fixture_points):
    """agg=none + a group-by filter: per-series output with the series'
    FULL tag map (was a serializer crash on the unselected group columns)."""
    out = api.handle_query(
        fixture_points,
        {"start": EPOCH, "end": EPOCH + 100_000, "m": "none:sys.cpu.user{host=*}"},
    )
    assert len(out) == 2
    tags = {frozenset(s["tags"].items()) for s in out}
    assert frozenset({"host": "web01", "dc": "lga"}.items()) in tags
    assert all(s["aggregateTags"] == [] for s in out)


def test_tsuids_param_alias_and_arrays_flag(fixture_points):
    from opentsdb_spark.sources.points import series_id_col

    sid = fixture_points.select(
        series_id_col("metric", "tags").alias("s")
    ).where("tags['host'] = 'web01'").first()["s"]
    out = api.handle_query(
        fixture_points,
        {"start": EPOCH, "end": EPOCH + 100_000, "tsuids": [f"sum:{sid}"]},
    )
    assert len(out) == 1 and out[0]["metric"] == "sys.cpu.user"
    # bare '?arrays' (empty string through a query parser) counts as set
    arr = api.handle_query(
        fixture_points,
        {"start": EPOCH, "end": EPOCH + 100_000,
         "m": "sum:10m-avg:sys.cpu.user", "arrays": ""},
    )
    assert isinstance(arr[0]["dps"], list) and len(arr[0]["dps"][0]) == 2


def test_parse_gexp_anomaly_zscore(fixture_points):
    """anomalyZscore through the gexp string parser: the linear-ramp
    fixture series has a CONSTANT trailing z once the window is full
    (mean lags by (n+1)/2 steps, std is the fixed arithmetic-progression
    spread), so every post-warmup bucket flags at threshold 1 with one of
    three exact |z| values (3-, 4- and 5-point windows) and none at a
    threshold above them; the threshold is load-bearing, not decorative."""
    df = parse_gexp(
        "anomalyZscore(sum:10m-avg:sys.cpu.user{host=*},5,1)",
        fixture_points, EPOCH * 1000, (EPOCH + 100_000) * 1000,
    )
    got = {(r["host"], int(r["ts"].timestamp())): r["value"]
           for r in df.collect()}
    # pure-Python replica: 10m bucket averages, trailing 5-bucket
    # sum/sumsq moments (self excluded), |z| > 1 flagged
    series = {"web01": {}, "web02": {}}
    for i in range(300):
        b = (EPOCH + 30 * (i + 1)) // 600 * 600
        series["web01"].setdefault(b, []).append(float(i + 1))
        series["web02"].setdefault(b, []).append(float(300 - i))
    exp = {}
    for host, by_b in series.items():
        buckets = sorted(by_b)
        avgs = [sum(by_b[b]) / len(by_b[b]) for b in buckets]
        for j, b in enumerate(buckets):
            w = avgs[max(0, j - 5):j]
            n = len(w)
            if n < 3:
                continue
            mean = sum(w) / n
            var = (sum(x * x for x in w) - n * mean * mean) / (n - 1)
            if var <= 0:
                continue
            z = (avgs[j] - mean) / var ** 0.5
            if abs(z) > 1:
                exp[(host, b)] = z
    assert exp and set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-9, (k, got[k], exp[k])
        v = got[k]
        assert v > 0 if k[0] == "web01" else v < 0  # ramps up vs down
    none = parse_gexp(
        "anomalyZscore(sum:10m-avg:sys.cpu.user{host=*},5,2.5)",
        fixture_points, EPOCH * 1000, (EPOCH + 100_000) * 1000,
    )
    assert none.count() == 0
    with pytest.raises(ValueError, match="anomalyZscore takes"):
        parse_gexp("anomalyZscore(sum:10m-avg:sys.cpu.user)",
                   fixture_points, EPOCH * 1000, (EPOCH + 100_000) * 1000)


def test_parse_gexp_burn_rate(fixture_points):
    """burnRate through the gexp string parser, against a pure-Python
    ratio-of-sums replica over the fixture's 10m bucket averages: bad =
    the ascending web01 series (non-grouping filter block), total = both
    hosts, so the error share ramps 0 -> 1 and exactly the late buckets
    fire at factor 2 over the 0.25 budget."""
    from opentsdb_spark.parse import gexp_metrics

    expr = ("burnRate(sum:10m-avg:sys.cpu.user{}{host=literal_or(web01)},"
            "sum:10m-avg:sys.cpu.user,1,3,0.25,2)")
    assert gexp_metrics(expr) == ["sys.cpu.user", "sys.cpu.user"]
    df = parse_gexp(expr, fixture_points,
                    EPOCH * 1000, (EPOCH + 100_000) * 1000)
    got = {int(r["ts"].timestamp()): r["value"] for r in df.collect()}
    w1, w2 = {}, {}
    for i in range(300):
        b = (EPOCH + 30 * (i + 1)) // 600 * 600
        w1.setdefault(b, []).append(float(i + 1))
        w2.setdefault(b, []).append(float(300 - i))
    buckets = sorted(w1)
    bad = [sum(w1[b]) / len(w1[b]) for b in buckets]
    tot = [bad[j] + sum(w2[b]) / len(w2[b]) for j, b in enumerate(buckets)]
    exp = {}
    for j, b in enumerate(buckets):
        lo = max(0, j - 2)
        bs = (bad[j] / tot[j]) / 0.25
        bl = (sum(bad[lo:j + 1]) / sum(tot[lo:j + 1])) / 0.25
        if bs >= 2 and bl >= 2:
            exp[b] = min(bs, bl)
    assert exp and set(got) == set(exp)
    for b in exp:
        assert abs(got[b] - exp[b]) < 1e-9
    with pytest.raises(ValueError, match="matching group keys"):
        parse_gexp(
            "burnRate(sum:10m-avg:sys.cpu.user{host=*},"
            "sum:10m-avg:sys.cpu.user,1,3,0.25,2)",
            fixture_points, EPOCH * 1000, (EPOCH + 100_000) * 1000)
