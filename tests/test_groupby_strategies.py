"""The cross-series alignment strategies must be value-identical:
'pack' (vectorized searchsorted Arrow map) is the production default,
'pack_expr' (pure Column expressions) is its semantics oracle, 'join' is
the unbounded-grid fallback for raw-resolution groups and 'sweep' the
linear-time prefix-sum route for the sum family (reference semantics:
src/core/AggregationIterator.java:690-800).

zimsum, mimmin and mimmax take one exact groupBy under every strategy,
because their interpolation substitutes the aggregator's own identity
element; for them the strategies are also compared with the substitution
itself (tests.conftest.substituted: the expression-form expansion onto the
union grid, then the same groupBy)."""

import math

import pytest
from pyspark.sql import functions as F

from opentsdb_spark.operators.groupby import cross_series_aggregate
from tests.conftest import substituted

EPOCH = 1356998400


@pytest.fixture(scope="module")
def ragged_points(spark):
    """Three series with deliberately misaligned timestamps: interior gaps
    (exercise interpolation), disjoint spans (exercise outside-span nulls),
    and an exact-overlap point (exercise pass-through). ``dc`` groups a
    and b together, c alone."""
    rows = []
    for i, (host, dc, offs) in enumerate(
        [("a", "x", (0, 30, 90, 120)), ("b", "x", (15, 30, 75)), ("c", "y", (200, 260))]
    ):
        for j, o in enumerate(offs):
            rows.append(
                ("m", (EPOCH + o) * 1000, float(10 * (i + 1) + j), {"host": host, "dc": dc})
            )
    df = spark.createDataFrame(rows, "metric string, ts long, value double, tags map<string,string>")
    return df.withColumn("ts", F.timestamp_millis("ts"))


IDENTITY = ("zimsum", "mimmin", "mimmax")


def collect_map(df):
    keys = [c for c in df.columns if c != "value"]
    return {tuple(r[c] for c in keys): r["value"] for r in df.collect()}


@pytest.mark.parametrize(
    "aggregator", ["sum", "avg", "min", "zimsum", "mimmin", "mimmax", "count", "pfsum"]
)
def test_strategies_identical(ragged_points, aggregator):
    # 'sweep' is exact for sum/avg/count/pfsum and silently falls back to
    # 'join' for the rest (min) — identical either way. Its float round-off
    # differs (prefix sums vs per-slot lerp), hence the small abs_tol; the
    # other strategies stay bit-identical.
    for group_tagks in ((), ("dc",)):
        answers = [
            (strategy, cross_series_aggregate(
                ragged_points, aggregator, group_tagks, strategy=strategy))
            for strategy in ("pack_expr", "pack", "join", "sweep")
        ]
        if aggregator in IDENTITY:
            answers.append(
                ("substituted", substituted(ragged_points, aggregator, group_tagks)))
        ref = None
        for strategy, frame in answers:
            got = collect_map(frame)
            tol = 1e-9 if strategy == "sweep" else 0
            if ref is None:
                ref = got
                continue
            assert got.keys() == ref.keys(), (strategy, group_tagks)
            for k in ref:
                a, b = ref[k], got[k]
                if a is None or b is None:
                    assert a is b, (strategy, k)
                else:
                    assert math.isclose(a, b, rel_tol=0, abs_tol=tol), (strategy, k)


@pytest.mark.parametrize("aggregator", IDENTITY)
def test_identity_rule_on_long_values(ragged_points, aggregator):
    """A count downsample feeds longs; the one-groupBy answer keeps the
    double values of the substitution (and of every interpolating
    strategy)."""
    longs = ragged_points.withColumn("value", F.col("value").cast("long"))
    got = cross_series_aggregate(longs, aggregator, ("dc",))
    ref = substituted(longs, aggregator, ("dc",))
    assert got.schema["value"].dataType == ref.schema["value"].dataType
    assert collect_map(got) == collect_map(ref)


def test_lerp_bit_exact_vs_expr(ragged_points):
    """LERP arithmetic must match the Column-expression form bit for bit
    (same left-to-right IEEE double ops on ms-as-double inputs)."""
    e = collect_map(cross_series_aggregate(ragged_points, "sum", strategy="pack_expr"))
    p = collect_map(cross_series_aggregate(ragged_points, "sum", strategy="pack"))
    assert e == p  # exact float equality, not approx


def test_rate_mode_prev_interp(ragged_points):
    # rate mode turns lerp into prev; the identity interpolations keep
    # theirs, so those answers still equal the substitution
    for aggregator in ("sum", *IDENTITY):
        for gks in ((), ("dc",)):
            e = collect_map(cross_series_aggregate(
                ragged_points, aggregator, gks, rate_mode=True, strategy="pack_expr"))
            p = collect_map(cross_series_aggregate(
                ragged_points, aggregator, gks, rate_mode=True, strategy="pack"))
            assert e == p, (aggregator, gks)
            if aggregator in IDENTITY:
                assert p == collect_map(substituted(ragged_points, aggregator, gks))


def test_grid_join_scratch_release(spark, fixture_points):
    """The grid-join strategy persists its input; release_scratch (called
    by the TSD daemon per request) unpins it again."""
    from opentsdb_spark.operators.groupby import cross_series_aggregate, release_scratch

    release_scratch()  # drain anything earlier tests registered
    out = cross_series_aggregate(fixture_points, "dev", strategy="join")
    out.count()
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() > 0
    assert release_scratch() >= 1
    assert release_scratch() == 0  # idempotent
