"""The three cross-series alignment strategies must be value-identical:
'pack' (vectorized searchsorted Arrow map) is the production default,
'pack_expr' (pure Column expressions) is its semantics oracle, and 'join'
is the unbounded-grid fallback for raw-resolution groups
(reference semantics: src/core/AggregationIterator.java:690-800)."""

import math

import pytest
from pyspark.sql import functions as F

from opentsdb_spark.operators.groupby import cross_series_aggregate

EPOCH = 1356998400


@pytest.fixture(scope="module")
def ragged_points(spark):
    """Three series with deliberately misaligned timestamps: interior gaps
    (exercise interpolation), disjoint spans (exercise outside-span nulls),
    and an exact-overlap point (exercise pass-through)."""
    rows = []
    for i, (host, offs) in enumerate(
        [("a", (0, 30, 90, 120)), ("b", (15, 30, 75)), ("c", (200, 260))]
    ):
        for j, o in enumerate(offs):
            rows.append(
                ("m", (EPOCH + o) * 1000, float(10 * (i + 1) + j), {"host": host})
            )
    df = spark.createDataFrame(rows, "metric string, ts long, value double, tags map<string,string>")
    return df.withColumn("ts", F.timestamp_millis("ts"))


def collect_map(df):
    return {
        (r["metric"], r["ts"]): r["value"]
        for r in df.collect()
    }


@pytest.mark.parametrize(
    "aggregator", ["sum", "avg", "min", "zimsum", "mimmax", "count", "pfsum"]
)
def test_strategies_identical(ragged_points, aggregator):
    # 'sweep' is exact for sum/avg/count/pfsum/zimsum/mimmax and silently
    # falls back to 'join' for the rest (min) — identical either way.
    # Its float round-off differs (prefix sums vs per-slot lerp), hence the
    # small abs_tol; the other three strategies stay bit-identical.
    ref = None
    for strategy in ("pack_expr", "pack", "join", "sweep"):
        got = collect_map(
            cross_series_aggregate(ragged_points, aggregator, strategy=strategy)
        )
        tol = 1e-9 if strategy == "sweep" else 0
        if ref is None:
            ref = got
            continue
        assert got.keys() == ref.keys(), strategy
        for k in ref:
            a, b = ref[k], got[k]
            if a is None or b is None:
                assert a is b, (strategy, k)
            else:
                assert math.isclose(a, b, rel_tol=0, abs_tol=tol), (strategy, k)


def test_lerp_bit_exact_vs_expr(ragged_points):
    """LERP arithmetic must match the Column-expression form bit for bit
    (same left-to-right IEEE double ops on ms-as-double inputs)."""
    e = collect_map(cross_series_aggregate(ragged_points, "sum", strategy="pack_expr"))
    p = collect_map(cross_series_aggregate(ragged_points, "sum", strategy="pack"))
    assert e == p  # exact float equality, not approx


def test_rate_mode_prev_interp(ragged_points):
    e = collect_map(
        cross_series_aggregate(ragged_points, "sum", rate_mode=True, strategy="pack_expr")
    )
    p = collect_map(
        cross_series_aggregate(ragged_points, "sum", rate_mode=True, strategy="pack")
    )
    assert e == p


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
