import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentsdb_spark.session import get_spark  # noqa: E402

EPOCH = 1356998400  # 2013-01-01T00:00:00Z — the reference's canonical test epoch
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("opentsdb-spark-tests", cpus=4)
    yield s


@pytest.fixture(scope="session")
def fixture_points(spark):
    """FIXTURES.md §1 canonical series, mirroring the reference's
    storeLongTimeSeriesSeconds (test/core/BaseTsdbTest.java:612-641):
    web01 ascending 1..300, web02 descending 300..1, 30s spacing."""
    rows = []
    for i in range(300):
        ts = (EPOCH + 30 * (i + 1)) * 1000
        rows.append(("sys.cpu.user", ts, float(i + 1), {"host": "web01", "dc": "lga"}))
        rows.append(("sys.cpu.user", ts, float(300 - i), {"host": "web02", "dc": "phx"}))
    df = spark.createDataFrame(rows, "metric string, ts_ms long, value double, tags map<string,string>")
    from pyspark.sql import functions as F

    return df.select(
        "metric", F.timestamp_millis("ts_ms").alias("ts"), "value",
        F.lit(None).cast("long").alias("value_long"), "tags",
    ).cache()


@pytest.fixture(scope="session")
def offset_points(spark):
    """Misaligned variant: web02 shifted +15s (interpolation fixture,
    reference test/core/TestAggregationIterator.java)."""
    rows = []
    for i in range(10):
        ts1 = (EPOCH + 30 * i) * 1000
        ts2 = (EPOCH + 30 * i + 15) * 1000
        rows.append(("m", ts1, float(10 * (i + 1)), {"host": "a"}))
        rows.append(("m", ts2, float(5 * (i + 1)), {"host": "b"}))
    df = spark.createDataFrame(rows, "metric string, ts_ms long, value double, tags map<string,string>")
    from pyspark.sql import functions as F

    return df.select(
        "metric", F.timestamp_millis("ts_ms").alias("ts"), "value",
        F.lit(None).cast("long").alias("value_long"), "tags",
    ).cache()


def substituted(points, aggregator, group_tagks=()):
    """Cross-series aggregation the long way, for the aggregators whose
    interpolation substitutes their own identity element (zimsum, mimmin,
    mimmax): each series is expanded onto its group's union grid by the
    expression-form interpolation, which substitutes the aggregator's
    interpolation value (0, +Double.MAX, -Double.MAX), then aggregated by
    the same groupBy. cross_series_aggregate skips the expansion for these
    aggregators; this is the oracle that says it may."""
    from pyspark.sql import functions as F

    from opentsdb_spark.functions.aggregators import get_aggregator
    from opentsdb_spark.operators.groupby import _interpolate_to_union_grid_expr
    from opentsdb_spark.sources.points import series_id_col

    agg = get_aggregator(aggregator)
    gnames = ["metric", *[f"tag_{k}" for k in group_tagks]]
    df = points.select(
        "metric", *[F.col("tags")[k].alias(f"tag_{k}") for k in group_tagks],
        "ts", "value", series_id_col("metric", "tags").alias("__sid"),
    )
    return (
        _interpolate_to_union_grid_expr(df, gnames, agg.interp)
        .groupBy(*gnames, "ts")
        .agg(agg.builder(F.col("value"), F.unix_millis("ts")).alias("value"))
        .withColumnsRenamed({f"tag_{k}": k for k in group_tagks})
    )
