"""SparkSession builder tuned for the engine.

Settings chosen for scale-out behavior (AQE, skew handling, partition
coalescing) while remaining correct on local[N]. The session timezone is
pinned to UTC because OpenTSDB timestamps are Unix epoch (reference:
src/core/Const.java:88-92 second/ms masks) and all bucket arithmetic is
epoch-based; calendar downsampling applies explicit per-query timezones
instead (reference: src/core/DownsamplingSpecification.java:135-147).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(app_name: str = "opentsdb-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    cpus: local parallelism; defaults to $SPARK_GRAFT_CPUS or '*'.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cpus}]"
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")  # JEXL-like expression semantics
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata stores event-time as INT64 TIMESTAMP(NANOS) which
        # Spark's vectorized reader rejects; read as long ns + convert
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # local-mode driver IS the executor: 8g starved the 32-thread JVM
        # once a session accumulated a few persisted sf0.1 frames (GC churn
        # inflated late-session queries ~10x); the target box has 128 GiB
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # the default 100-entry generated-class cache thrashes on a
        # many-query session (the 69-query bench sweep compiles several
        # hundred WholeStageCodegen classes): evicted classes re-compile
        # AND re-JIT on every repeat, which surfaced as phantom 0.1-0.6s
        # cross-round drift on untouched queries and a 2x warm-CPU tax on
        # late-sweep entries (r9 verdict #3). 2000 entries is ~tens of MB
        # of class metadata — nothing at the 16g heap (static conf, must
        # be set at session build)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def tiny_df(spark: SparkSession, rows, schema):
    """Small literal DataFrame WITHOUT the default createDataFrame tax.

    PySpark's ``createDataFrame(list)`` parallelizes even a 12-row probe
    table into ``defaultParallelism`` Python-RDD partitions — 32 Python-
    worker round-trips PER ACTION on this box (measured 6.3 CPU-s per run
    for a 48-row frame; the r9 verdict's text_cms_probe "worst CPU:wall"
    finding was ~entirely this). A single-slice parallelize keeps one
    Python partition (0.3 CPU-s) while accepting every Python value type
    unchanged. Use for small literal rows of Python values (query/probe/
    stat frames); data already in Arrow, and empty frames, go
    through :func:`arrow_df` instead, which needs no Python worker at all.
    Falls back to plain createDataFrame where no SparkContext is
    reachable (Spark Connect)."""
    sc = getattr(spark, "sparkContext", None)
    if sc is None:
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(sc.parallelize(rows, 1), schema)


def arrow_df(spark: SparkSession, table, schema=None) -> DataFrame:
    """DataFrame over an in-process Arrow table, planned as a LocalRelation.

    Under ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by
    default) the rows live in the plan itself: the frame has no RDD, so
    collecting or counting it submits no Spark job and starts no Python
    worker, and a plan reading it never re-derives its rows. Use it for
    data that is already materialized in Arrow (a ``DataFrame.toArrow()``
    result, the TSD memtable) and for empty frames (:func:`empty_df`)."""
    return spark.createDataFrame(table, schema)


def empty_df(spark: SparkSession, schema) -> DataFrame:
    """Empty DataFrame with ``schema`` (a StructType or a DDL string) as an
    empty LocalRelation: actions on it run no Spark job. A Python-RDD
    empty frame costs a job and a Python-worker round trip per action
    (on 4 cores, 250-415 ms per lookup on the TSD's default annotation
    frame against ~30 ms)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return arrow_df(spark, to_arrow_schema(schema).empty_table(), schema)
