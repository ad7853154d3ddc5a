"""Per-series downsampling with fill policies.

Semantics (reference src/core/DownsamplingSpecification.java:107-191,
src/core/Downsampler.java:28-515):
  * fixed intervals: bucket start = ts - (ts % interval)   (:452-454)
  * calendar intervals ('Nc'): buckets aligned to calendar boundaries in a
    query timezone (:135-147)
  * '0all': a single bucket spanning [query_start, query_end]  (:354-379)
  * fill policies for EMPTY buckets across the whole query range
    (reference src/core/FillPolicy.java:22-28,
    src/core/FillingDownsampler.java:25-120): none|zero|nan|null|scalar.

Spark shape: one groupBy (series, bucket). A fill explodes a dense
`sequence()` grid over one row per series and merges it with the buckets
by union + groupBy on the series' own columns, the tags map included: no
join, no Python loop, no UDF (over one partition, no shuffle either). At scale the grid size is bounded by
range/interval — downsampling always *reduces* cardinality before the
cross-series stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentsdb_spark.functions.aggregators import get_aggregator
from opentsdb_spark.model import DownsampleSpec

_CAL_TRUNC = {"m": "minute", "h": "hour", "d": "day", "w": "week", "n": "month", "y": "year"}
_UNIT_MS = {"m": 60_000, "h": 3_600_000, "d": 86_400_000, "w": 7 * 86_400_000}
# dense grid step per calendar unit (local wall-clock space)
_UNIT_STEP = {
    "m": "INTERVAL 1 MINUTE", "h": "INTERVAL 1 HOUR", "d": "INTERVAL 1 DAY",
    "w": "INTERVAL 1 WEEK", "n": "INTERVAL 1 MONTH", "y": "INTERVAL 1 YEAR",
}


def bucket_col(ts_col, interval_ms: int):
    """Fixed-interval bucket start: ts - ts % interval (epoch-ms arithmetic)."""
    ms = F.unix_millis(ts_col)
    return F.timestamp_millis(ms - ms % F.lit(interval_ms))


def _local_calendar_bucket(local, unit: str, n: int):
    """Bucket start for a LOCAL wall-clock timestamp (``local`` carries the
    zone's wall-clock labeled as UTC — from_utc_timestamp's convention, so
    all arithmetic here is DST-free wall-clock math, matching Calendar's
    keep-the-wall-clock field stepping).

    N-multiple semantics mirror DateTime.previousInterval
    (reference src/utils/DateTime.java:450-612):
      m/h  floor to N units (epoch-anchored == hour/day-anchored for the
           divisor cases the reference distinguishes)
      d    anchored at Jan 1 of the timestamp's own LOCAL year, stepped N
           days (buckets restart each year, exactly like Calendar stepping
           from the year top)
      w    N<=2: start of the timestamp's own week (the reference's
           2%interval==0 branch collapses 2wc to the current week);
           N>2: anchored at the week containing Jan 1 of the timestamp's
           WEEK-year (the year its week's Sunday falls in), stepped 7N
           days — week-year anchoring keeps bucketing idempotent across
           the year boundary (a label in late December re-buckets to
           itself, not to the previous year's sequence)
      n    Jan-anchored N-month groups within the year
      y    any N collapses to the timestamp's own year start (the reference
           anchors at the timestamp's year, so stepping never moves)
    Week starts are ISO Monday (date_trunc semantics); the reference uses
    the JVM locale's firstDayOfWeek — ISO is pinned here for determinism.
    """
    if n == 1 and unit in _CAL_TRUNC:
        return F.date_trunc(_CAL_TRUNC[unit], local)
    lms = F.unix_millis(local)
    if unit in ("m", "h"):
        step = n * _UNIT_MS[unit]
        return F.timestamp_millis(lms - lms % F.lit(step))
    if unit == "d":
        anchor = F.unix_millis(F.date_trunc("year", local))
        delta = lms - anchor
        step = n * _UNIT_MS["d"]
        return F.timestamp_millis(anchor + delta - delta % F.lit(step))
    if unit == "w":
        if n <= 2:
            return F.date_trunc("week", local)
        # week-year = the year this week's Sunday falls in; anchor at the
        # week containing that year's Jan 1 so labels re-bucket to themselves
        week = F.date_trunc("week", local)
        weekyear = F.year(F.date_add(week.cast("date"), 6))
        anchor = F.unix_millis(
            F.date_trunc("week", F.make_date(weekyear, F.lit(1), F.lit(1)).cast("timestamp"))
        )
        delta = lms - anchor
        step = n * _UNIT_MS["w"]
        return F.timestamp_millis(anchor + delta - delta % F.lit(step))
    if unit == "n":
        m0 = (F.floor((F.month(local) - 1) / F.lit(n)) * n + 1).cast("int")
        return F.make_date(F.year(local), m0, F.lit(1)).cast("timestamp")
    if unit == "y":
        return F.date_trunc("year", local)
    raise ValueError(f"unknown calendar unit {unit!r}")


def calendar_bucket_col(ts_col, unit: str, timezone: str, n: int = 1):
    """Calendar-aligned bucket start in ``timezone`` (reference
    DownsamplingSpecification.java:135-147): shift into the zone, bucket in
    wall-clock space, shift back — all JVM-side datetime expressions."""
    local = F.from_utc_timestamp(ts_col, timezone)
    return F.to_utc_timestamp(_local_calendar_bucket(local, unit, n), timezone)


def downsample(
    points: DataFrame,
    spec: DownsampleSpec,
    start_ms: int | None = None,
    end_ms: int | None = None,
    series_cols: tuple[str, ...] = ("metric", "tags"),
) -> DataFrame:
    """Downsample each series independently.

    Input: point frame with ``series_cols`` + (ts, value).
    Output: same series columns + (ts=bucket start, value=aggregated), one
    row per non-empty bucket — or per grid bucket when fill != 'none'.
    """
    if spec.aggregator == "none":
        # reference TsdbQuery.java:664-667
        raise ValueError("cannot use the NONE aggregator for downsampling")
    agg = get_aggregator(spec.aggregator)
    if spec.run_all or spec.interval_ms == 0:
        # single bucket over the whole range, stamped at query start
        # (reference Downsampler.java:354-379)
        if start_ms is None:
            raise ValueError("'0all' downsample requires query start")
        bucket = F.timestamp_millis(F.lit(start_ms))
    elif spec.calendar:
        bucket = calendar_bucket_col(
            F.col("ts"), spec.calendar_unit or "d", spec.timezone, spec.calendar_n
        )
    else:
        bucket = bucket_col(F.col("ts"), spec.interval_ms)

    out = (
        points.withColumn("__bucket", bucket)
        .groupBy(*series_cols, "__bucket")
        .agg(agg.builder(F.col("value"), F.unix_millis("ts")).alias("value"))
        .withColumnRenamed("__bucket", "ts")
    )

    if spec.fill != "none" and not (spec.run_all or spec.interval_ms == 0):
        # run_all ('0all') has ONE bucket per series and a series only
        # exists where it has points — there is no grid to fill, and the
        # fixed-interval grid math divides by interval 0
        out = _fill_grid(out, spec, start_ms, end_ms, series_cols)
    return out


def _fill_grid(
    buckets: DataFrame,
    spec: DownsampleSpec,
    start_ms: int | None,
    end_ms: int | None,
    series_cols: tuple[str, ...],
) -> DataFrame:
    """Emit every grid bucket in [start, end) per series, filling empties
    (reference FillingDownsampler.java:25-120: fill spans the whole query
    range, not just interior gaps)."""
    if start_ms is None or end_ms is None:
        raise ValueError("fill policies require query start/end")
    fill_val = {
        "zero": F.lit(0.0),
        "nan": F.lit(float("nan")),
        "null": F.lit(None).cast("double"),
        "scalar": F.lit(float(spec.fill_scalar)),
    }[spec.fill]

    # one row per series; grouping (unlike distinct, joins or window
    # partitions) accepts the tags map and treats maps with the same
    # entries as one key, whatever their order
    series = buckets.groupBy(*series_cols).count().drop("count")

    if spec.calendar:
        # Calendar grid: dense base-unit boundaries over [start, end) in
        # LOCAL wall-clock space, mapped through the N-multiple bucket
        # function, deduped — handles year-anchored buckets that RESET at
        # year boundaries (uniform stepping from the first bucket would
        # drift across years). Grid size is bounded by range/unit; it is a
        # single array expression evaluated per series row, never a shuffle.
        unit = spec.calendar_unit or "d"
        tz = spec.timezone
        lo = F.from_utc_timestamp(F.timestamp_millis(F.lit(start_ms)), tz)
        hi = F.from_utc_timestamp(F.timestamp_millis(F.lit(end_ms - 1)), tz)
        dense = F.sequence(
            _local_calendar_bucket(lo, unit, 1), hi, F.expr(_UNIT_STEP[unit])
        )
        buckets_arr = F.array_distinct(
            F.transform(
                dense,
                lambda t: F.to_utc_timestamp(
                    _local_calendar_bucket(t, unit, spec.calendar_n), tz
                ),
            )
        )
        ts_source = F.explode(buckets_arr)
    else:
        iv = spec.interval_ms
        first = start_ms - start_ms % iv
        last = (end_ms - 1) - ((end_ms - 1) % iv)
        ts_source = F.explode(
            F.sequence(
                F.timestamp_millis(F.lit(first)),
                F.timestamp_millis(F.lit(last)),
                F.expr(f"INTERVAL {iv} MILLISECONDS"),
            )
        )
    grid = series.withColumn("ts", ts_source)
    # merge grid and data through a union + max, not a join: a series
    # column can hold NULL (a group-by tag value absent from a series, e.g.
    # a not_key group under the linear-rate rewrite) and join equality
    # never matches null keys, so the fill would replace REAL values. GROUP
    # BY treats nulls as equal: exactly one non-null value exists per
    # (series, ts), and max() ignores the grid row's null
    key = [*series_cols, "ts"]
    grid = (
        buckets.select(*key, "value")
        .unionByName(grid.withColumn("value", F.lit(None).cast("double")))
        .groupBy(*key)
        .agg(F.max("value").alias("value"))
    )
    return grid.withColumn("value", F.coalesce(F.col("value"), fill_val))


def binned_percentile_downsample(
    points: DataFrame,
    interval_ms: int,
    q: float,
    lo: float,
    hi: float,
    nbins: int = 256,
    series_cols: tuple[str, ...] = ("metric", "tags"),
    value_col: str = "value",
) -> DataFrame:
    """Approximate percentile downsample with CONSTANT per-group state —
    the 100 TB scale path for the p50..p999 aggregators.

    The exact percentile aggregators (functions/aggregators.py, reference
    src/core/Aggregators.java:124-173 PercentileAgg) buffer every value of
    a (series, bucket) group; a hot series at second resolution with 1h
    buckets holds 3600 doubles per group — fine — but pre-downsample
    grouping over wide tag-filtered sets (or '0all' buckets over months)
    buffers unboundedly. This estimator bins values into a FIXED grid of
    ``nbins`` equal-width bins over [lo, hi) and reports the midpoint of
    the bin containing the rank-ceil(q*n) value: error <= (hi-lo)/nbins/2,
    memory per group <= nbins counts, and both aggregation levels are
    map-side combinable. Unlike t-digest / Greenwald-Khanna sketches the
    result is a pure deterministic function of the value multiset, so any
    engine reproduces it bit-for-bit (the DuckDB oracle does).

    Out-of-range values clamp into the edge bins (their rank still counts;
    their position saturates at the grid edge — choose [lo, hi) to cover
    the expected range, like a histogram codec's bucket plan, cf.
    operators/histogram.py bucket-midpoint percentiles).

    Plan shape: groupBy(series, bucket, bin) with partial aggregation, then
    groupBy(series, bucket) folding <= nbins rows per group — no value list
    ever materializes, no window over an unpartitioned frame.
    """
    if not 0.0 < q <= 1.0:
        raise ValueError("q must be in (0, 1]")
    if hi <= lo:
        raise ValueError("hi must exceed lo")
    if nbins < 2:
        raise ValueError("nbins must be >= 2")
    w = (hi - lo) / nbins
    b = bucket_col(F.col("ts"), interval_ms)
    binned = (
        points.withColumn(
            "__bin",
            F.least(
                F.greatest(
                    F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w)), F.lit(0)
                ),
                F.lit(nbins - 1),
            ).cast("int"),
        )
        .groupBy(*series_cols, b.alias("ts"), "__bin")
        .agg(F.count("*").alias("__c"))
    )
    per_group = binned.groupBy(*series_cols, "ts").agg(
        F.sort_array(F.collect_list(F.struct("__bin", "__c"))).alias("__bc"),
        F.sum("__c").alias("__n"),
    )
    # rank of the q-th value (1-based, ceil — the "upper" convention the
    # reference's median uses, Aggregators.java:397-431)
    r = F.ceil(F.lit(q) * F.col("__n"))
    # first bin whose cumulative count reaches the rank: a bounded fold
    # over <= nbins entries (interpreted HOF, but on nbins elements per
    # group, not data-sized input)
    hit = F.aggregate(
        "__bc",
        F.struct(F.lit(0).cast("long").alias("cum"), F.lit(-1).alias("bin")),
        lambda acc, x: F.when(acc["bin"] >= 0, acc).otherwise(
            F.struct(
                (acc["cum"] + x["__c"]).alias("cum"),
                F.when(acc["cum"] + x["__c"] >= r, x["__bin"])
                .otherwise(F.lit(-1))
                .alias("bin"),
            )
        ),
    )["bin"]
    return per_group.select(
        *series_cols,
        "ts",
        (F.lit(lo) + F.lit(w) * (hit.cast("double") + F.lit(0.5))).alias("value"),
    )
