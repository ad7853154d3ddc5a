"""TSQuery -> DataFrame compiler.

Mirrors the reference query lifecycle (SURVEY.md §3.1; reference
src/tsd/QueryRpc.java:88-115 -> src/core/TSQuery.java:47-109 ->
src/core/TsdbQuery.java:496-689) as a declarative plan build:

  time-range filter -> metric filter -> tag predicates -> [downsample]
  -> [rate] -> cross-series aggregate

Pipeline order per series is downsample first, then rate, then aggregate
(reference src/core/AggregationIterator.java:270-276).

Everything is native Column expressions, so Catalyst pushes the time+metric
+tag predicates into the Parquet scan (the Spark analog of the reference's
row-key regex + fuzzy filters, src/core/TsdbQuery.java:860-898).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentsdb_spark.functions.filters import build_tag_filter
from opentsdb_spark.model import SubQuery, TSQuery
from opentsdb_spark.operators.downsample import downsample
from opentsdb_spark.operators.groupby import cross_series_aggregate
from opentsdb_spark.operators.rate import rate
from opentsdb_spark.sources.points import series_id_col
from opentsdb_spark.timeparse import parse_datetime_ms


@dataclass
class CompiledSubQuery:
    df: DataFrame
    group_tagks: tuple[str, ...]
    aggregator: str
    # filtered pre-aggregation points (lazy plan) — resolved once per
    # request into the matched series, from which the scan budget,
    # annotations and aggregateTags/TSUIDs (HttpJsonSerializer.java:771-816)
    # are derived
    source_df: DataFrame | None = None


def time_range_predicate(points: DataFrame, start_ms: int, end_ms: int) -> Column:
    """Parquet-pushable time-range predicate.

    The raw ``ts`` column is compared against timestamp LITERALS — never
    wrapped in a function — so Catalyst pushes ``ts >= X AND ts <= Y`` into
    the scan (row-group min/max pruning; the Spark analog of the reference's
    row-key start/stop scan bounds, src/core/TsdbQuery.java:795-830).

    When the frame carries the ``write_points`` layout columns (``dt`` date
    partition, optional ``hr`` hour partition) the same range is re-expressed
    over them too, which Spark turns into partition pruning — whole date/hour
    directories are skipped, mirroring the reference's coarse 1-hour row-span
    filtering (src/core/Const.java:94-95).
    """
    pred = F.col("ts").between(
        F.timestamp_millis(F.lit(start_ms)), F.timestamp_millis(F.lit(end_ms))
    )
    cols = set(points.columns)
    if "dt" in cols:
        start_d = F.to_date(F.timestamp_millis(F.lit(start_ms)))
        end_d = F.to_date(F.timestamp_millis(F.lit(end_ms)))
        pred = pred & F.col("dt").between(start_d, end_d)
        if "hr" in cols:
            # hour pruning: exact when the range is within one UTC day,
            # conservative (hour-of-day envelope) otherwise
            one_day = (end_ms // 86_400_000) == (start_ms // 86_400_000)
            if one_day:
                start_h = (start_ms // 3_600_000) % 24
                end_h = (end_ms // 3_600_000) % 24
                pred = pred & F.col("hr").between(F.lit(start_h), F.lit(end_h))
    return pred


def _tag_predicates(q: SubQuery) -> Column | None:
    pred: Column | None = None
    tags = F.col("tags")
    for f in q.filters:
        c = build_tag_filter(tags, f.type, f.tagk, f.filter)
        pred = c if pred is None else (pred & c)
    if q.explicit_tags:
        # tag-key set must EQUAL the queried keys (reference
        # src/core/TSSubQuery.java:88-92, src/query/QueryUtil.java:83-141)
        keys = sorted({f.tagk for f in q.filters if f.type != "not_key"})
        c = F.size("tags") == len(keys)
        for k in keys:
            c = c & F.map_contains_key(F.col("tags"), k)
        pred = c if pred is None else (pred & c)
    return pred


# the reference's rollup/pre-agg tag configuration (src/utils/Config.java:
# 613-614): pre-aggregated (cross-series groupby) points carry
# <AGG_TAG_KEY>=<AGGREGATOR upper>; raw points carry =RAW or no tag at all.
AGG_TAG_KEY = "_aggregate"
RAW_AGG_TAG_VALUE = "RAW"


# tsd.storage.fix_duplicates analog (src/utils/Config.java:98-99): when ON,
# duplicate (series, ts) rows resolve to one winner inside every compiled
# sub-query's scan (max (value,value_long) struct — deterministic without a
# write-order column; with an ingest_time column the writer dedups at
# compaction instead, streaming.ingest.dedup_last_write_wins). Default OFF:
# the engine then aggregates duplicates as-is — a DOCUMENTED deviation from
# the reference's throw-on-duplicate default, because detecting duplicates
# up front would cost an extra scan on every query at corpus scale, and the
# streaming/compaction path already dedups before data is served. Set via
# config.apply_config (opentsdb.conf) or directly.
FIX_DUPLICATES = False


def _wants_pre_aggregate(q: SubQuery) -> bool:
    """The query asks for the pre-aggregated (groupby) store: the m= pre-agg
    flag, or a literal_or filter on the agg tag naming a non-RAW value
    (reference src/core/TsdbQuery.java:624-632)."""
    if q.pre_aggregate:
        return True
    return any(
        f.type == "literal_or"
        and f.tagk == AGG_TAG_KEY
        and RAW_AGG_TAG_VALUE not in f.filter.split("|")
        for f in q.filters
    )


def subquery_predicate(points: DataFrame, q: SubQuery, start_ms: int, end_ms: int) -> Column:
    """The points one sub-query matches: time range x metric x TSUIDs x tag
    filters. Reads (compile_subquery, its rollup tables,
    compile_histogram_subquery) and a raw scan or DELETE (match_predicate)
    all filter with it, so they cannot match different points."""
    pred = time_range_predicate(points, start_ms, end_ms)
    if q.metric:
        pred = pred & (F.col("metric") == q.metric)
    elif q.tsuids:
        # tsuid-only sub-query (GET ?tsuid=agg:ts[,ts] has no metric slot):
        # series ids embed the metric, so push the derived metric set down
        # to the scan — the series_id predicate alone can't prune partitions
        metrics = sorted({t.split("{", 1)[0] for t in q.tsuids})
        pred = pred & F.col("metric").isin(metrics)
    else:
        raise ValueError("sub-query needs a metric or a TSUID list")
    if q.tsuids:
        # TSUID-direct query (reference src/core/TsdbQuery.java:552-571)
        pred = pred & series_id_col("metric", "tags").isin(list(q.tsuids))
    tags = _tag_predicates(q)
    return pred if tags is None else pred & tags


def compile_subquery(
    points: DataFrame,
    q: SubQuery,
    start_ms: int,
    end_ms: int,
    rollup_cfg=None,
    agg_tag: bool = False,
    strict_none: bool = False,
    rollup_cutoff_ms: int | None = None,
) -> CompiledSubQuery:
    """Compile one m= sub-query against a point frame.

    rollup_cfg: optional plans.rollup.RollupConfig — downsample queries are
    then routed raw-vs-rollup per the sub-query's ROLLUP_USAGE hint
    (reference src/core/TsdbQuery.java:197-215, tableToBeScanned:1553-1571).
    agg_tag: True when the frame mixes raw and pre-aggregated points tagged
    with AGG_TAG_KEY — the scan is then routed to exactly one of the two
    stores (the reference's temporal vs groupby tables).
    strict_none: reject agg=none queries whose filters match more than one
    series (see the agg=none branch below for the reference semantics)."""
    # dt/hr are partition-layout columns, consumed by the filter
    df = points.where(subquery_predicate(points, q, start_ms, end_ms)).drop("dt", "hr")

    if agg_tag:
        tag_v = F.col("tags").getItem(AGG_TAG_KEY)
        if _wants_pre_aggregate(q):
            # groupby store: pre-agg rows only (an explicit _aggregate filter
            # below narrows to specific aggregators)
            df = df.where(tag_v.isNotNull() & (tag_v != RAW_AGG_TAG_VALUE))
        else:
            # temporal store: raw rows only — never double-read pre-agg series
            df = df.where(tag_v.isNull() | (tag_v == RAW_AGG_TAG_VALUE))

    if FIX_DUPLICATES and set(df.columns) <= {"metric", "tags", "ts",
                                              "value", "value_long"}:
        from opentsdb_spark.streaming.ingest import dedup_last_write_wins

        cols = df.columns
        if "value_long" not in cols:
            df = df.withColumn("value_long", F.lit(None).cast("long"))
        df = dedup_last_write_wins(df).select(*cols)
    source_df = df

    # Linear-rate rewrite: downsample-fill(zero) -> rate(plain) -> sum is
    # the canonical production shape, and on a zero-filled grid a plain
    # (non-counter) rate is LINEAR in the values, so it commutes with a
    # sum-family cross-series aggregate:
    #   sum_s (v_s[b] - v_s[b-1])/dt  ==  (V[b] - V[b-1])/dt,
    #   V[b] = sum_s v_s[b]  (missing buckets contribute the zero fill).
    # Rewritten pipeline: sparse per-series downsample -> pre-aggregate to
    # the GROUP level -> zero-fill the group grid -> rate per group. The
    # filled grid shrinks from series x buckets to groups x buckets —
    # at corpus scale the series:group ratio is the whole fan-out (the
    # generic path window-sorts the series-level grid, the one stage here
    # that grows with series count rather than group count). first_vs_zero
    # stays linear (first rate = v/epoch_sec); counter wrap/resets do not.
    # The same algebra holds WITHOUT a rate (sum of zero-filled series ==
    # zero-filled sum of the sparse series), so rate is optional here.
    if (
        rollup_cfg is None
        and q.downsample is not None
        and q.downsample.fill == "zero"
        and not q.downsample.run_all
        and q.downsample.interval_ms != 0
        and (q.rate is None or not q.rate.counter)
        and q.aggregator in ("sum", "zimsum")
    ):
        from dataclasses import replace

        gks = tuple(f.tagk for f in q.filters if f.group_by)
        sparse = downsample(
            df, replace(q.downsample, fill="none"), start_ms, end_ms,
            series_cols=("metric", "tags"),
        )
        gcols = [F.col("tags").getItem(k).alias(f"tag_{k}") for k in gks]
        gnames = ["metric", *[f"tag_{k}" for k in gks]]
        pre = (
            sparse.select("metric", *gcols, "ts", "value")
            .groupBy(*gnames, "ts")
            .agg(F.sum("value").alias("value"))
        )
        # zero-fill the GROUP grid by re-downsampling the pre-aggregated
        # frame (ts is already the bucket start, so the re-bucketing is
        # the identity and only the fill pass does work)
        filled = downsample(
            pre, replace(q.downsample, aggregator="sum"), start_ms, end_ms,
            series_cols=tuple(gnames),
        )
        out = (rate(filled, q.rate, series_cols=tuple(gnames))
               if q.rate is not None else filled)
        out = out.withColumnsRenamed({f"tag_{k}": k for k in gks})
        return CompiledSubQuery(out, gks, q.aggregator, source_df)

    aligned = False
    if q.downsample is not None:
        # tsuid sub-queries (metric='') never route to rollups: the rollup
        # tables are keyed by metric and pre-agg rows have no TSUID identity
        # to filter on — the reference equally scans raw for TSUID queries
        if (rollup_cfg is not None and not q.downsample.calendar
                and not q.downsample.run_all and not q.tsuids):
            from opentsdb_spark.plans.rollup import RollupConfig, RollupTable, routed_downsample

            # the same metric/time/tag predicates bound each rollup table's
            # scan before routing picks one
            filtered = RollupConfig([
                RollupTable(
                    t.interval_ms,
                    t.interval_label,
                    t.df.where(subquery_predicate(t.df, q, start_ms, end_ms)),
                )
                for t in rollup_cfg.tables
            ])
            try:
                df = routed_downsample(
                    df, filtered, q.downsample, q.rollup_usage, start_ms, end_ms,
                    cutoff_ms=rollup_cutoff_ms,
                )
            except ValueError:
                # no matching interval / non-rewritable aggregator: the
                # reference scans the raw data table when no valid rollup
                # query forms (TsdbQuery.java:1553-1571 tableToBeScanned)
                df = downsample(df, q.downsample, start_ms, end_ms, series_cols=("metric", "tags"))
        else:
            df = downsample(df, q.downsample, start_ms, end_ms, series_cols=("metric", "tags"))
        aligned = q.downsample.fill != "none"

    rate_mode = q.rate is not None
    if rate_mode:
        df = rate(df, q.rate, series_cols=("metric", "tags"))

    group_tagks = tuple(f.tagk for f in q.filters if f.group_by)

    if q.aggregator == "none":
        # raw per-series passthrough: the reference routes agg=none around
        # group-by entirely, emitting each span as its own group
        # (TsdbQuery.java:1006-1027 "The raw aggregator skips group bys");
        # its None aggregator only throws if >1 value ever reaches one
        # aggregation slot (Aggregators.java:434-461 IllegalDataException),
        # which that routing makes unreachable. strict_none adds an
        # up-front guard for callers that want the typo-proof behavior:
        # reject when the filters leave more than one series.
        out = df.select(
            "metric",
            series_id_col("metric", "tags").alias("series_id"),
            "ts",
            "value",
        )
        if strict_none:
            n = out.select("series_id").distinct().limit(2).count()
            if n > 1:
                raise ValueError(
                    "More than one value in aggregator none: "
                    f"{n}+ series match metric {q.metric!r}; narrow the "
                    "filters or use a real aggregator"
                )
        return CompiledSubQuery(out, group_tagks, q.aggregator, source_df)

    # Strategy routing: a downsampled-but-unfilled frame has at most
    # range/interval timestamps per group, so packing the group into array
    # rows is bounded and cheapest (one scan, two shuffles). RAW resolution
    # (no downsample) has unbounded timestamps per group — packing would
    # materialize whole groups as single rows (the one scale-killer at
    # 100 TB); route to the line-sweep strategy (linear-time prefix-sum
    # analog of the reference's streaming k-way merge,
    # src/core/AggregationIterator.java:39-43), which falls back internally
    # to the unbounded grid join for non-decomposable aggregators.
    strategy = "pack" if q.downsample is not None else "sweep"
    out = cross_series_aggregate(
        df, q.aggregator, group_tagks, aligned=aligned, rate_mode=rate_mode,
        strategy=strategy,
    )
    return CompiledSubQuery(out, group_tagks, q.aggregator, source_df)


def compile_histogram_subquery(
    hists: DataFrame,
    q: SubQuery,
    start_ms: int,
    end_ms: int,
) -> CompiledSubQuery:
    """Histogram percentile / bucket sub-query over a histogram frame
    (operators.histogram.HISTOGRAM_SCHEMA).

    Mirrors the reference's histogram read path: routing when percentiles
    are requested (src/core/TsdbQuery.java:807,1169-1230), bucket-wise SUM
    as the only cross-histogram aggregation (src/core/
    HistogramAggregationIterator.java), midpoint percentile
    (src/core/SimpleHistogram.java:133-164 — underflow/overflow are NOT
    part of the cumulative walk), output naming ``<metric>_pct_<p>``
    (src/core/HistogramDataPointsToDataPointsAdaptor.java:43-52) and
    ``<metric>_bucket_<lo>_<hi>`` (src/core/
    HistogramBucketDataPointsAdaptor.java:180-191).

    Spark shape: filter -> [re-bucket ts] -> explode buckets -> one groupBy
    (the merge shuffle) -> percentile windows; one output row per group
    bucket per requested percentile. Downsampling histograms is sum-merge
    only (src/core/HistogramDownsampler.java), so re-stamping ``ts`` to the
    downsample bucket before the single merge shuffle covers it — no second
    aggregation pass.
    """
    from opentsdb_spark.operators.downsample import bucket_col, calendar_bucket_col
    from opentsdb_spark.operators.histogram import histogram_percentile, merge_histograms

    if not q.percentiles and not q.show_histogram_buckets:
        raise ValueError("histogram sub-query needs percentiles or show-histogram-buckets")
    df = hists.where(subquery_predicate(hists, q, start_ms, end_ms)).drop("dt", "hr")
    group_tagks = tuple(f.tagk for f in q.filters if f.group_by)

    if q.downsample is not None:
        d = q.downsample
        if d.aggregator not in ("sum", "zimsum"):
            raise ValueError("histograms downsample with SUM merge only")
        b = (
            calendar_bucket_col(F.col("ts"), d.calendar_unit or "d", d.timezone, d.calendar_n)
            if d.calendar
            else bucket_col(F.col("ts"), d.interval_ms)
        )
        df = df.withColumn("ts", b)

    df = df.select(
        "metric", *[F.col("tags")[k].alias(k) for k in group_tagks], "ts", "buckets"
    )
    gcols = ("metric", *group_tagks, "ts")
    merged = merge_histograms(df, gcols)

    outs: list[DataFrame] = []
    for p in q.percentiles:
        # Float.toString formatting: 95 -> "95.0"
        suffix = f"_pct_{float(p)}"
        pct = histogram_percentile(merged, gcols, float(p))
        outs.append(
            pct.withColumn("metric", F.concat(F.col("metric"), F.lit(suffix)))
        )
    if q.show_histogram_buckets:
        outs.append(
            merged.withColumn(
                "metric",
                F.concat(
                    F.col("metric"), F.lit("_bucket_"),
                    F.col("lower").cast("string"), F.lit("_"),
                    F.col("upper").cast("string"),
                ),
            ).select(*gcols, F.col("count").cast("double").alias("value"))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o.select(*out.columns))
    out = out.select("metric", *group_tagks, "ts", "value")
    return CompiledSubQuery(out, group_tagks, q.aggregator, source_df=None)


def compile_query(
    points: DataFrame,
    tsq: TSQuery,
    now_ms: int | None = None,
    histograms: DataFrame | None = None,
    rollup_cfg=None,
    agg_tag: bool = False,
    strict_none: bool = False,
) -> list[CompiledSubQuery]:
    """Compile all sub-queries of a TSQuery. Sub-queries requesting
    percentiles/buckets route to the histogram frame (reference
    src/core/TsdbQuery.java:807 isHistogramQuery); rollup_cfg/agg_tag route
    downsamples and pre-aggregate scans (see compile_subquery)."""
    start_ms = parse_datetime_ms(tsq.start, tsq.timezone, now_ms)
    end_ms = parse_datetime_ms(tsq.end, tsq.timezone, now_ms)
    # reference TSQuery.validateAndSetQuery (TSQuery.java:179-186); without
    # this an inverted range reaches F.sequence, which generates DESCENDING
    # time grids instead of failing
    if end_ms < start_ms:
        raise ValueError(
            f"End time [{end_ms}] must be greater than or equal to the start time [{start_ms}]"
        )
    if not tsq.queries:
        raise ValueError("Missing queries")
    # resolve the rollup SLA against this query's 'now': points newer than
    # the cutoff are assumed not yet rolled up (SplitRollupQuery.java)
    rollup_cutoff_ms = None
    if rollup_cfg is not None and getattr(rollup_cfg, "sla_ms", None):
        import time

        rollup_cutoff_ms = (
            now_ms if now_ms is not None else int(time.time() * 1000)
        ) - rollup_cfg.sla_ms
    out = []
    for q in tsq.queries:
        if q.percentiles or q.show_histogram_buckets:
            if histograms is None:
                raise ValueError(
                    f"sub-query on {q.metric!r} requests histogram percentiles "
                    "but no histogram frame was provided"
                )
            out.append(
                compile_histogram_subquery(histograms, q, start_ms, end_ms)
            )
        else:
            out.append(
                compile_subquery(
                    points, q, start_ms, end_ms,
                    rollup_cfg=rollup_cfg, agg_tag=agg_tag, strict_none=strict_none,
                    rollup_cutoff_ms=rollup_cutoff_ms,
                )
            )
    return out


def match_predicate(points: DataFrame, tsq: TSQuery, now_ms: int | None = None):
    """Column predicate matching every point any sub-query touches (time
    range x metric x tag/tsuid predicates) — the raw-scan filter behind
    both ``tsdb scan`` (reference src/tools/DumpSeries.java:60-120, which
    prints/deletes raw cells without aggregating) and DELETE /api/query.
    None when the query has no sub-queries."""
    start_ms = parse_datetime_ms(tsq.start, tsq.timezone, now_ms)
    end_ms = parse_datetime_ms(tsq.end, tsq.timezone, now_ms)
    matched = None
    for q in tsq.queries:
        m = subquery_predicate(points, q, start_ms, end_ms)
        matched = m if matched is None else (matched | m)
    return matched


def delete_matching_points(points: DataFrame, tsq: TSQuery, now_ms: int | None = None) -> DataFrame:
    """DELETE /api/query: remove every point matched by any sub-query
    and return the RETAINED frame.

    The reference flags the scan to delete matched cells in place
    (src/tsd/QueryRpc.java:148-152 -> src/core/TsdbQuery.java setDelete);
    on an immutable lake the delete is this anti-filter re-written with
    ``sources.points.write_points`` — partition pruning bounds the rewrite
    to the touched date partitions."""
    matched = match_predicate(points, tsq, now_ms)
    if matched is None:
        return points
    return points.where(~matched)
