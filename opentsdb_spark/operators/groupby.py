"""Cross-series group-by aggregation with interpolation.

The reference aggregates k series at each timestamp of the UNION of all the
group's timestamps; a series missing a timestamp contributes an interpolated
value per the aggregator's method (reference
src/core/AggregationIterator.java:27-119 and :690-800,
src/core/Aggregators.java:38-44):

  lerp  y0 + (x-x0)(y1-y0)/(x1-x0) between neighbors
  zim   0
  max   +Double.MAX  (so min() ignores the series)
  min   -Double.MAX  (so max() ignores the series)
  prev  y0 (step interpolation)

Substitution applies only STRICTLY INSIDE a series' own [first_ts, last_ts]
(the reference iterator stops contributing once a span is exhausted and
hasn't started before its first point) — outside, the series contributes
nothing (null here; Spark aggregates ignore nulls). When the values are
rates, LERP degrades to previous-value ("No LERP for the rate",
AggregationIterator.java:744-752).

Spark shape (set-based, no k-way merge loop):
  1. grid  = distinct (group, ts)  x  distinct (group, series)   [1 shuffle]
  2. left-join actual points                                     [1 shuffle]
  3. per-series window -> prev/next neighbor values              [1 shuffle,
     same key as 2 — Catalyst reuses the partitioning]
  4. substitute per interp method, groupBy(group, ts).agg        [1 shuffle]

Exact single groupBy: expanding a group onto its union grid cannot change
the answer when every series already shares the same bucket grid (the
caller passes aligned=True for a downsample with a fill policy), nor when
the aggregator's interpolation substitutes its own identity element
(zimsum adds 0, mimmin takes min with +Double.MAX, mimmax max with
-Double.MAX; SURVEY §2) — every union timestamp holds at least one real
point, so the substituted values never win. Both cases collapse to one
groupBy(group, ts), and no strategy below ever sees those aggregators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from opentsdb_spark.functions.aggregators import AggSpec, get_aggregator
from opentsdb_spark.sources.points import series_id_col

_DBL_MAX = 1.7976931348623157e308

# Per-thread registry of frames persisted inside a query compilation. A
# batch script lives with session-scoped caches, but the long-running TSD
# daemon would leak one cached frame per grid-join query — it calls
# release_scratch() after each request completes (thread-local so one
# request's release can't unpin a concurrent request's working set).
import threading as _threading

_SCRATCH = _threading.local()


def _register_scratch(df: DataFrame) -> DataFrame:
    lst = getattr(_SCRATCH, "frames", None)
    if lst is None:
        lst = _SCRATCH.frames = []
    lst.append(df)
    return df


def release_scratch() -> int:
    """Unpersist every frame this thread's queries persisted. Returns the
    count released."""
    lst = getattr(_SCRATCH, "frames", None) or []
    n = len(lst)
    while lst:
        try:
            lst.pop().unpersist()
        except Exception:  # noqa: BLE001 — session may already be gone
            pass
    return n
# interval-join binning granularity for the grid-join strategy: buckets per
# group time range. More bins = tighter candidate sets but more span rows
# (a full-range series explodes into _GRID_BINS rows).
_GRID_BINS = 1024


def cross_series_aggregate(
    points: DataFrame,
    aggregator: str | AggSpec,
    group_tagks: tuple[str, ...] = (),
    aligned: bool = False,
    rate_mode: bool = False,
    strategy: str = "pack",
) -> DataFrame:
    """Aggregate series at aligned timestamps within each group.

    Input: point frame (metric, ts, value, tags).
    Groups: metric + the given tag keys (reference: filters with
    group_by=true, src/core/TsdbQuery.java:675-689; no keys -> all series of
    the metric collapse into one group).
    Output: (metric, <tagk cols...>, ts, value).

    An aligned input or an identity-interpolating aggregator (zimsum,
    mimmin, mimmax; see the module docstring) is one exact groupBy under
    every strategy. Otherwise, strategy:
      'pack'  one input scan; packs each series' points into arrays —
              memory O(timestamps per group), the right choice whenever the
              input was downsampled first (the reference's own practice —
              its in-heap SpanGroup equally materializes the group)
      'pack_expr'  the same packing with pure Column expressions — the
              semantics oracle 'pack' is tested against
      'join'  unbounded grid join (3 derivations of the input sub-plan, more
              shuffles) — choose for raw-resolution groups whose timestamp
              count exceeds executor memory
      'sweep' linear-time prefix sums for the sum family; falls back to
              'join' for the other aggregators
    """
    agg = get_aggregator(aggregator) if isinstance(aggregator, str) else aggregator
    gcols = [F.col("tags").getItem(k).alias(f"tag_{k}") for k in group_tagks]
    gnames = ["metric", *[f"tag_{k}" for k in group_tagks]]

    df = points.select(
        "metric", *gcols, "ts", "value", series_id_col("metric", "tags").alias("__sid")
    )

    # one exact groupBy for an aligned input or an identity interpolation
    # (module docstring); the latter keeps the doubles every interpolating
    # strategy returns (a count downsample feeds longs)
    value = F.col("value")
    if not aligned and agg.name in ("zimsum", "mimmin", "mimmax"):
        value = value.cast("double")
    elif not aligned:
        interp = "prev" if (rate_mode and agg.interp == "lerp") else agg.interp
        if strategy == "sweep":
            out = _sweep_cross_series(df, gnames, interp, agg)
            if out is not None:
                return out.withColumnsRenamed({f"tag_{k}": k for k in group_tagks})
            strategy = "join"  # aggregator not sweep-expressible — fall back
        if strategy == "pack":
            df = _interpolate_to_union_grid(df, gnames, interp)
        elif strategy == "pack_expr":
            df = _interpolate_to_union_grid_expr(df, gnames, interp)
        elif strategy == "join":
            df = _interpolate_via_grid_join(df, gnames, interp)
        else:
            raise ValueError(f"strategy must be pack|pack_expr|join|sweep, got {strategy!r}")

    out = (
        df.groupBy(*gnames, "ts")
        .agg(agg.builder(value, F.unix_millis("ts")).alias("value"))
        .withColumnsRenamed({f"tag_{k}": k for k in group_tagks})
    )
    return out


def _pack_per_series(df: DataFrame, gnames: list[str]) -> DataFrame:
    """Shared head of the pack strategies: one row per (group, series) with
    the series' sorted point array and the group's union timestamp grid."""
    per_series = df.groupBy(*gnames, "__sid").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("ts").alias("t"), F.col("value").alias("v")))
        ).alias("pts")
    )
    per_group = per_series.groupBy(*gnames).agg(
        F.collect_list(F.struct("__sid", "pts")).alias("series")
    )
    all_ts = F.array_sort(
        F.array_distinct(
            F.flatten(F.transform("series", lambda s: F.transform(s["pts"], lambda p: p["t"])))
        )
    )
    return (
        per_group.withColumn("all_ts", all_ts)
        .select(*gnames, "all_ts", F.explode("series").alias("s"))
        .select(
            *gnames, "all_ts",
            F.col("s.__sid").alias("__sid"), F.col("s.pts").alias("pts"),
        )
    )


def _interpolate_to_union_grid(df: DataFrame, gnames: list[str], interp: str) -> DataFrame:
    """Vectorized pack strategy: same packing head as the expression form
    (see _interpolate_to_union_grid_expr for the semantics contract), but
    the per-slot lookup/interpolation runs in one Arrow-batched Python map
    using numpy searchsorted — O((|grid|+|points|) log |points|) per series
    instead of the O(|grid| x |points|) interpreted higher-order-function
    scans of the expression form (Spark evaluates transform/filter lambdas
    via CodegenFallback, so each slot's filter() was a full interpreted
    array walk; measured 2.5x of the whole aligned-aggregate query at
    sf0.1).

    ``mapInArrow``, not a pandas UDF column: a UDF column plans as
    ArrowEvalPython, which reports no output partitioning, so the final
    groupBy re-shuffles even an input already clustered by group (or held
    in one partition); a map over batches keeps its child's partitioning.

    Bit-compatibility with the expression form: millisecond timestamps are
    widened to float64 exactly (|ms| < 2^52), and the LERP arithmetic
    evaluates pv + (t-pt)*(nv-pv)/(nt-pt) with the same left-to-right IEEE
    double ops as the Column expression; exact-match slots pass the stored
    value through untouched; slots outside the series' own [first, last]
    span return NULL (never NaN) so downstream aggregates skip them —
    asserted equal to the expression form in
    tests/test_groupby_strategies.py."""
    def interp_slots(a, t, v):
        import numpy as np

        li = np.searchsorted(t, a, side="left")
        ri = np.searchsorted(t, a, side="right")
        exact = ri > li  # slot timestamp present in this series
        prev_i = li - 1  # last point strictly before the slot
        next_i = ri  # first point strictly after the slot
        interior = (prev_i >= 0) & (next_i < len(t)) & ~exact
        vals = np.zeros(len(a), dtype=np.float64)
        vals[exact] = v[li[exact]]
        if interp == "lerp":
            af = a.astype(np.float64)
            tf = t.astype(np.float64)
            p, n = prev_i[interior], next_i[interior]
            vals[interior] = v[p] + (af[interior] - tf[p]) * (v[n] - v[p]) / (
                tf[n] - tf[p]
            )
        elif interp == "zim":
            vals[interior] = 0.0
        elif interp == "prev":
            vals[interior] = v[prev_i[interior]]
        else:  # pragma: no cover
            raise ValueError(f"unknown interpolation: {interp}")
        return vals, exact | interior

    keep = [*gnames, "__sid", "all_ts"]

    def with_vals(batches):
        import numpy as np
        import pyarrow as pa

        def rows(col, dtype):
            # per-row offsets from 0 and the flat values they index
            off = col.offsets.to_numpy()
            flat = col.values.to_numpy(zero_copy_only=False)[off[0]:off[-1]]
            return off - off[0], np.asarray(flat, dtype=dtype)

        for b in batches:
            if not b.num_rows:
                continue
            a_off, a_flat = rows(b.column("__all_ms"), np.int64)
            t_off, t_flat = rows(b.column("__pt_ms"), np.int64)
            _, v_flat = rows(b.column("__pt_v"), np.float64)
            vals = np.zeros(len(a_flat), dtype=np.float64)
            valid = np.zeros(len(a_flat), dtype=bool)
            for i in range(b.num_rows):
                a, ts = slice(a_off[i], a_off[i + 1]), slice(t_off[i], t_off[i + 1])
                vals[a], valid[a] = interp_slots(a_flat[a], t_flat[ts], v_flat[ts])
            out = pa.ListArray.from_arrays(
                pa.array(a_off, pa.int32()), pa.array(vals, mask=~valid))
            yield pa.RecordBatch.from_arrays(
                [b.column(c) for c in keep] + [out], names=[*keep, "vals"])

    g = _pack_per_series(df, gnames).select(
        *gnames, "__sid", "all_ts",
        F.transform("all_ts", F.unix_millis).alias("__all_ms"),
        F.transform("pts", lambda p: F.unix_millis(p["t"])).alias("__pt_ms"),
        F.transform("pts", lambda p: p["v"]).alias("__pt_v"),
    )
    out_schema = g.select(*keep, F.col("__pt_v").cast("array<double>").alias("vals")).schema
    g = g.mapInArrow(with_vals, out_schema)
    zipped = F.arrays_zip(F.col("all_ts").alias("ts"), F.col("vals").alias("value"))
    return g.select(*gnames, "__sid", F.explode(zipped).alias("z")).select(
        *gnames, "__sid", F.col("z.ts").alias("ts"), F.col("z.value").alias("value")
    )


def _interpolate_to_union_grid_expr(df: DataFrame, gnames: list[str], interp: str) -> DataFrame:
    """Expand each group's series onto the union of the group's timestamps,
    substituting interior-missing values per the interpolation method.

    Shape: pack each series' points into sorted arrays (one groupBy), gather
    the group's series into one row (second, tiny groupBy — one input row
    per series), then do EVERYTHING array-side: the union timestamp grid,
    the exact-match lookup, and the prev/next-neighbor interpolation are
    higher-order array expressions inside whole-stage codegen. Two shuffles
    total on this path — no per-group window, no per-series window, no
    joins. (The earlier window formulation cost two extra Exchanges; a
    grid-join formulation re-executes the upstream sub-plan three times —
    Spark does not share common subplans.)

    Per-series work is O(|grid| x |own points|) array scans; both are
    bounded by the group's timestamp count, which after downsampling is
    range/interval buckets (SURVEY §7.4: always downsample before aligning
    at scale — the reference's in-heap SpanGroup equally materializes the
    group)."""
    # materialize the timestamp array once per row — referencing a bound
    # column inside the per-slot lambda, never a recomputed transform
    g = _pack_per_series(df, gnames).withColumn(
        "tsarr", F.transform("pts", lambda p: p["t"])
    )

    def slot_value(t):
        # mirrors _substitute_missing exactly: value at the slot when the
        # series has one; otherwise interpolate STRICTLY inside the series'
        # own span, with neighbor arithmetic on ms-truncated doubles
        # (AggregationIterator.java:690-800)
        pos = F.array_position(F.col("tsarr"), t)
        exact = F.element_at("pts", pos.cast("int"))["v"]
        prevs = F.filter("pts", lambda p: p["t"] < t)
        nexts = F.filter("pts", lambda p: p["t"] > t)
        interior = (F.size(prevs) > 0) & (F.size(nexts) > 0)
        pe = F.element_at(prevs, -1)
        ne = F.element_at(nexts, 1)
        pv, nv = pe["v"], ne["v"]
        t_ms = F.unix_millis(t).cast("double")
        pt = F.unix_millis(pe["t"]).cast("double")
        nt = F.unix_millis(ne["t"]).cast("double")
        if interp == "lerp":
            sub = pv + (t_ms - pt) * (nv - pv) / (nt - pt)
        elif interp == "zim":
            sub = F.lit(0.0)
        elif interp == "max":
            sub = F.lit(_DBL_MAX)
        elif interp == "min":
            sub = F.lit(-_DBL_MAX)
        elif interp == "prev":
            sub = pv
        else:  # pragma: no cover
            raise ValueError(f"unknown interpolation: {interp}")
        return F.when(pos > 0, exact).otherwise(F.when(interior, sub))

    zipped = F.arrays_zip(
        F.col("all_ts").alias("ts"),
        F.transform("all_ts", slot_value).alias("value"),
    )
    return g.select(*gnames, "__sid", F.explode(zipped).alias("z")).select(
        *gnames, "__sid", F.col("z.ts").alias("ts"), F.col("z.value").alias("value")
    )


def _interpolate_via_grid_join(df: DataFrame, gnames: list[str], interp: str) -> DataFrame:
    """Unbounded-memory variant: union-timestamp grid left-joined back onto
    the points. Re-executes the upstream sub-plan three times but never
    materializes a group in memory — for raw-resolution groups too large to
    pack.

    The grid is pruned to each series' own [first_ts, last_ts] SPAN before
    the join: outside its span a series contributes nothing (the reference
    iterator neither starts a span early nor continues past its last point,
    AggregationIterator.java:690-800), and interior interpolation needs
    both neighbors in-span, so out-of-span grid rows could only ever carry
    NULL — rows the final aggregate would drop anyway. Without the prune
    the grid is |union ts| x |series| — 392M rows for one sf0.1 metric
    whose 20k series hold 1-2 points each (high-churn tag sets); with it,
    the grid is Σ_series |union ts within span|, proportional to the work
    the reference's k-way merge does on the same data.

    The ts-in-span predicate is a RANGE join, which Spark would execute as
    a nested loop over |union ts| x |series| pairs per group (the filter
    runs after the pairing). It is rewritten as an EQUI join by binning:
    each group's time range splits into ``_GRID_BINS`` buckets, a union
    timestamp belongs to exactly one bucket, a span explodes onto the
    buckets it covers (<= _GRID_BINS rows per series), and the join keys on
    (group, bucket) — a hash join whose output is the candidate set the
    between-filter then trims. Input is persisted (it is scanned four
    times: bounds, grid, spans, values; Spark does not share subplans);
    the TSD daemon reclaims it per-request via release_scratch()."""
    df = _register_scratch(df.persist())
    bounds = df.groupBy(*gnames).agg(
        F.unix_millis(F.min("ts")).alias("__lo"),
        F.unix_millis(F.max("ts")).alias("__hi"),
    ).withColumn(
        "__w",
        F.greatest((F.col("__hi") - F.col("__lo") + 1) / _GRID_BINS, F.lit(1.0)),
    )
    grid_ts = (
        df.select(*gnames, "ts").distinct()
        .join(F.broadcast(bounds), on=gnames)
        .withColumn(
            "__bk",
            F.floor((F.unix_millis("ts") - F.col("__lo")) / F.col("__w")).cast("int"),
        )
        .select(*gnames, "ts", "__bk")
    )
    spans = (
        df.groupBy(*gnames, "__sid")
        .agg(F.min("ts").alias("__t0"), F.max("ts").alias("__t1"))
        .join(F.broadcast(bounds), on=gnames)
        .withColumn(
            "__bk",
            F.explode(
                F.sequence(
                    F.floor((F.unix_millis("__t0") - F.col("__lo")) / F.col("__w")).cast("int"),
                    F.floor((F.unix_millis("__t1") - F.col("__lo")) / F.col("__w")).cast("int"),
                )
            ),
        )
        .select(*gnames, "__sid", "__t0", "__t1", "__bk")
    )
    grid = (
        grid_ts.join(spans, on=[*gnames, "__bk"])
        .where(F.col("ts").between(F.col("__t0"), F.col("__t1")))
        .select(*gnames, "__sid", "ts")
    )
    joined = grid.join(
        df.select(*gnames, "__sid", "ts", "value"), on=[*gnames, "__sid", "ts"], how="left"
    )
    return _substitute_missing(joined, interp)


def _substitute_missing(joined: DataFrame, interp: str) -> DataFrame:
    """Per-series neighbor windows + interpolation substitution for
    interior-missing grid slots (AggregationIterator.java:690-800).

    Both neighbor lookups run over RUNNING frames ([unboundedPreceding,
    currentRow]) — the following-side neighbor uses a ts-DESCENDING running
    frame rather than [currentRow, unboundedFollowing]: Spark evaluates
    growing frames incrementally (one aggregate update per row) but
    re-scans a shrinking unbounded-following frame from every row, which
    is O(rows²) per series partition — measured as a 20-minute-CPU stage
    on a raw-resolution grid at sf0.1 where the running form takes
    seconds. Cost of the trick: one extra sort per window ordering."""
    w_prev = Window.partitionBy("__sid").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # descending order: "last non-null so far" == first non-null at-or-after
    # the current row in ascending time
    w_next = Window.partitionBy("__sid").orderBy(F.desc("ts")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )

    ts_ms = F.unix_millis("ts").cast("double")
    prev_v = F.last("value", ignorenulls=True).over(w_prev)
    prev_t = F.last(F.when(F.col("value").isNotNull(), ts_ms), ignorenulls=True).over(w_prev)
    next_v = F.last("value", ignorenulls=True).over(w_next)
    next_t = F.last(F.when(F.col("value").isNotNull(), ts_ms), ignorenulls=True).over(w_next)

    interior = prev_v.isNotNull() & next_v.isNotNull()
    if interp == "lerp":
        sub = prev_v + (ts_ms - prev_t) * (next_v - prev_v) / (next_t - prev_t)
    elif interp == "zim":
        sub = F.lit(0.0)
    elif interp == "prev":
        sub = prev_v
    else:  # pragma: no cover
        raise ValueError(f"unknown interpolation: {interp}")

    value = F.when(F.col("value").isNotNull(), F.col("value")).otherwise(
        F.when(interior, sub)
    )
    return joined.withColumn("value", value)


# ------------------------------------------------------------- line sweep ---

# prefix-sum bucket count per group: cumulative sums run as per-bucket local
# windows (parallel) + a <=_SWEEP_BUCKETS-row offset join, so no group ever
# sorts in a single task no matter how many distinct timestamps it has
_SWEEP_BUCKETS = 256


def _sweep_cross_series(df, gnames: list[str], interp: str, agg) -> DataFrame | None:
    """Linear-time cross-series alignment for decomposable aggregators — the
    Spark analog of the reference's streaming k-way merge
    (src/core/AggregationIterator.java:39-43), which walks all spans in time
    order holding only per-series cursor state. Here that cursor state
    becomes prefix sums over a per-(group, timestamp) delta stream:

      F(t) = sum over in-span series of f_s(t), where f_s is the series'
      piecewise-linear (lerp) or step (prev/zim) reconstruction.

    Each point of each series emits O(1) deltas (activation value, slope
    change, post-deactivation removal); grouping deltas by timestamp and
    prefix-summing in time order yields F at every union timestamp. Total
    work is O(points), versus the grid join's O(sum over series of union
    timestamps in span) — on high-churn tag sets (sf0.1: 19k mostly
    single-point series over one metric) that is a ~200x row reduction.

    Every summand is local (a value, a slope, or slope x own-gap), so the
    running sums stay O(active series x value scale) — no a+m*t intercept
    cancellation against epoch-sized timestamps.

    zimsum, mimmin and mimmax never reach the sweep: cross_series_aggregate
    answers them with one exact groupBy. Returns None when the aggregator
    isn't sweep-decomposable (min/max with lerp, median, dev, mult,
    percentiles): caller falls back to the grid join. Output: one row per
    (group, union ts) like the other strategies.
    """
    name = agg.name
    if name not in ("sum", "avg", "count", "pfsum") or interp not in ("lerp", "prev", "zim"):
        return None

    w = Window.partitionBy("__sid").orderBy("ts")
    tms = F.unix_millis("ts").cast("double")
    v = F.col("value")
    first = F.lag("ts").over(w).isNull()
    last = F.lead("ts").over(w).isNull()

    need_count = name in ("avg", "count")
    cols = []
    if name != "count":
        if interp == "lerp":
            # piecewise-linear: P changes only at activation (interior value
            # changes arrive via slope drift, which telescopes to v_i at
            # each own point); M carries the slope deltas
            nxt_v = F.lead("value").over(w)
            nxt_t = F.lead(F.unix_millis("ts")).over(w).cast("double")
            m = F.when(last, F.lit(0.0)).otherwise((nxt_v - v) / (nxt_t - tms))
            m_prev = F.coalesce(F.lag(m).over(w), F.lit(0.0))
            cols.append((F.when(first, v).otherwise(F.lit(0.0))).alias("__dp"))
            cols.append((m - m_prev).alias("__dm"))
        else:  # prev-step (pfsum, rate-mode sum): value jumps at own points
            cols.append((v - F.coalesce(F.lag(v).over(w), F.lit(0.0))).alias("__dp"))
            cols.append(F.lit(0.0).alias("__dm"))
        cols.append(F.when(last, -v).otherwise(F.lit(0.0)).alias("__dpp"))
    if need_count:
        # in-span series count: step +1 over [first_ts, last_ts]
        cols.append(F.when(first, F.lit(1.0)).otherwise(F.lit(0.0)).alias("__dc"))
        cols.append(F.when(last, F.lit(-1.0)).otherwise(F.lit(0.0)).alias("__dcp"))

    ev = df.select(*gnames, "ts", *cols)
    sums = [F.sum(c).alias(c) for c in ev.columns if c.startswith("__d")]
    # NOT persisted: the delta frame is re-derived by the bounds/offset
    # branches, but those re-executions pipeline inside whole-stage codegen
    # and measure ~2x faster than paying cache materialization up front
    d = ev.groupBy(*gnames, "ts").agg(*sums)

    # bucket assignment shared by both prefix-sum passes
    bounds = d.groupBy(*gnames).agg(
        F.unix_millis(F.min("ts")).alias("__lo"), F.unix_millis(F.max("ts")).alias("__hi")
    ).withColumn(
        "__w", F.greatest((F.col("__hi") - F.col("__lo") + 1) / _SWEEP_BUCKETS, F.lit(1.0))
    )
    d = d.join(F.broadcast(bounds), on=gnames).withColumn(
        "__pid", F.floor((F.unix_millis("ts") - F.col("__lo")) / F.col("__w")).cast("int")
    ).drop("__lo", "__hi", "__w")

    cum1 = {}
    if name != "count":
        cum1["__pall"] = F.col("__dp") + F.col("__dpp")
        cum1["__m"] = F.col("__dm")
    if need_count:
        cum1["__call"] = F.col("__dc") + F.col("__dcp")
    d = _bucketed_scan(d, gnames, cum1, lag_ts=(interp == "lerp" and name != "count"))

    if name != "count":
        p_eval = F.col("__cum___pall") - F.col("__dpp")
        if interp == "lerp":
            # drift accrued since the previous union timestamp: slope-sum in
            # force over that gap (M after previous row's events) x gap
            m_before = F.col("__cum___m") - F.col("__dm")
            r = F.when(
                F.col("__lag_ts").isNull(), F.lit(0.0)
            ).otherwise(m_before * (F.unix_millis("ts").cast("double") - F.col("__lag_ts")))
            d = _bucketed_scan(d.withColumn("__r", r), gnames, {"__rsum": F.col("__r")})
            p_eval = p_eval + F.col("__cum___rsum")
    if need_count:
        c_eval = F.col("__cum___call") - F.col("__dcp")

    if name == "count":
        value = c_eval.cast("long")  # match the join path's F.count type
    elif name == "avg":
        value = p_eval / c_eval
    else:
        value = p_eval
    return d.select(*gnames, "ts", value.alias("value"))


def _bucketed_scan(d: DataFrame, gnames: list[str], cum: dict, lag_ts: bool = False) -> DataFrame:
    """Prefix sums (and optionally lag of ts-ms) over ts within each group
    without a single-task group sort: local running sums per (group, __pid)
    time bucket, then a tiny per-bucket offset table (<= _SWEEP_BUCKETS rows
    per group) broadcast-joined back. Empty buckets are naturally skipped
    by the offset window's pid ordering."""
    for out_name, expr in cum.items():
        d = d.withColumn(out_name, expr)
    wloc = Window.partitionBy(*gnames, "__pid").orderBy("ts")
    loc = d
    for c in cum:
        loc = loc.withColumn(f"__cs_{c}", F.sum(c).over(wloc))
    if lag_ts:
        loc = loc.withColumn("__lag_loc", F.lag(F.unix_millis("ts").cast("double")).over(wloc))

    aggs = [F.sum(c).alias(f"__tot_{c}") for c in cum]
    if lag_ts:
        aggs.append(F.max(F.unix_millis("ts").cast("double")).alias("__last_ts"))
    btot = d.groupBy(*gnames, "__pid").agg(*aggs)
    woff = Window.partitionBy(*gnames).orderBy("__pid")
    off_cols = [
        F.coalesce(
            F.sum(f"__tot_{c}").over(woff.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0.0),
        ).alias(f"__off_{c}")
        for c in cum
    ]
    if lag_ts:
        off_cols.append(F.lag("__last_ts").over(woff).alias("__prev_last_ts"))
    off = btot.select(*gnames, "__pid", *off_cols)

    out = loc.join(F.broadcast(off), on=[*gnames, "__pid"])
    for c in cum:
        out = out.withColumn(f"__cum_{c}", F.col(f"__cs_{c}") + F.col(f"__off_{c}"))
        out = out.drop(f"__cs_{c}", f"__off_{c}", f"__tot_{c}")
    if lag_ts:
        out = out.withColumn("__lag_ts", F.coalesce("__lag_loc", "__prev_last_ts")).drop(
            "__lag_loc", "__prev_last_ts"
        )
    return out
