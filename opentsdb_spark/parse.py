"""OpenTSDB query-string parsers: the ``m=`` sub-query syntax and the gexp
function-call expression syntax.

References:
  * m= grammar:  src/tsd/QueryRpc.java:630-682 (parseQuery / parseMTypeSubQuery)
      m=<aggregator>:[interval-agg[-fill]:][rate[{counter[,max[,reset]]}]:]
        <metric>[{grouping filters}][{non-grouping filters}]
  * tag filter shorthand: TagVFilter.Builder parsing — ``*`` -> wildcard,
    ``a|b`` -> literal_or, ``literal_or(a|b)`` etc. function forms
    (src/query/filter/TagVFilter.java:232-312 getFilter)
  * gexp grammar: src/parser.jj:48-70 + Expressions.parse
    (src/query/expression/Expressions.java:43-163) — nested calls
    ``func(expr[,param...])`` whose leaves are m=-style sub-queries.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from opentsdb_spark.model import DownsampleSpec, RateOptions, SubQuery, TagFilter, TSQuery
from opentsdb_spark.timeparse import parse_downsample_interval, parse_duration_ms

_FILTER_FN = re.compile(r"^(\w+)\((.*)\)$")
_FILTER_TYPES = {
    "literal_or", "iliteral_or", "not_literal_or", "not_iliteral_or",
    "wildcard", "iwildcard", "regexp", "not_key",
}


def _parse_tag_filter(tagk: str, spec: str, group_by: bool) -> TagFilter:
    """Shorthand: '*' -> wildcard, 'a|b'/'a' -> literal_or (case-insensitive
    variants when the value is wrapped in a function form)."""
    m = _FILTER_FN.match(spec)
    if m:
        name = m.group(1)
        # consult the LIVE registry too, so plugin filters registered via
        # functions.filters.register_filter parse from query strings
        from opentsdb_spark.functions.filters import FILTERS as _LIVE_FILTERS

        if name in _FILTER_TYPES or name in _LIVE_FILTERS:
            return TagFilter(name, tagk, m.group(2), group_by)
        # function-shaped value with an unregistered name: the reference
        # throws 'No such filter' (TagVFilter.Builder) rather than treating
        # 'nosuchfilter(x)' as a literal tag value
        raise ValueError(f"no such filter: {name!r} in {spec!r}")
    if "*" in spec:
        return TagFilter("iwildcard", tagk, spec, group_by)
    return TagFilter("literal_or", tagk, spec, group_by)


def _parse_filter_block(block: str, group_by: bool) -> list[TagFilter]:
    out = []
    if not block:
        return out
    # split on commas not inside parentheses
    parts, depth, cur = [], 0, []
    for ch in block:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    for p in parts:
        if "=" not in p:
            raise ValueError(f"bad tag filter {p!r}")
        k, v = p.split("=", 1)
        out.append(_parse_tag_filter(k.strip(), v.strip(), group_by))
    return out


def _parse_rate(token: str) -> RateOptions:
    """'rate' or 'rate{counter[,max[,reset]]}' — dropping resets is spelled
    'dropcounter' in the FIRST slot, and more than 3 slots is an error
    (reference QueryRpc.parseRateOptions: exactly 1..3 parts,
    drop_counter = parts[0].equals("dropcounter")).

    Engine extension: a trailing ``fvz`` slot ('rate{fvz}',
    'rate{counter,,0,fvz}') opts into the reference's first-vs-(0,0)
    origin for each series' first rate (RateSpan.java:108-114) — see
    model.RateOptions.first_vs_zero for the default-off rationale."""
    if token == "rate":
        return RateOptions()
    m = re.match(r"^rate\{(.*)\}$", token)
    if not m:
        raise ValueError(f"bad rate spec {token!r}")
    # positions are significant: empty slots mean "default" (reference
    # QueryRpc.parseRateOptions:775-783 checks parts[i].length() > 0), so
    # 'rate{counter,,1000}' = counter, max=Long.MAX_VALUE, reset=1000
    parts = [p.strip() for p in m.group(1).split(",")]
    if parts == [""]:
        parts = []
    fvz = bool(parts) and parts[-1].lower() == "fvz"
    if fvz:
        parts = parts[:-1]
    if len(parts) > 3:
        raise ValueError(
            "Incorrect number of values in rate options specification, must "
            f"be counter[,counter max value,reset value][,fvz]: {token!r}"
        )
    counter = bool(parts) and parts[0].endswith("counter")
    drop = bool(parts) and parts[0] == "dropcounter"
    cmax = int(parts[1]) if len(parts) > 1 and parts[1] else (1 << 63) - 1
    reset = int(parts[2]) if len(parts) > 2 and parts[2] else 0
    return RateOptions(counter=counter or drop, counter_max=cmax,
                       reset_value=reset, drop_resets=drop,
                       first_vs_zero=fvz)


def _parse_downsample(token: str, timezone: str) -> DownsampleSpec:
    parts = token.split("-")
    if len(parts) < 2:
        raise ValueError(f"bad downsample spec {token!r}")
    interval_ms, calendar, unit, n = parse_downsample_interval(parts[0])
    agg = parts[1]
    fill = parts[2] if len(parts) > 2 else "none"
    fill_scalar = 0.0
    if fill not in ("none", "zero", "nan", "null") :
        fill_scalar = float(fill)
        fill = "scalar"
    return DownsampleSpec(
        interval_ms=interval_ms, aggregator=agg, fill=fill, fill_scalar=fill_scalar,
        calendar=calendar, calendar_unit=unit, calendar_n=n, timezone=timezone,
        run_all=(interval_ms == 0),
    )


def _parse_percentiles(token: str) -> tuple[float, ...]:
    """'percentiles[95,99.9]' -> sorted floats (reference
    src/tsd/QueryRpc.java:894-909 parsePercentiles + TSSubQuery sort)."""
    lo, hi = token.find("["), token.find("]")
    if lo == -1 or hi == -1:
        raise ValueError(f"malformed percentile query parameter: {token!r}")
    return tuple(sorted(float(p.strip()) for p in token[lo + 1: hi].split(",")))


def parse_m_subquery(spec: str, timezone: str = "UTC") -> SubQuery:
    """Parse one ``m=`` sub-query string into the query model."""
    # metric{...}{...} is the last ':'-separated part outside braces; the
    # head tokens before it are aggregator/downsample/rate/flags
    parts = _split_outside_braces(spec, ":")
    if len(parts) < 2:
        raise ValueError(f"m= spec needs '<aggregator>:<metric>', got {spec!r}")
    metric_part = parts[-1]
    tokens = parts[:-1]
    if tokens and tokens[-1] == "":
        tokens.pop()  # 'agg::metric' — empty token before the metric
    if not tokens:
        raise ValueError(f"m= spec needs an aggregator: {spec!r}")
    aggregator = tokens[0]
    downsample = None
    rate = None
    explicit_tags = False
    percentiles: tuple[float, ...] = ()
    show_buckets = False
    pre_agg = False
    rollup_usage = "ROLLUP_NOFALLBACK"
    # token dispatch mirrors reference src/tsd/QueryRpc.java:655-675
    for tok in tokens[1:]:
        if tok.startswith("rate"):
            rate = _parse_rate(tok)
        elif tok == "explicit_tags":
            explicit_tags = True
        elif tok.lower().startswith("percentiles"):
            percentiles = _parse_percentiles(tok)
        elif tok.lower().startswith("show-histogram-buckets"):
            show_buckets = True
        elif tok.lower() == "pre-agg":
            pre_agg = True
        elif tok.lower().startswith("rollup_"):
            rollup_usage = tok.upper()
        else:
            downsample = _parse_downsample(tok, timezone)

    m = re.match(r"^([^{}]+)(\{[^{}]*\})?(\{[^{}]*\})?$", metric_part.strip())
    if not m:
        raise ValueError(f"bad metric part {metric_part!r}")
    metric = m.group(1)
    filters: list[TagFilter] = []
    if m.group(2):
        filters += _parse_filter_block(m.group(2)[1:-1], group_by=True)
    if m.group(3):
        filters += _parse_filter_block(m.group(3)[1:-1], group_by=False)
    return SubQuery(
        metric=metric, aggregator=aggregator, downsample=downsample, rate=rate,
        filters=tuple(filters), explicit_tags=explicit_tags,
        percentiles=percentiles, show_histogram_buckets=show_buckets,
        pre_aggregate=pre_agg, rollup_usage=rollup_usage,
    )


def _split_outside_braces(s: str, sep: str) -> list[str]:
    """Split on ``sep`` occurrences not enclosed in ``{}`` (series ids
    embed 'metric{k=v,...}' whose braces may hold the separator)."""
    parts, cur, depth = [], [], 0
    for ch in s:
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def parse_tsuid_subquery(spec: str, timezone: str = "UTC") -> SubQuery:
    """Parse one ``tsuid=`` sub-query: ``agg:[interval-agg:][rate:]tsuid[,s]``
    (reference QueryRpc.parseTsuidTypeSubQuery, QueryRpc.java:693-740) —
    the m= grammar with a comma-separated TSUID list in the metric slot."""
    parts = _split_outside_braces(spec, ":")
    if len(parts) < 2 or len(parts) > 5:
        raise ValueError(
            f"Invalid parameter m={spec!r} "
            f"({'not enough' if len(parts) < 2 else 'too many'} :-separated parts)"
        )
    # the reference's TSUIDs are hex ids; ours are 'metric{k=v,...}' series
    # ids whose braces may hold commas — split the list on commas OUTSIDE
    # braces only
    tsuids = tuple(t for t in _split_outside_braces(parts[-1], ",") if t)
    if not tsuids:
        raise ValueError(f"tsuid query needs at least one TSUID: {spec!r}")
    aggregator = parts[0]
    downsample = None
    rate = None
    percentiles: tuple[float, ...] = ()
    show_buckets = False
    for tok in parts[1:-1]:
        if tok.lower().startswith("rate"):
            rate = _parse_rate(tok)
        elif tok.lower().startswith("percentiles"):
            percentiles = _parse_percentiles(tok)
        elif tok.lower().startswith("show-histogram-buckets"):
            show_buckets = True
        elif tok and tok[0].isdigit():
            downsample = _parse_downsample(tok, timezone)
        else:
            raise ValueError(f"unrecognized tsuid query token {tok!r} in {spec!r}")
    return SubQuery(
        metric="", aggregator=aggregator, downsample=downsample, rate=rate,
        tsuids=tsuids, percentiles=percentiles,
        show_histogram_buckets=show_buckets,
    )


def parse_query(params: dict) -> TSQuery:
    """Parse GET-style params {start, end, m: [specs], tsuid: [specs],
    timezone} into a TSQuery (the /api/query GET path,
    src/tsd/QueryRpc.java:630-682; tsuid-type sub-queries :571-576)."""
    tz = params.get("timezone", "UTC")
    ms = [params["m"]] if isinstance(params.get("m"), str) else list(params.get("m", []))
    # the reference GET param is 'tsuid'; 'tsuids' is accepted as an alias
    # because the rest of this stack (tsd._flatten_qs, handle_graph) already
    # treats both spellings as sub-query lists
    tq = params.get("tsuid", params.get("tsuids", []))
    tqs = [tq] if isinstance(tq, str) else list(tq)
    return TSQuery(
        start=params["start"],
        end=params.get("end"),
        queries=tuple(
            [parse_tsuid_subquery(s, tz) for s in tqs]
            + [parse_m_subquery(s, tz) for s in ms]
        ),
        timezone=tz,
        # presence-style flags (reference src/tsd/QueryRpc.java:542-568
        # checks hasQueryStringParam): a bare '?ms' arrives as the empty
        # string through a query-string parser and must still count as set;
        # an explicit 'false'/'0' opts out (HttpQuery.parseBoolean analog)
        ms_resolution=_flag(params, "ms"),
        show_tsuids=_flag(params, "show_tsuids"),
        show_query=_flag(params, "show_query"),
        show_stats=_flag(params, "show_stats"),
        show_summary=_flag(params, "show_summary"),
        no_annotations=_flag(params, "no_annotations"),
        with_global_annotations=_flag(params, "global_annotations"),
    )


def _flag(params: dict, name: str) -> bool:
    """Presence-style boolean, exactly the reference's
    hasQueryStringParam: a present HTTP param counts as true whatever its
    value (even '?ms=false' — QueryRpc.java:554-556 only checks presence).
    Programmatic callers passing real booleans/None keep Python truthiness."""
    if name not in params:
        return False
    v = params[name]
    if isinstance(v, str):
        return True
    return bool(v)


# ------------------------------------------------------------------ gexp ----


def _split_args(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "({":
            depth += 1
        elif ch in ")}":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur and "".join(cur).strip():
        out.append("".join(cur).strip())
    return out


_GEXP_FN = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*)\((.*)\)$", re.S)


def gexp_metrics(expr: str, timezone: str = "UTC") -> list[str]:
    """Metric names of every m= leaf in a gexp expression — what per-metric
    query-limit overrides resolve against (QueryLimitOverride applies to
    each scanned metric). Non-query function args (scalars, durations)
    simply don't parse as sub-queries and are skipped."""
    out: list[str] = []

    def _walk(e: str) -> None:
        e = e.strip()
        m = _GEXP_FN.match(e)
        if not m or (m.group(1) not in _GEXP_DISPATCH):
            try:
                out.append(parse_m_subquery(e, timezone).metric)
            except Exception:
                pass
            return
        for a in _split_args(m.group(2)):
            _walk(a)

    _walk(expr)
    return out


def parse_gexp(
    expr: str,
    points: DataFrame,
    start_ms: int,
    end_ms: int,
    timezone: str = "UTC",
) -> DataFrame:
    """Parse + evaluate a gexp expression string against a point frame.

    Leaves are m=-style sub-query specs; function names mirror the
    reference's ExpressionFactory (src/query/expression/ExpressionFactory.
    java:31-60). Returns a grouped frame [*group tagks, ts, value]."""
    from opentsdb_spark.operators import expressions as gx
    from opentsdb_spark.plans.planner import compile_subquery

    def _eval(e: str) -> tuple[DataFrame, tuple[str, ...]]:
        e = e.strip()
        m = _GEXP_FN.match(e)
        if not m or (m.group(1) not in _GEXP_DISPATCH):
            sub = parse_m_subquery(e, timezone)
            res = compile_subquery(points, sub, start_ms, end_ms)
            cols = tuple(res.group_tagks)
            return res.df.select(*cols, "ts", "value"), cols
        name, argstr = m.group(1), m.group(2)
        args = _split_args(argstr)
        return _GEXP_DISPATCH[name](args, _eval)

    df, _cols = _eval(expr)
    return df


def _unary(fn):
    def h(args, ev):
        df, cols = ev(args[0])
        return fn(df, args[1:]), cols

    return h


def _nary_frames(fn):
    def h(args, ev):
        frames, cols = [], None
        for a in args:
            df, c = ev(a)
            cols = c if cols is None else cols
            if c != cols:
                raise ValueError("gexp series functions need matching group keys")
            frames.append(df.select(*cols, "ts", "value"))
        return fn(frames, cols), cols

    return h


def _series_param_fn(fn_name):
    def h(args, ev):
        from opentsdb_spark.operators import expressions as gx

        df, cols = ev(args[0])
        param = args[1].strip().strip("'\"")
        if fn_name == "movingAverage":
            if re.fullmatch(r"\d+", param):
                return gx.moving_average(df, cols, count=int(param)), cols
            return gx.moving_average(df, cols, time_ms=parse_duration_ms(param)), cols
        if fn_name in ("timeShift", "shift"):
            return gx.time_shift(df, parse_duration_ms(param)), cols
        if fn_name in ("highestMax", "highestCurrent"):
            from opentsdb_spark.operators.topk import highest_current, highest_max

            k = int(param)
            f = highest_max if fn_name == "highestMax" else highest_current
            return f(df, cols, k), cols
        if fn_name == "scale":
            return gx.scale(df, float(param)), cols
        if fn_name == "alias":
            return gx.alias_series(df, param), cols
        raise ValueError(fn_name)

    return h


def _anomaly_zscore_h(args, ev):
    """anomalyZscore(<query>, <lookback>, <threshold>) — the alerting
    marker series: points whose trailing z-score (vs. the previous
    <lookback> buckets of their own series) exceeds <threshold> in
    absolute value, valued at the z-score."""
    from opentsdb_spark.operators import expressions as gx

    if len(args) != 3:
        raise ValueError(
            "anomalyZscore takes (query, lookback, threshold), got "
            f"{len(args)} args")
    df, cols = ev(args[0])
    return gx.anomaly_points(
        df, cols, lookback=int(args[1].strip()),
        threshold=float(args[2].strip())), cols


def _burn_rate_h(args, ev):
    """burnRate(<bad query>, <total query>, <short>, <long>, <budget>,
    <factor>) — multiwindow SLO burn alerting: buckets where BOTH the
    short and long trailing ratio-of-sums burns exceed <factor>, valued
    at the effective burn least(short, long). Numerator and denominator
    arrive as separate sub-queries (ratio-of-sums needs the raw sums; a
    pre-divided series would average per-bucket ratios)."""
    from opentsdb_spark.operators import expressions as gx

    if len(args) != 6:
        raise ValueError(
            "burnRate takes (bad, total, short, long, budget, factor), "
            f"got {len(args)} args")
    bad, cb = ev(args[0])
    total, ct = ev(args[1])
    if cb != ct:
        raise ValueError("burnRate sub-queries need matching group keys")
    return gx.burn_points(
        bad, total, cb,
        short_window=int(args[2].strip()),
        long_window=int(args[3].strip()),
        error_budget=float(args[4].strip()),
        factor=float(args[5].strip())), cb


def _build_dispatch():
    from opentsdb_spark.operators import expressions as gx

    d = {}
    d["absolute"] = _unary(lambda df, _p: gx.absolute(df))
    d["anomalyZscore"] = _anomaly_zscore_h
    d["burnRate"] = _burn_rate_h
    d["firstDiff"] = lambda args, ev: (lambda t: (gx.first_diff(t[0], t[1]), t[1]))(ev(args[0]))
    for name in ("scale", "alias", "movingAverage", "timeShift", "shift",
                 "highestMax", "highestCurrent"):
        d[name] = _series_param_fn(name)
    d["sumSeries"] = d["sum"] = _nary_frames(gx.sum_series)
    d["difference"] = d["diffSeries"] = _nary_frames(gx.diff_series)
    d["multiply"] = d["multiplySeries"] = _nary_frames(gx.multiply_series)
    d["divide"] = d["divideSeries"] = _nary_frames(gx.divide_series)
    return d


_GEXP_DISPATCH = _build_dispatch()
