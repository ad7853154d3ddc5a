"""HTTP API surface — endpoint handlers mirroring the reference's RPC table.

The reference registers these in src/tsd/RpcManager.java:272-366; here each
endpoint is a plain function (dict in -> JSON-able out) over a point frame,
so any HTTP front-end (or a notebook) can mount them. No server is started
by this module — the engine is the product, the transport is pluggable.

Implemented endpoints:
  /api/query            handle_query        (GET m= params or POST body)
  /q                    handle_graph        (ascii/json graph data; png=gnuplot excluded)
  /api/query/gexp       handle_gexp
  /api/query/exp        handle_exp
  /api/query/last       handle_last
  /api/suggest          handle_suggest
  /api/search           handle_search       (tsmeta/tsuids/uidmeta/annotation)
  /api/search/lookup    handle_lookup
  /api/annotation       handle_annotation_query / handle_annotation_edit
  /api/annotation/bulk  handle_annotation_bulk_delete
  /api/put              handle_put          (+ rollup / histogram variants)
  /api/uid/*            assign / uidmeta / tsmeta / rename
  /api/tree             handle_tree         (stateless rule-set evaluation)
  /api/aggregators      handle_aggregators
  /api/version          handle_version
  /api/config           handle_config       (+ stats, dropcaches)
"""

from __future__ import annotations

from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame

from opentsdb_spark.session import arrow_df
from pyspark.sql import functions as F

import opentsdb_spark
from opentsdb_spark.functions.aggregators import AGGREGATORS
from opentsdb_spark.model import (
    DownsampleSpec, ExpExpression, ExpJoin, ExpMetric, ExpQuery, FillPolicy, RateOptions,
    SubQuery, TagFilter, TSQuery,
)
from opentsdb_spark.operators.metadata import SUGGEST_MAX, last_points, lookup, suggest
from opentsdb_spark.parse import parse_gexp, parse_query
from opentsdb_spark.plans.limits import (
    enforce_data_point_limit, request_byte_limit, request_limit,
)
from opentsdb_spark.plans.planner import compile_query
from opentsdb_spark.serializer import (
    graph_ascii, resolve_series, serialize_subquery, subquery_echo,
)
from opentsdb_spark.timeparse import parse_datetime_ms, parse_duration_ms


def _tsquery_from_body(body: dict) -> TSQuery:
    """POST /api/query body (reference HttpJsonSerializer.parseQueryV1)."""
    subs = []
    for q in body.get("queries", []):
        filters = tuple(
            TagFilter(f["type"], f["tagk"], f.get("filter", ""), bool(f.get("groupBy")))
            for f in q.get("filters", [])
        ) + tuple(
            # legacy "tags" map shorthand
            TagFilter("iwildcard" if "*" in v else "literal_or", k, v, True)
            for k, v in q.get("tags", {}).items()
        )
        ds = None
        if q.get("downsample"):
            from opentsdb_spark.parse import _parse_downsample

            ds = _parse_downsample(q["downsample"], body.get("timezone", "UTC"))
        rate = None
        if q.get("rate"):
            ro = q.get("rateOptions", {})
            rate = RateOptions(
                counter=bool(ro.get("counter")),
                counter_max=int(ro.get("counterMax", (1 << 63) - 1)),
                reset_value=int(ro.get("resetValue", 0)),
                drop_resets=bool(ro.get("dropResets")),
                # engine extension: reference first-vs-(0,0) origin opt-in
                # (RateSpan.java:108-114; default-off decision documented
                # on model.RateOptions)
                first_vs_zero=bool(ro.get("firstVsZero")),
            )
        subs.append(
            SubQuery(
                metric=q["metric"], aggregator=q.get("aggregator", "sum"),
                downsample=ds, rate=rate, filters=filters,
                explicit_tags=bool(q.get("explicitTags")),
                tsuids=tuple(q.get("tsuids", [])),
                percentiles=tuple(sorted(float(p) for p in q.get("percentiles", []))),
                show_histogram_buckets=bool(q.get("showHistogramBuckets")),
            )
        )
    return TSQuery(
        start=body["start"], end=body.get("end"),
        queries=tuple(subs), timezone=body.get("timezone", "UTC"),
        ms_resolution=bool(body.get("msResolution")),
        show_tsuids=bool(body.get("showTSUIDs")),
        show_query=bool(body.get("showQuery")),
        show_stats=bool(body.get("showStats")),
        show_summary=bool(body.get("showSummary")),
        no_annotations=bool(body.get("noAnnotations")),
        with_global_annotations=bool(body.get("globalAnnotations")),
    )


def _collect_limited(df: DataFrame, max_data_points: int) -> list:
    """df's rows from one execution: ``limit(n+1).collect()`` under a
    data-point ceiling n (a plain collect when n = 0, unlimited), then the
    ceiling check on the rows — the shape serialize_subquery uses."""
    rows = (df.limit(max_data_points + 1) if max_data_points > 0 else df).collect()
    enforce_data_point_limit(rows, max_data_points)
    return rows


def handle_query(
    points: DataFrame,
    request: dict,
    histograms: DataFrame | None = None,
    annotations: DataFrame | None = None,
    rollup_cfg=None,
    agg_tag: bool = False,
    with_subquery_index: bool = False,
) -> list[dict[str, Any]]:
    """GET (params with m=) or POST (queries body) /api/query.

    ``histograms`` is the histogram frame (HISTOGRAM_SCHEMA) consulted when
    a sub-query carries percentiles / show-histogram-buckets;
    ``annotations`` is the annotation frame merged onto the output unless
    no_annotations is set (reference HttpJsonSerializer.java:778-811).
    ``with_subquery_index`` stamps each series dict with the internal
    ``__subquery_index`` key (which m= sub-query produced it) for callers
    that need per-subquery grouping (handle_graph's etags)."""
    import time

    t0 = time.monotonic()
    tsq = _tsquery_from_body(request) if "queries" in request else parse_query(request)
    from opentsdb_spark.auth import check_query

    check_query(request, tsq)  # no-op unless an auth plugin is installed
    from opentsdb_spark.operators.annotations import annotations_in_range
    from opentsdb_spark.parse import _flag
    from opentsdb_spark.plans.limits import enforce_byte_budget, enforce_scan_budget

    # _now_ms pins 'now' for the data range, the scan budget and the
    # annotation window alike — otherwise a caller-pinned clock reads data
    # and annotations from different windows
    now_ms = request.get("_now_ms")
    start_ms = parse_datetime_ms(tsq.start, tsq.timezone, now_ms)
    end_ms = parse_datetime_ms(tsq.end, tsq.timezone, now_ms)
    # agg=none parity: the reference routes NONE around group-bys and emits
    # one SpanGroup PER SPAN (src/core/TsdbQuery.java:1006-1027 "The raw
    # aggregator skips group bys"), so ?m=none:metric over a multi-series
    # metric legitimately returns one output series per span — it does NOT
    # throw; Aggregators.None's "More than one value" guard
    # (Aggregators.java:434-461) is unreachable from this path. The engine
    # serializes per series_id, matching that shape exactly
    # (test_tsd.py::test_none_multi_series_per_span). Callers wanting the
    # typo-proof rejection opt in with ?strict_none.
    compiled = compile_query(points, tsq, now_ms=now_ms,
                             histograms=histograms,
                             rollup_cfg=rollup_cfg, agg_tag=agg_tag,
                             strict_none=_flag(request, "strict_none"))
    # ceilings resolve PER SUB-QUERY: a per-metric override
    # (tsd.query.limits.overrides, QueryLimitOverride.java — regex on the
    # metric name) beats the process default, and an explicit per-request
    # max_* beats both
    dp_limits = [request_limit(request, getattr(q, "metric", None)) for q in tsq.queries]
    # the byte ceiling prices every scan from plan statistics alone
    # (tsd.query.limits.bytes, SaltScanner.java:560-605), so an over-budget
    # range is refused before any job runs
    for q, res in zip(tsq.queries, compiled):
        byte_limit = request_byte_limit(request, getattr(q, "metric", None))
        if res.source_df is not None and byte_limit > 0:
            enforce_byte_budget(res.source_df, byte_limit)
    # resolve -> budget -> one collect: one job per sub-query resolves its
    # matched series (id, tags, point count); the exact scan budget, the
    # annotation lookup and the serializer's tags/aggregateTags/TSUIDs all
    # come from that result, and the data plan runs only once the budget
    # has passed (the reference aborts mid-scan, TsdbQuery.java:527-536)
    resolved = []
    for q, res, q_limit in zip(tsq.queries, compiled, dp_limits):
        series = None
        if res.source_df is not None:
            series = resolve_series(res.source_df)
            enforce_scan_budget([s.points for s in series], q.downsample,
                                start_ms, end_ms, q_limit)
        resolved.append(series)
    ann_map: dict[str, list[dict[str, Any]]] | None = None
    globals_list: list[dict[str, Any]] | None = None
    if annotations is not None and not tsq.no_annotations:
        ann_map = {}
        globals_list = [] if tsq.with_global_annotations else None
        tsuids = tuple(sorted({s.tsuid for ss in resolved if ss for s in ss}))
        if tsuids or tsq.with_global_annotations:
            # the identity filter is a literal over the resolved ids, so the
            # lookup reads only the annotation frame
            rows = annotations_in_range(
                annotations, start_ms, end_ms, tsuids=tsuids,
                include_global=tsq.with_global_annotations,
            ).collect()
        else:
            rows = []
        for r in rows:
            note = {
                "tsuid": r["tsuid"],
                "startTime": int(r["start_time"].timestamp()),
                "endTime": int(r["end_time"].timestamp()) if r["end_time"] else 0,
                "description": r["description"],
                "notes": r["notes"],
                "custom": dict(r["custom"]) if r["custom"] else None,
            }
            if r["tsuid"] is None:
                globals_list.append(note)
            else:
                ann_map.setdefault(r["tsuid"], []).append(note)
        if globals_list is not None:
            globals_list.sort(key=lambda n: n["startTime"])
    out: list[dict[str, Any]] = []
    sub_stats: list[dict[str, Any]] = []
    for sq_idx, (q, res, q_limit, matched) in enumerate(
            zip(tsq.queries, compiled, dp_limits, resolved)):
        echo = subquery_echo(q) if tsq.show_query else None
        ts0 = time.monotonic()
        series = serialize_subquery(
            res, tsq.ms_resolution, q_limit,
            show_tsuids=tsq.show_tsuids, query_echo=echo,
            # per-query stats are attached after serialization timing is known
            stats=None,
            annotations_map=ann_map, global_annotations=globals_list,
            series=matched,
        )
        elapsed_ms = (time.monotonic() - ts0) * 1000.0
        emitted = sum(len(s["dps"]) for s in series)
        st = {
            # the engine-side measurable analogs of the reference's QueryStats
            # (src/tsd/HttpJsonSerializer.java:888-901): per-query wall time
            # covers plan execution + collect + serialization in Spark
            "queryScanAndSerializationTime": elapsed_ms,
            "emittedDPs": emitted,
            "seriesCount": len(series),
        }
        if tsq.show_stats:
            for s in series:
                s["stats"] = st
        if with_subquery_index:
            for s in series:
                s["__subquery_index"] = sq_idx
        sub_stats.append(st)
        out.extend(series)
    if _flag(request, "arrays"):
        # as_arrays output: dps as [[ts, value], ...] — PRESENCE semantics
        # like every other query flag (a bare '?arrays' arrives as '',
        # reference HttpJsonSerializer.java:820-846 checks the param is set)
        for s in out:
            s["dps"] = [[int(k), v] for k, v in s["dps"].items()]
    if tsq.show_summary:
        out.append({
            "statsSummary": {
                "totalTime": (time.monotonic() - t0) * 1000.0,
                "emittedDPs": sum(s["emittedDPs"] for s in sub_stats),
                "queryCount": len(sub_stats),
                "queries": sub_stats,
            }
        })
    return out


def handle_graph(
    points: DataFrame,
    request: dict,
    histograms: DataFrame | None = None,
    annotations: DataFrame | None = None,
    rollup_cfg=None,
) -> dict[str, Any]:
    """/q — the legacy graphing endpoint (reference
    src/tsd/GraphHandler.java:131-147, 938-1015), minus gnuplot.

    Returns one of:
      {"redirect": "/#<qs>"}          no ascii/json/png param — the reference
                                      bounces the browser to the built-in UI
      {"ascii": "<lines>", ...}       ?ascii — one line per data point,
                                      ``metric epoch_sec value tagk=tagv ...``
      {"plotted", "points", "etags", "timing"}
                                      ?json — graph metadata, the exact key
                                      set of GraphHandler.execute()
                                      (GraphHandler.java:394-407); "plotted"
                                      equals "points" because there is no
                                      gnuplot downsampling stage here
      {"png": <bytes>, "points", "plotted", "timing"}
                                      ?png — the rendered image. The
                                      reference shells out to gnuplot
                                      (GraphHandler.java:394-410); here
                                      graph.render_png rasterizes in pure
                                      stdlib, honoring wxh/title/ylabel/
                                      ylog/yrange/nokey/style/bg-fgcolor.
    """
    import time

    t0 = time.monotonic()
    mode = [k for k in ("ascii", "json", "png") if k in request]
    if not mode:
        # percent-encode: m= values carry '{', '}', '|', '*' and filter
        # values may hold spaces/'&' — a raw join would produce an invalid
        # or ambiguous fragment (the reference bounces the original ENCODED
        # query string, GraphHandler.java:131-147)
        from urllib.parse import quote, urlencode

        qs = urlencode(
            {k: v for k, v in request.items() if not k.startswith("_")},
            quote_via=quote,
            doseq=True,  # m=/tsuid= arrive as lists — one pair per element
        )
        return {"redirect": f"/#{qs}"}
    # parameter validation, mirroring GraphHandler's COLOR_VALIDATOR /
    # SMOOTH_VALIDATOR 400s (GraphHandler.java:85-86, 836-858)
    import re as _re

    for cp in ("bgcolor", "fgcolor"):
        v = request.get(cp)
        if isinstance(v, str) and v and not _re.fullmatch(r"[xX][0-9a-fA-F]{6}", v):
            raise ValueError(
                f"'{cp}' was invalid. Must be a hex value e.g. 'xFFFFFF'"
            )
    sm = request.get("smooth")
    if isinstance(sm, str) and sm:
        from opentsdb_spark.graph import SMOOTH_KINDS

        if sm not in SMOOTH_KINDS:
            raise ValueError(
                f"'smooth' was invalid. Must be one of {sorted(SMOOTH_KINDS)}"
            )
    # range / printf-format / legend-key validators
    # (GraphHandler.java:78-88 RANGE/FORMAT/KEY_VALIDATOR, applied at
    # :758-826 for yrange/y2range, yformat/y2format/xformat and key)
    _comp = r'"?-?\d*\.?(\d+)?([eE]-?\d+)?"?'
    for rp in ("yrange", "y2range"):
        v = request.get(rp)
        if isinstance(v, str) and v and not _re.fullmatch(
                rf"\[{_comp}:{_comp}\]", v):
            raise ValueError(
                f"'{rp}' was invalid. Must be in the format [min:max].")
    for fp in ("yformat", "y2format", "xformat"):
        v = request.get(fp)
        if isinstance(v, str) and v and not _re.fullmatch(
                r"[%0-9.a-zA-Z \-]+", v):
            raise ValueError(f"'{fp}' was invalid.")
    sv = request.get("style")
    if isinstance(sv, str) and sv and not (sv == "lines" and not STRICT_STYLE) \
            and not _re.search(r"^linespoint|points|circles|dots$", sv):
        # the reference's STYLE_VALIDATOR verbatim (GraphHandler.java:84),
        # including its loose alternation binding — plus "lines", which this
        # renderer has always supported (a documented engine extension;
        # rejecting it would break previously-working requests). Parity
        # harnesses set tsd.http.graph.strict_style=true to reject "lines"
        # exactly like the reference.
        raise ValueError(
            "'style' was invalid. Must satisfy the pattern "
            "^linespoint|points|circles|dots$"
            + ("" if STRICT_STYLE else " (or 'lines')"))
    kv = request.get("key")
    if isinstance(kv, str) and kv:
        from opentsdb_spark.graph import KEY_TOKENS

        for tok in kv.split():
            if tok not in KEY_TOKENS:  # single source of truth with render_png
                raise ValueError(
                    "'key' was invalid. Must be a combination of "
                    + "|".join(sorted(KEY_TOKENS)))
    # per-sub-query plot options: one o= per m= (GraphHandler.java:213-232
    # — mismatched counts are a 400), appended to each series' plot spec
    # (Plot.java:380-389); "axis x1y2" routes the series to a right-hand
    # second y scale (Plot.java:338-341 "set y2tics border")
    o_list = request.get("o")
    if o_list is not None:
        o_list = o_list if isinstance(o_list, list) else [o_list]
        n_m = len(request["m"]) if isinstance(request.get("m"), list) else (
            1 if request.get("m") else 0
        )
        if n_m and len(o_list) != n_m:
            raise ValueError(
                f"{len(o_list)} `o' parameters, but {n_m} `m' parameters."
            )
    graph_params = (
        "png", "ascii", "json", "wxh", "title", "ylabel", "ylog", "yrange",
        "nokey", "style", "bgcolor", "fgcolor", "smooth", "yformat", "xformat",
        "y2range", "y2label", "y2log", "y2format", "key",
        "o",
        # graph modes consume dps as dicts — strip the arrays output option
        "arrays",
    )
    series = handle_query(
        points, {k: v for k, v in request.items() if k not in graph_params},
        histograms=histograms, annotations=annotations, rollup_cfg=rollup_cfg,
        with_subquery_index=True,
    )
    sq_of = {id(s): s.pop("__subquery_index", None) for s in series}
    npoints = sum(len(s["dps"]) for s in series if "dps" in s)
    if mode[0] == "ascii":
        return {"ascii": graph_ascii(series), "points": npoints}
    if mode[0] == "png":
        from opentsdb_spark.graph import render_png

        if o_list:
            for s in series:
                i = sq_of.get(id(s))
                s["__opts"] = (
                    o_list[i] if i is not None and i < len(o_list) else ""
                )
        png = render_png(series, request)
        return {
            "png": png,
            "plotted": npoints,
            "points": npoints,
            "timing": (time.monotonic() - t0) * 1000.0,
        }
    # ?json: metadata only — etags mirrors the per-subquery aggregated-tag
    # sets (GraphHandler.java:259-262 collects getAggregatedTags per query):
    # one entry per sub-query, grouped by the explicit sub-query index
    by_sq: dict[int, list[str]] = {}
    for s in series:
        if "metric" not in s:
            continue
        i = sq_of[id(s)]
        if i is not None and i not in by_sq:
            by_sq[i] = sorted(s.get("aggregateTags") or [])

    def _as_list(v):
        return v if isinstance(v, list) else ([v] if v else [])

    # one entry PER SUBMITTED sub-query (GraphHandler emits an aggregated-
    # tags set per query) — a sub-query with zero series still holds its
    # slot so consumers can zip etags against what they sent
    n_sub = len(_as_list(request.get("m"))) + len(
        _as_list(request.get("tsuids") or request.get("tsuid"))
    )
    if n_sub:
        etags = [by_sq.get(i, []) for i in range(n_sub)]
    else:
        etags = [by_sq[i] for i in sorted(by_sq)]
    return {
        "plotted": npoints,
        "points": npoints,
        "etags": etags,
        "timing": (time.monotonic() - t0) * 1000.0,
    }


# analog of tsd.http.query.allow_delete (reference QueryRpc.java:96-99:
# DELETE /api/query is rejected unless explicitly enabled)
ALLOW_DELETE = False

# strict reference parity for /q style validation (config
# tsd.http.graph.strict_style): reject style=lines like the reference's
# STYLE_VALIDATOR instead of honoring the engine's documented extension
STRICT_STYLE = False


def handle_query_delete(
    points: DataFrame, request: dict
) -> tuple[list[dict[str, Any]], DataFrame, TSQuery]:
    """DELETE /api/query — returns (query results, retained point frame,
    the parsed TSQuery).

    The reference deletes matched cells while serving the query result
    (QueryRpc.java:148-152); here the caller persists the retained frame
    (e.g. sources.points.write_points) to make the delete durable. The
    TSQuery is returned so a concurrent-safe caller (the TSD daemon) can
    re-apply the SAME parsed delete to its live frame under its lock
    without re-encoding the body-vs-querystring parse rule."""
    if not ALLOW_DELETE:
        raise PermissionError(
            "Deleting data is not enabled (tsd.http.query.allow_delete=false)"
        )
    from opentsdb_spark.plans.planner import delete_matching_points

    tsq = _tsquery_from_body(request) if "queries" in request else parse_query(request)
    results = handle_query(points, request)
    retained = delete_matching_points(points, tsq, now_ms=request.get("_now_ms"))
    return results, retained, tsq


def handle_gexp(points: DataFrame, request: dict) -> list[dict[str, Any]]:
    """GET /api/query/gexp?exp=func(...)&start=...&end=..."""
    now = request.get("_now_ms")
    start = parse_datetime_ms(request["start"], now_ms=now)
    end = parse_datetime_ms(request.get("end"), now_ms=now)
    df = parse_gexp(request["exp"], points, start, end, request.get("timezone", "UTC"))
    gcols = [c for c in df.columns if c not in ("ts", "value", "alias")]
    from opentsdb_spark.parse import gexp_metrics
    from opentsdb_spark.plans.limits import strictest_limit

    rows = _collect_limited(df.orderBy(*gcols, "ts"), strictest_limit(
        request, gexp_metrics(request["exp"], request.get("timezone", "UTC"))))
    out: list[dict[str, Any]] = []
    cur_key, cur = None, None
    for r in rows:
        key = tuple(r[c] for c in gcols)
        if key != cur_key:
            cur = {"metric": request["exp"], "tags": {c: r[c] for c in gcols},
                   "aggregateTags": [], "dps": {}}
            out.append(cur)
            cur_key = key
        cur["dps"][str(int(r["ts"].timestamp()))] = r["value"]
    return out


def handle_exp(points: DataFrame, body: dict) -> dict[str, list[dict]]:
    """POST /api/query/exp (pojo Query shape, src/query/pojo/Query.java)."""
    from opentsdb_spark.plans.expquery import compile_exp_query

    t = body["time"]
    ds = None
    if t.get("downsampler"):
        from opentsdb_spark.parse import _parse_downsample

        d = t["downsampler"]
        ds = _parse_downsample(f"{d['interval']}-{d['aggregator']}", "UTC")
    metrics = []
    for m in body.get("metrics", []):
        filters = tuple(
            TagFilter(f["type"], f["tagk"], f.get("filter", ""), bool(f.get("groupBy")))
            for fs in body.get("filters", []) if fs["id"] == m.get("filter")
            for f in fs.get("tags", [])
        )
        fp = m.get("fillPolicy", {})
        metrics.append(ExpMetric(
            id=m["id"], metric=m["metric"],
            aggregator=m.get("aggregator", t.get("aggregator", "sum")),
            downsample=ds, filters=filters,
            fill_policy=FillPolicy(fp.get("policy", "zero"), float(fp.get("value", 0.0))),
        ))
    exprs = tuple(
        ExpExpression(
            id=e["id"], expr=e["expr"],
            join=ExpJoin(e.get("join", {}).get("operator", "intersection")),
        )
        for e in body.get("expressions", [])
    )
    eq = ExpQuery(start=t["start"], end=t.get("end"), metrics=tuple(metrics),
                  expressions=exprs, outputs=tuple(o["id"] for o in body.get("outputs", [])))
    results = compile_exp_query(points, eq)
    out = {}
    from opentsdb_spark.plans.limits import strictest_limit

    limit = strictest_limit(body, [m.metric for m in metrics])
    for eid, df in results.items():
        gcols = [c for c in df.columns if c not in ("ts", "value")]
        out[eid] = [r.asDict() for r in _collect_limited(df.orderBy(*gcols, "ts"), limit)]
    return out


def handle_last(points: DataFrame, request: dict) -> list[dict[str, Any]]:
    back_scan = request.get("back_scan")
    back_ms = parse_duration_ms(f"{back_scan}h") if back_scan else None
    df = last_points(points, request.get("metric"), back_ms, request.get("_now_ms"))
    return [r.asDict() for r in _collect_limited(
        df, request_limit(request, request.get("metric")))]


def handle_suggest(points: DataFrame, request: dict) -> list[str]:
    df = suggest(points, request.get("type", "metrics"), request.get("q", ""),
                 int(request.get("max", SUGGEST_MAX)))
    return [r["name"] for r in df.collect()]


def handle_lookup(points: DataFrame, request: dict) -> list[dict[str, Any]]:
    tags = {t["key"]: t.get("value") for t in request.get("tags", [])}
    df = lookup(points, request.get("metric"), tags)
    return [
        {"series_id": r["series_id"], "metric": r["metric"], "tags": dict(r["tags"])}
        for r in _collect_limited(df, request_limit(request, request.get("metric")))
    ]


def handle_search(
    points: DataFrame, request: dict, annotations: DataFrame | None = None
) -> dict[str, Any]:
    """/api/search/<type> (reference src/tsd/SearchRpc.java:60-93). A
    registered SearchPlugin takes precedence (execute_query over the point
    frame); otherwise the built-in search_meta serves the standard types.
    Response mirrors formatSearchResultsV1: type/query/limit/startIndex/
    totalResults/results."""
    import time as _time

    from opentsdb_spark.operators.metadata import SEARCH_PLUGINS, search_meta

    search_type = request.get("type", "tsmeta")
    query = request.get("query", "")
    limit = int(request.get("limit", 25))
    start_index = int(request.get("start_index", 0))
    t0 = _time.time()
    for plugin in SEARCH_PLUGINS:
        try:
            df = plugin.execute_query(points, request)
            break
        except NotImplementedError:
            continue
    else:
        df = search_meta(points, search_type, query, annotations=annotations)
    total = df.count()
    rows = df.offset(start_index).limit(limit).collect()
    results: list[Any]
    if search_type == "tsuids":
        results = [r["tsuid"] for r in rows]
    else:
        results = [
            {k: (dict(v) if isinstance(v, dict) else v) for k, v in r.asDict().items()}
            for r in rows
        ]
    return {
        "type": search_type,
        "query": query,
        "limit": limit,
        "startIndex": start_index,
        "totalResults": total,
        "results": results,
        "time": round((_time.time() - t0) * 1000, 1),
    }


def handle_annotation_query(annotations: DataFrame, request: dict) -> list[dict[str, Any]]:
    from opentsdb_spark.operators.annotations import annotations_in_range

    df = annotations_in_range(
        annotations,
        parse_datetime_ms(request["start_time"]),
        parse_datetime_ms(request.get("end_time")),
        tsuids=tuple(request.get("tsuids", ())),
        include_global=bool(request.get("global", True)),
    )
    return [r.asDict() for r in _collect_limited(df, request_limit(request))]


def _json_lines_frame(spark, body) -> tuple[DataFrame, int]:
    import json as _json

    dps = body if isinstance(body, list) else [body]
    # a LocalRelation: the parse job then needs no Python worker
    lines = arrow_df(spark, pa.table(
        {"value": pa.array([_json.dumps(dp) for dp in dps], pa.string())}))
    return lines, len(dps)


def handle_put(
    spark, body, request: dict | None = None
) -> tuple[dict[str, Any], pa.Table]:
    """POST /api/put (reference src/tsd/PutDataPointRpc.java:300-540): body
    is one IncomingDataPoint object or an array. Returns (response, valid
    points as an Arrow table). The batch is parsed, validated and
    materialized in one Spark job (``toArrow``), so the caller stores the
    points without re-parsing them.
    Response carries success/failed counts (?summary) and per-point errors
    (?details), mirroring the reference's shapes."""
    from opentsdb_spark.auth import check_permission
    from opentsdb_spark.streaming.ingest import apply_ingest_filters, parse_put_json

    request = request or {}
    check_permission(request, "HTTP_PUT")  # no-op unless auth is enabled
    lines, n_total = _json_lines_frame(spark, body)
    table = apply_ingest_filters(parse_put_json(lines)).toArrow()
    n_ok = table.num_rows
    resp: dict[str, Any] = {"success": n_ok, "failed": n_total - n_ok}
    if request.get("details"):
        ok_keys = set(zip(
            table.column("metric").to_pylist(),
            # timestamps arrive as UTC microseconds; keys compare in ms
            [None if t is None else t // 1000
             for t in table.column("ts").cast(pa.int64()).to_pylist()],
            [None if v is None else round(v, 9)
             for v in table.column("value").to_pylist()],
        ))
        errors = []
        for dp in body if isinstance(body, list) else [body]:
            try:
                ts = int(dp.get("timestamp"))
                ts_ms = ts if ts >= 1_000_000_000_000 else ts * 1000
                v = round(float(dp.get("value")), 9)
            except (TypeError, ValueError):
                errors.append({"error": "Unable to parse value to a number", "datapoint": dp})
                continue
            if (dp.get("metric"), ts_ms, v) not in ok_keys:
                errors.append({"error": "Illegal argument: invalid metric, tags or filter reject",
                               "datapoint": dp})
        resp["errors"] = errors
    return resp, table


def handle_rollup_put(spark, body, request: dict | None = None) -> tuple[dict[str, Any], DataFrame]:
    """POST /api/rollup (reference src/tsd/RollupDataPointRpc.java): rollup
    points with (interval, aggregator) routing. Same response contract as
    handle_put."""
    from opentsdb_spark.streaming.ingest import parse_rollup_json

    lines, n_total = _json_lines_frame(spark, body)
    points = parse_rollup_json(lines)
    n_ok = points.count()
    return {"success": n_ok, "failed": n_total - n_ok}, points


def handle_histogram_put(spark, body, request: dict | None = None) -> tuple[dict[str, Any], DataFrame]:
    """POST /api/histogram (reference src/tsd/HistogramDataPointRpc.java)."""
    from opentsdb_spark.streaming.ingest import parse_histogram_json

    lines, n_total = _json_lines_frame(spark, body)
    points = parse_histogram_json(lines)
    n_ok = points.count()
    return {"success": n_ok, "failed": n_total - n_ok}, points


def _ann_body_key(body: dict) -> tuple[str | None, int]:
    start = body.get("startTime", body.get("start_time"))
    if start is None:
        raise ValueError("annotation needs startTime")
    return body.get("tsuid"), parse_datetime_ms(start)


def handle_annotation_edit(
    annotations: DataFrame, method: str, body: dict
) -> tuple[dict[str, Any] | None, DataFrame]:
    """POST/PUT/DELETE /api/annotation (reference src/tsd/AnnotationRpc.java:
    60-156: POST merges fields, PUT replaces the record, DELETE removes it).
    Returns (echo of the stored record or None on delete, updated frame)."""
    from opentsdb_spark.operators.annotations import delete_annotation, upsert_annotation
    from opentsdb_spark.operators.metadata import notify_search_plugins

    tsuid, start_ms = _ann_body_key(body)
    if method == "DELETE":
        # reference TSDB.deleteAnnotation fans out to the search plugin
        # (src/core/TSDB.java:1100-1160 analog for notes)
        notify_search_plugins("delete_annotation", tsuid, start_ms)
        return None, delete_annotation(annotations, tsuid, start_ms)
    end = body.get("endTime", body.get("end_time"))
    out = upsert_annotation(
        annotations, tsuid, start_ms,
        end_ms=parse_datetime_ms(end) if end is not None else None,
        description=body.get("description"), notes=body.get("notes"),
        custom=body.get("custom"), replace=(method == "PUT"),
    )
    key = (F.col("tsuid") == tsuid) if tsuid else F.col("tsuid").isNull()
    touched = out.where(key & (F.unix_millis("start_time") == start_ms))
    notify_search_plugins("index_annotation", touched)
    stored = touched.collect()
    return (stored[0].asDict() if stored else None), out


def handle_annotation_bulk_update(
    annotations: DataFrame, method: str, body: Any
) -> tuple[list[dict[str, Any]], DataFrame]:
    """POST/PUT /api/annotation/bulk (reference AnnotationRpc
    executeBulkUpdate:158-200): create/update a LIST of annotations in one
    call; the response echoes the stored records in request order.
    Deletions stay on the DELETE bulk endpoint."""
    if not isinstance(body, list):
        raise ValueError("bulk annotation update requires a JSON array body")
    stored: list[dict[str, Any]] = []
    frame = annotations
    for note in body:
        echo, frame = handle_annotation_edit(frame, method, note)
        if echo is not None:
            stored.append(echo)
    return stored, frame


def handle_annotation_bulk_delete(
    annotations: DataFrame, body: dict
) -> tuple[dict[str, Any], DataFrame]:
    """DELETE /api/annotation/bulk (reference AnnotationRpc bulk delete):
    time range x (tsuids | global). Echoes the request with totalDeleted."""
    from opentsdb_spark.operators.annotations import bulk_delete_annotations

    start = body.get("startTime", body.get("start_time"))
    if start is None:
        # destructive endpoint: a missing start must not default to 'now'
        # (reference AnnotationRpc bulk delete 400s on a missing start time)
        raise ValueError("Missing start time for bulk annotation delete")
    start_ms = parse_datetime_ms(start)
    end_ms = parse_datetime_ms(body.get("endTime", body.get("end_time")))
    tsuids = tuple(body.get("tsuids", ()))
    global_ = bool(body.get("global", False))
    before = annotations.count()
    out = bulk_delete_annotations(annotations, start_ms, end_ms, tsuids, global_)
    return (
        {"startTime": start_ms, "endTime": end_ms, "tsuids": list(tsuids),
         "global": global_, "totalDeleted": before - out.count()},
        out,
    )


def handle_uidmeta_edit(
    meta: DataFrame | None, method: str, body: dict, spark=None
) -> tuple[dict[str, Any] | None, DataFrame | None]:
    """POST/DELETE /api/uid/uidmeta (reference src/tsd/UniqueIdRpc.java:
    223-285). Keyed by (type, name); POST merges editable fields."""
    from opentsdb_spark.operators.metadata import notify_search_plugins
    from opentsdb_spark.operators.uid import uidmeta_delete, uidmeta_upsert

    kind = {"metric": "metrics"}.get(body.get("type"), body.get("type"))
    name = body.get("name")
    if method == "DELETE":
        notify_search_plugins("delete_uidmeta", kind, name)
        return None, uidmeta_delete(meta, kind, name)
    out = uidmeta_upsert(
        meta, kind, name,
        description=body.get("description"), notes=body.get("notes"),
        display_name=body.get("displayName", body.get("display_name")),
        custom=body.get("custom"), spark=spark,
    )
    touched = out.where((F.col("kind") == kind) & (F.col("name") == name))
    notify_search_plugins("index_uidmeta", touched)
    stored = touched.collect()
    return (stored[0].asDict() if stored else None), out


def handle_tsmeta_edit(
    meta: DataFrame | None, method: str, body: dict, spark=None
) -> tuple[dict[str, Any] | None, DataFrame | None]:
    """POST/DELETE /api/uid/tsmeta (reference UniqueIdRpc.java:287-380)."""
    from opentsdb_spark.operators.metadata import notify_search_plugins
    from opentsdb_spark.operators.uid import tsmeta_delete, tsmeta_upsert

    tsuid = body.get("tsuid")
    if method == "DELETE":
        notify_search_plugins("delete_tsmeta", [tsuid])
        return None, tsmeta_delete(meta, tsuid)
    fields = {k: body[k] for k in ("description", "notes", "units", "data_type",
                                   "retention", "max", "min", "custom") if k in body}
    out = tsmeta_upsert(meta, tsuid, spark=spark, **fields)
    touched = out.where(F.col("tsuid") == tsuid)
    notify_search_plugins("index_tsmeta", touched)
    stored = touched.collect()
    return (stored[0].asDict() if stored else None), out


def handle_uid_rename(points: DataFrame, body: dict) -> DataFrame:
    """POST /api/uid/rename (reference UniqueIdRpc.java:160-221): rewrites
    the point frame under the new name (the reference rewrites the UID
    mapping; with names inlined, the rename IS a frame rewrite)."""
    from opentsdb_spark.operators.uid import rename_metric, rename_tagk, rename_tagv

    kind, old, new = body.get("kind"), body.get("old"), body.get("name")
    if not (kind and old and new):
        raise ValueError("rename needs kind, old, name")
    if kind == "metric":
        return rename_metric(points, old, new)
    if kind == "tagk":
        return rename_tagk(points, old, new)
    if kind == "tagv":
        return rename_tagv(points, body.get("tagk"), old, new)
    raise ValueError(f"unknown rename kind {kind!r}")


def _parse_tree_rules(rules: list[dict]) -> tuple:
    from opentsdb_spark.operators.tree import TreeRule

    return tuple(
        TreeRule(
            type=r["type"], field=r.get("field", ""),
            separator=r.get("separator"), regex=r.get("regex"),
            regex_group_idx=int(r.get("regexGroupIdx", r.get("regex_group_idx", 1))),
            display_format=r.get("displayFormat", r.get("display_format")),
        )
        for r in rules
    )


def handle_tree(points: DataFrame, request: dict) -> Any:
    """/api/tree ad-hoc evaluation + /api/tree/branch (reference
    src/tsd/TreeRpc.java). With an inline rule set the evaluation is
    stateless (the reference's /api/tree/test analog over the live series
    set); stored trees with collision/not-matched bookkeeping live in a
    TreeStore (handle_tree_edit / handle_tree_family)."""
    from opentsdb_spark.operators.tree import build_tree, tree_branch, tree_branches

    rules = _parse_tree_rules(request.get("rules", ()))
    leaves = build_tree(points, rules, strict_match=bool(request.get("strictMatch",
                                                                     request.get("strict_match"))))
    if "branch" in request:
        return tree_branch(leaves, tuple(request["branch"]))
    return [r.asDict() for r in _collect_limited(tree_branches(leaves), request_limit(request))]


# process-wide stored trees (reference: tree rows in the UID table)
from opentsdb_spark.operators.tree import TreeStore  # noqa: E402

TREES = TreeStore()


def handle_tree_edit(method: str, body: dict, store: TreeStore | None = None) -> Any:
    """POST/PUT/DELETE /api/tree on the STORED tree set, GET to list —
    mirrors TreeRpc.handleTree (create needs a name; edit by treeId;
    DELETE wipes the tree's built rows)."""
    store = store or TREES
    method = method.upper()
    if method == "GET":
        tid = body.get("treeId", body.get("tree"))
        if tid is not None:
            return _tree_to_dict(store.trees[int(tid)])
        return [_tree_to_dict(t) for _, t in sorted(store.trees.items())]
    if method == "DELETE":
        store.delete(int(body["treeId"]))
        return {}
    from opentsdb_spark.operators.tree import TreeDef

    fields = dict(
        name=body.get("name", ""), description=body.get("description", ""),
        notes=body.get("notes", ""),
        strict_match=bool(body.get("strictMatch", body.get("strict_match", False))),
        enabled=bool(body.get("enabled", True)),
        store_failures=bool(body.get("storeFailures", body.get("store_failures", False))),
        rules=_parse_tree_rules(body.get("rules", ())),
    )
    tid = body.get("treeId", body.get("tree"))
    if method == "POST" and tid is not None and int(tid) in store.trees:
        # POST on an existing tree edits only the provided fields (TreeRpc:
        # POST modifies, PUT replaces); PUT falls through to create/replace
        aliases = {
            "name": ("name",), "description": ("description",),
            "notes": ("notes",), "strict_match": ("strictMatch", "strict_match"),
            "enabled": ("enabled",),
            "store_failures": ("storeFailures", "store_failures"),
            "rules": ("rules",),
        }
        updates = {
            snake: fields[snake]
            for snake, keys in aliases.items() if any(k in body for k in keys)
        }
        return _tree_to_dict(store.edit(int(tid), **updates))
    if method == "PUT" and tid is not None and int(tid) in store.trees:
        store.delete(int(tid))
    t = store.create(TreeDef(tree_id=int(tid) if tid is not None else 0, **fields))
    return _tree_to_dict(t)


def _tree_to_dict(t) -> dict:
    return {
        "treeId": t.tree_id, "name": t.name, "description": t.description,
        "notes": t.notes, "strictMatch": t.strict_match, "enabled": t.enabled,
        "storeFailures": t.store_failures,
        "rules": [
            {"type": r.type, "field": r.field, "separator": r.separator,
             "regex": r.regex, "regexGroupIdx": r.regex_group_idx,
             "displayFormat": r.display_format}
            for r in t.rules
        ],
    }


def handle_tree_rebuild(points: DataFrame, body: dict,
                        store: TreeStore | None = None) -> dict:
    """Run the stored tree over the series set and persist its built rows
    (the reference's TreeSync sweep / TreeBuilder processTimeseriesMeta)."""
    store = store or TREES
    state = store.rebuild(int(body["treeId"]), points)
    return {"treeId": int(body["treeId"]), "stored": sorted(state)}


def handle_tree_family(body: dict, store: TreeStore | None = None) -> list[dict]:
    """/api/tree/collisions + /api/tree/notmatched (TreeRpc
    handleCollisionNotMatched): the recorded failures of the last build.
    Optional 'tsuids' narrows to specific series ids."""
    store = store or TREES
    family = body.get("family", "collisions")
    key = {"collisions": "collisions", "notmatched": "not_matched"}[family]
    df = store.built(int(body["treeId"]), key)
    tsuids = body.get("tsuids")
    if tsuids:
        df = df.where(F.col("series_id").isin(list(tsuids)))
    return [r.asDict() for r in df.orderBy("series_id").collect()]


def handle_uid_assign(
    registry: DataFrame | None, request: dict, spark=None
) -> tuple[dict[str, Any], DataFrame]:
    """/api/uid/assign (GET comma-lists or POST arrays, reference
    src/tsd/UniqueIdRpc.java:107-160). Returns (response JSON, updated
    registry frame) — the caller persists the registry."""
    from opentsdb_spark.operators.uid import uid_assign

    requests: dict[str, list[str]] = {}
    for kind in ("metric", "tagk", "tagv"):
        v = request.get(kind)
        if isinstance(v, str):
            v = [s for s in v.split(",") if s]
        if v:
            requests[kind] = list(v)
    return uid_assign(registry, requests, spark=spark)


def handle_aggregators(*_a) -> list[str]:
    return sorted(AGGREGATORS)


def handle_version(*_a) -> dict[str, str]:
    return {"version": opentsdb_spark.__version__, "engine": "opentsdb-spark"}


def handle_config(spark, *_a) -> dict[str, str]:
    """/api/config — the loaded opentsdb.conf map when one was applied
    (reference ShowConfig serves the tsd config), else the Spark conf."""
    from opentsdb_spark.config import LOADED

    if LOADED:
        return dict(LOADED)
    return {k: v for k, v in spark.sparkContext.getConf().getAll()}


def handle_stats(spark, *_a) -> dict[str, Any]:
    """/api/stats — engine counters (the reference reports TSD counters;
    here: Spark executor/job metrics relevant to query serving)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    return {
        "active_jobs": len(tracker.getActiveJobsIds()),
        "default_parallelism": sc.defaultParallelism,
        "executor_count": len([e for e in sc._jsc.sc().statusTracker().getExecutorInfos()]),
        "applicationId": sc.applicationId,
    }


def handle_stats_threads(*_a) -> list[dict[str, Any]]:
    """/api/stats/threads (reference StatsRpc.printThreadStats,
    src/tsd/StatsRpc.java:180-200: one map per live thread with name/state/
    priority/stack) — here the daemon's Python threads."""
    import sys
    import threading
    import traceback

    frames = sys._current_frames()
    out = []
    for t in threading.enumerate():
        fr = frames.get(t.ident)
        out.append({
            "threadID": t.ident,
            "name": t.name,
            "state": "RUNNABLE" if t.is_alive() else "TERMINATED",
            "daemon": t.daemon,
            "interrupted": False,
            "priority": 5,  # python threads have no priority; JVM default
            "stack": traceback.format_stack(fr) if fr else [],
        })
    return out


def handle_stats_jvm(spark, *_a) -> dict[str, Any]:
    """/api/stats/jvm (reference StatsRpc.printJVMStats: runtime/memory/GC
    maps) — the Spark driver JVM's runtime + memory plus the python
    process's view."""
    import os as _os
    import time as _time

    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    rmx = mx.getRuntimeMXBean()
    return {
        "runtime": {
            "startTime": rmx.getStartTime(),
            "uptime": rmx.getUptime(),
            "vmName": rmx.getVmName(),
            "vmVersion": rmx.getVmVersion(),
            "pid": _os.getpid(),
            "currentTime": int(_time.time() * 1000),
        },
        "memory": {
            "totalMemory": rt.totalMemory(),
            "freeMemory": rt.freeMemory(),
            "maxMemory": rt.maxMemory(),
            "availableProcessors": rt.availableProcessors(),
        },
    }


def handle_stats_region_clients(spark, *_a) -> list[dict[str, Any]]:
    """/api/stats/region_clients (reference StatsRpc.printRegionClientStats:
    one map per HBase region-server client). The storage layer here is
    Spark executors over Parquet, so the analogous per-storage-worker view
    is the executor list."""
    infos = spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos()
    return [
        {
            "executorHost": e.host(),
            "numRunningTasks": e.numRunningTasks(),
            "usedOnHeapStorageMemory": e.usedOnHeapStorageMemory(),
            "totalOnHeapStorageMemory": e.totalOnHeapStorageMemory(),
            "dead": False,
            "pendingBreachedThreshold": False,
        }
        for e in infos
    ]


def handle_dropcaches(spark, *_a) -> dict[str, str]:
    """/api/dropcaches — clears Spark's SQL plan/data caches (the reference
    drops its UID LRU caches; we have no UID caches by design)."""
    spark.catalog.clearCache()
    return {"status": "200", "message": "caches dropped"}


# ------------------------------------------------------------------- /logs --

class _RingBufferHandler:
    """Stdlib logging handler holding the last N formatted records — the
    analog of the reference's CyclicBufferAppender read by LogsRpc
    (src/tsd/LogsRpc.java:44-75). Installed lazily on the package logger by
    handle_logs; level changes via ?level= mirror LogsRpc's POST."""

    _instance = None

    def __init__(self, capacity: int = 1024):
        import collections
        import logging

        class _H(logging.Handler):
            def __init__(self, buf):
                super().__init__()
                self.buf = buf
                self.setFormatter(logging.Formatter(
                    "%(asctime)s %(levelname)s [%(threadName)s] "
                    "%(name)s: %(message)s"
                ))

            def emit(self, record):
                try:
                    self.buf.append(self.format(record))
                except Exception:  # noqa: BLE001 — never break the app on log
                    pass

        self.buf = collections.deque(maxlen=capacity)
        self.handler = _H(self.buf)
        logging.getLogger("opentsdb_spark").addHandler(self.handler)

    @classmethod
    def instance(cls) -> "_RingBufferHandler":
        if cls._instance is None:
            cls._instance = cls()
        return cls._instance


def handle_logs(request: dict) -> Any:
    """/logs (reference src/tsd/LogsRpc.java): newest-first buffered log
    lines; ?json returns a JSON array, ?level=LEVEL switches the package
    log level (DEBUG/INFO/WARN/ERROR, logback names accepted)."""
    import logging

    rb = _RingBufferHandler.instance()
    if "level" in request and request["level"]:
        name = str(request["level"]).upper()
        level = {"TRACE": logging.DEBUG, "WARN": logging.WARNING}.get(
            name, logging.getLevelName(name)
        )
        if not isinstance(level, int):
            raise ValueError(f"Invalid level: {request['level']}")
        logging.getLogger("opentsdb_spark").setLevel(level)
        return {"status": "200", "message": f"level set to {name}"}
    lines = list(rb.buf)[::-1]  # newest first, like LogIterator
    if "json" in request:
        return lines
    return "\n".join(lines) + ("\n" if lines else "")


# --------------------------------------------------- HttpRpcPlugin surface --

HTTP_PLUGINS: dict[str, Any] = {}


def register_http_plugin(path: str, fn) -> None:
    """Mount a plugin HTTP handler under /plugin/<path> (reference
    RpcManager.PLUGIN_BASE_WEBPATH, src/tsd/RpcManager.java:86-99 and
    HttpRpcPlugin.java). fn(method, request, body) -> JSON-able."""
    HTTP_PLUGINS[path.strip("/")] = fn


def handle_plugin(method: str, path: str, request: dict, body: Any) -> Any:
    """Dispatch /plugin/<subpath> to the registered handler with the
    longest matching prefix (plugins may claim a subtree)."""
    sub = path.split("/plugin/", 1)[1].strip("/") if "/plugin/" in path else ""
    probe = sub
    while True:
        if probe in HTTP_PLUGINS:
            return HTTP_PLUGINS[probe](method, request, body)
        if "/" not in probe:
            break
        probe = probe.rsplit("/", 1)[0]
    raise FileNotFoundError(f"no plugin mounted at /plugin/{sub}")
