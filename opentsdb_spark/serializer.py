"""OpenTSDB JSON response serialization.

Reproduces the /api/query response shape (reference
src/tsd/HttpJsonSerializer.java:743-866): one object per result series:

    {"metric": ..., "tags": {groupKey: value, ...},
     "aggregateTags": [tagk aggregated away, ...],
     "dps": {"<epoch_sec>": value, ...}}   # chronological key order (:771)

This is the API boundary — the one place results are collected to the
driver (post-aggregation output is small by construction). A sub-query
runs two actions here: ``resolve_series`` (one row per matched series, from
which the caller prices the budget and looks up annotations, and from which
``tags``/``aggregateTags``/TSUIDs are derived) and the one collect of the
data plan. Over the TSD's served frame, which holds one partition for a
base of one file split, each action is one Spark job with no shuffle or
broadcast, a zero-filled downsample included. Over a frame of several
partitions, AQE adds a job per shuffle stage.
"""

from __future__ import annotations

from typing import Any, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentsdb_spark.plans.limits import enforce_data_point_limit
from opentsdb_spark.plans.planner import CompiledSubQuery
from opentsdb_spark.sources.points import series_id_col


class Series(NamedTuple):
    """One source series a sub-query matched (the reference's TSMeta)."""

    tsuid: str
    metric: str
    tags: dict[str, str]
    points: int  # matched data points in the query range


def resolve_series(source_df: DataFrame) -> list[Series]:
    """The matched series of a sub-query's filtered pre-aggregation frame:
    one small aggregate job, so every per-series fact of the request (scan
    budget, aggregateTags, TSUIDs, annotation matches) comes from one pass.
    It groups on the series' own columns (maps with the same entries in
    any order are one key) and formats each TSUID once per series."""
    rows = (
        source_df.groupBy("metric", "tags")
        .agg(F.count("*").alias("points"))
        .select(series_id_col("metric", "tags").alias("tsuid"), "metric", "tags", "points")
        .collect()
    )
    return [Series(r["tsuid"], r["metric"], dict(r["tags"] or {}), r["points"])
            for r in rows]


def _output_groups(
    series: list[Series], group_tagks: tuple[str, ...]
) -> dict[tuple, tuple[dict[str, str], list[str], list[str]]]:
    """Output key -> (tags, aggregateTags, sorted TSUIDs). The tag partition
    is the reference's SpanGroup.computeTags (src/core/SpanGroup.java:
    348-386): a key whose value is IDENTICAL across every underlying series
    that has it stays in ``tags``; a key seen with >= 2 values moves to
    ``aggregateTags``."""
    members: dict[tuple, list[Series]] = {}
    for s in series:
        key = (s.metric, *(s.tags.get(k) for k in group_tagks))
        members.setdefault(key, []).append(s)
    out = {}
    for key, group in members.items():
        values: dict[str, set[str]] = {}
        for s in group:
            for k, v in s.tags.items():
                vs = values.setdefault(k, set())
                if v is not None:
                    vs.add(v)
        tags = {k: next(iter(vs)) for k, vs in sorted(values.items()) if len(vs) == 1}
        atags = sorted(k for k, vs in values.items() if len(vs) != 1)
        out[key] = (tags, atags, sorted(s.tsuid for s in group))
    return out


def _spark_order(row) -> tuple:
    """Sort key matching Spark's ascending orderBy: nulls first, strings in
    code-point (UTF-8 byte) order."""
    return tuple((v is not None, v) for v in row)


def serialize_subquery(
    result: CompiledSubQuery,
    ms_resolution: bool = False,
    max_data_points: int = 0,
    show_tsuids: bool = False,
    query_echo: dict[str, Any] | None = None,
    stats: dict[str, Any] | None = None,
    annotations_map: dict[str, list[dict[str, Any]]] | None = None,
    global_annotations: list[dict[str, Any]] | None = None,
    series: list[Series] | None = None,
) -> list[dict[str, Any]]:
    """``show_tsuids`` adds the sorted TSUID list per output series
    (HttpJsonSerializer.java:766-776); ``query_echo`` is attached as the
    ``query`` field when show_query is set (:763-765); ``stats`` is attached
    as the ``stats`` field when show_stats is set (:888-901);
    ``annotations_map`` (tsuid -> notes) attaches the notes of each output
    series' source TSUIDs, and ``global_annotations`` is repeated per
    series — both matching HttpJsonSerializer.java:778-811. ``series`` is
    the sub-query's ``resolve_series`` result when the caller already ran
    it; otherwise it is resolved here.

    The data plan runs once, as ``limit(n+1).collect()`` under a data-point
    ceiling n (reference TsdbQuery.java:527-536 aborts over-limit queries
    instead of OOMing the serving layer); the bounded rows are then sorted
    on the driver in the order Spark's ``orderBy`` would give."""
    gk = list(result.group_tagks)
    none = result.aggregator == "none"
    key_cols = ["series_id"] if none else ["metric", *gk]
    out_df = result.df.withColumn("__t", F.unix_millis("ts")).select(
        *key_cols, "metric", "__t", "value"
    )
    if max_data_points > 0:
        rows = out_df.limit(max_data_points + 1).collect()
    else:
        rows = out_df.collect()
    enforce_data_point_limit(rows, max_data_points)
    nk = len(key_cols)
    rows.sort(key=lambda r: (*_spark_order(r[:nk]), r[nk + 1]))
    groups = {}
    if result.source_df is not None:
        if series is None:
            series = resolve_series(result.source_df)
        if none:
            # one output series == one source series, keyed by its TSUID:
            # its own full tag map, nothing aggregated
            groups = {(s.tsuid,): (dict(sorted(s.tags.items())), [], [s.tsuid])
                      for s in series}
        else:
            groups = _output_groups(series, result.group_tagks)
    out: list[dict[str, Any]] = []
    cur_key: tuple | None = None
    cur: dict[str, Any] | None = None
    for r in rows:
        key, metric, t, value = r[:nk], r[nk], r[nk + 1], r[nk + 2]
        if key != cur_key:
            tags, atags, series_tsuids = groups.get(key, ({}, [], []))
            cur = {"metric": metric, "tags": tags, "aggregateTags": atags, "dps": {}}
            if query_echo is not None:
                cur["query"] = query_echo
            if show_tsuids:
                cur["tsuids"] = series_tsuids
            if annotations_map is not None:
                notes = [n for sid in series_tsuids for n in annotations_map.get(sid, [])]
                cur["annotations"] = sorted(notes, key=lambda n: n["startTime"])
            if global_annotations is not None:
                cur["globalAnnotations"] = global_annotations
            if stats is not None:
                cur["stats"] = stats
            out.append(cur)
            cur_key = key
        assert cur is not None
        cur["dps"][str(t if ms_resolution else t // 1000)] = value
    return out


def subquery_echo(q) -> dict[str, Any]:
    """Echo a SubQuery in the reference's TSSubQuery JSON field naming
    (Jackson output of src/core/TSSubQuery.java getters)."""
    return {
        "aggregator": q.aggregator,
        "metric": q.metric,
        "tsuids": list(q.tsuids) or None,
        "downsample": None if q.downsample is None else (
            f"{q.downsample.interval_ms}ms-{q.downsample.aggregator}"
            if not q.downsample.calendar
            else f"{q.downsample.calendar_n}{q.downsample.calendar_unit}c-{q.downsample.aggregator}"
        ),
        "rate": q.rate is not None,
        "explicitTags": q.explicit_tags,
        "filters": [
            {"tagk": f.tagk, "filter": f.filter, "type": f.type, "groupBy": f.group_by}
            for f in q.filters
        ],
    }


def _java_double_str(v: float) -> str:
    """Java ``Double.toString`` shape: plain decimal in [1e-3, 1e7), else
    E-notation with one leading digit (``1.234E8``). Both sides print the
    shortest decimal that round-trips, so inside the plain range Python's
    repr matches; outside we rebuild Java's exponent form."""
    a = abs(v)
    if a == 0.0 or (1e-3 <= a < 1e7):
        s = repr(v)
        if "e" in s or "E" in s:  # python switches earlier for tiny values
            return _java_e_notation(v)
        return s if "." in s else s + ".0"
    return _java_e_notation(v)


def _java_e_notation(v: float) -> str:
    mant, _, exp = f"{v:.17e}".partition("e")
    # shortest mantissa that still round-trips, Java-style (no + on exponent)
    exp_i = int(exp)
    for prec in range(17):
        cand = f"{v:.{prec}e}"
        if float(cand) == v:
            m, _, _ = cand.partition("e")
            if "." not in m:
                m += ".0"
            return f"{m}E{exp_i}"
    m = mant
    return f"{m}E{exp_i}"


def graph_ascii(results: list[dict[str, Any]]) -> str:
    """The /q?ascii payload: ONE line per data point —

        ``<metric> <epoch_sec> <value> [<tagk>=<tagv> ...]``

    (reference src/tsd/GraphHandler.java:938-1015: printMetricHeader +
    value + tag buffer). Reference semantics kept: NaN points are skipped,
    infinite values abort the whole response (GraphHandler.java:976-983
    throws IllegalStateException), integral values print without a decimal
    point when the point carried a long (here: when the double is integral —
    the engine's aggregates are double-valued), doubles print in Java
    Double.toString form. Tags print sorted (the reference iterates a
    HashMap — unspecified order; sorted is deterministic)."""
    lines: list[str] = []
    for series in results:
        if "metric" not in series:  # statsSummary trailer etc.
            continue
        tagbuf = "".join(
            f" {k}={v}" for k, v in sorted(series.get("tags", {}).items())
        )
        for ts, v in series["dps"].items():
            fv = float(v)
            if fv != fv:  # NaN
                continue
            if fv in (float("inf"), float("-inf")):
                raise ValueError(f"Infinity: {fv} at ts={ts}")
            val = str(int(fv)) if fv.is_integer() and abs(fv) < 2**63 else _java_double_str(fv)
            lines.append(f"{series['metric']} {ts} {val}{tagbuf}")
    return "\n".join(lines) + ("\n" if lines else "")


def ascii_table(results: list[dict[str, Any]], max_rows: int = 40) -> str:
    """Render query results as an ASCII table (the reference's 'ascii'
    serializer / CliQuery text output, src/tsd/GraphHandler.java:394-410)."""
    lines = []
    for series in results:
        if "metric" not in series:  # statsSummary trailer etc.
            continue
        tags = ",".join(f"{k}={v}" for k, v in sorted(series.get("tags", {}).items()))
        header = f"{series['metric']}{{{tags}}}"
        if series.get("aggregateTags"):
            header += f"  (aggregated: {','.join(series['aggregateTags'])})"
        lines.append(header)
        lines.append("-" * len(header))
        for i, (ts, v) in enumerate(series["dps"].items()):
            if i >= max_rows:
                lines.append(f"... {len(series['dps']) - max_rows} more")
                break
            lines.append(f"{ts}  {v}")
        lines.append("")
    return "\n".join(lines)
