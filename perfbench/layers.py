"""Per-layer figures from the traced daemon's spans.

A span is ``[id, name, start, end, parent, request id, extra]`` as
``trace_launch`` writes it. Self time is a span's duration minus the time
its children cover (children of one span run one after another on its
thread). Figures are means per request of the measured window; shares are
each layer's summed self time over the summed client latency of the
window's queries, so they add up to 100%.
"""

from __future__ import annotations

from collections import defaultdict

# span name -> layer key used in the metric names
QUERY_LAYERS = {
    "parse": "parse", "planner": "planner", "limits": "limits",
    "annotations": "annotations", "serializer": "serializer",
    "api.query": "api_self", "tsd.route": "tsd_self", "overhead": "tracer",
}

PER_LAYER_UNITS = {
    "parse.ms": "ms",
    "planner.compile_ms": "ms",
    "limits.ms": "ms",
    "limits.jobs": "count",
    "annotations.ms": "ms",
    "serializer.ms": "ms",
    "serializer.dps": "count",
    "scan.bytes_per_query": "bytes",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "api.query_self_ms": "ms",
    "tsd.route_self_ms": "ms",
    "tsd.http_ms": "ms",
    "points.plan_depth": "count",
    "setup.session_s": "s",
    "setup.load_s": "s",
    "setup.warmup_s": "s",
    **{f"share.{k}": "%" for k in ("parse", "planner", "limits", "annotations",
                                   "serializer", "api_self", "tsd_self", "http",
                                   "tracer")},
}


def _by_request(spans):
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s[4] is not None:
            covered[s[4]] += s[3] - s[2]
    per: dict[str, dict] = defaultdict(lambda: {"self": defaultdict(float),
                                                "extra": defaultdict(list)})
    for sid, name, t0, t1, _parent, rid, extra in spans:
        if rid is None:
            continue
        rec = per[rid]
        rec["self"][name] += (t1 - t0 - covered[sid]) * 1000.0
        if name == "tsd.route":
            rec["route_ms"] = (t1 - t0) * 1000.0
        if extra is not None:
            rec["extra"][name].append(extra)
    return per


def _spark_total(route_extra, layers=None):
    counts = [0, 0, 0]
    for layer, c in route_extra["spark"].items():
        if layers is None or layer in layers:
            counts = [a + b for a, b in zip(counts, c)]
    return counts


def per_layer(spans, queries, puts, setup: dict) -> tuple[dict, dict]:
    """(per-layer metrics of the queries, put-side figures) for the window's
    ``queries`` and ``puts`` (lists of (request id, client latency ms))."""
    per = _by_request(spans)
    startup = {s[1]: (s[3] - s[2]) for s in spans if s[5] is None}
    nq = len(queries)
    tot = defaultdict(float)
    latency = 0.0
    for rid, lat_ms in queries:
        rec = per[rid]
        latency += lat_ms
        for name, key in QUERY_LAYERS.items():
            tot[key] += rec["self"].get(name, 0.0)
        tot["http"] += lat_ms - rec.get("route_ms", 0.0)
        route = rec["extra"]["tsd.route"][0]
        jobs, stages, tasks = _spark_total(route)
        tot["jobs"] += jobs
        tot["stages"] += stages
        tot["tasks"] += tasks
        tot["limits_jobs"] += _spark_total(route, ("limits",))[0]
        tot["depth"] += route["plan_depth"]
        tot["scan_bytes"] += sum(rec["extra"]["planner"])
        tot["dps"] += sum(rec["extra"]["serializer"])
    m = {
        "parse.ms": tot["parse"] / nq,
        "planner.compile_ms": tot["planner"] / nq,
        "limits.ms": tot["limits"] / nq,
        "limits.jobs": tot["limits_jobs"] / nq,
        "annotations.ms": tot["annotations"] / nq,
        "serializer.ms": tot["serializer"] / nq,
        "serializer.dps": tot["dps"] / nq,
        "scan.bytes_per_query": tot["scan_bytes"] / nq,
        "spark.jobs_per_query": tot["jobs"] / nq,
        "spark.stages_per_query": tot["stages"] / nq,
        "spark.tasks_per_query": tot["tasks"] / nq,
        "api.query_self_ms": tot["api_self"] / nq,
        "tsd.route_self_ms": tot["tsd_self"] / nq,
        "tsd.http_ms": tot["http"] / nq,
        "points.plan_depth": tot["depth"] / nq,
        "setup.session_s": startup.get("setup.session", 0.0),
        "setup.load_s": startup.get("setup.load", 0.0),
        "setup.warmup_s": setup["setup_s"] - setup["listen_s"],
    }
    for key in ("parse", "planner", "limits", "annotations", "serializer",
                "api_self", "tsd_self", "http", "tracer"):
        m[f"share.{key}"] = 100.0 * tot[key] / latency

    put_side = {}
    if puts:
        n = len(puts)
        put_ms = absorb_ms = jobs = checkpoints = 0.0
        for rid, _lat in puts:
            rec = per[rid]
            handler = rec["self"].get("api.put", 0.0)
            put_ms += handler
            absorb_ms += rec.get("route_ms", 0.0) - handler
            jobs += _spark_total(rec["extra"]["tsd.route"][0])[0]
            checkpoints += sum(rec["extra"]["tsd.absorb"])
        put_side = {"api.put_ms": put_ms / n, "tsd.put_absorb_ms": absorb_ms / n,
                    "spark.jobs_per_put": jobs / n, "tsd.checkpoints": checkpoints}
    return m, put_side
