"""Traced daemon launcher.

    python perfbench/trace_launch.py SPANS.json <opentsdb_spark.cli args>

Rebinds the public entry point of each layer with a span-recording
wrapper, then runs ``opentsdb_spark.cli.main`` in this process, so the
daemon is the same program as in the untraced run. Wrappers are installed
on the names callers resolve at call time (``api.compile_query``,
``serializer.enforce_data_point_limit``, ...), not only on the defining
module. Spans (id, name, start, end, parent, request id, extra) stay in
memory and are written to SPANS.json when the process gets SIGTERM.

Each request's Spark jobs run under the job group ``<rid>|<layer>`` of the
innermost open span, and the route wrapper reads job, stage and task
counts per group from the status tracker once the request is answered.
Work the tracer itself does inside a request is recorded as ``overhead``
spans, so it is subtracted from the self time of the span around it.
"""

from __future__ import annotations

import itertools
import json
import os
import signal
import sys
import threading
import time

SPANS: list[tuple] = []
_ids = itertools.count(1)
_tls = threading.local()
_sc = None  # SparkContext, set once the session exists


def _stack() -> list:
    st = getattr(_tls, "stack", None)
    if st is None:
        st = _tls.stack = []
    return st


def _set_group(layer: str | None) -> None:
    rid = getattr(_tls, "rid", None)
    if _sc is not None and rid is not None:
        _sc.setJobGroup(f"{rid}|{layer}", layer or "", False)


class _Span:
    """Context manager recording one span on this thread."""

    def __init__(self, name: str, group: bool = True):
        self.name, self.group, self.extra = name, group, None

    def __enter__(self):
        st = _stack()
        self.parent = st[-1][0] if st else None
        self.id = next(_ids)
        st.append((self.id, self.name))
        if self.group:
            _set_group(self.name)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        st = _stack()
        st.pop()
        if self.group and st:
            _set_group(st[-1][1])
        SPANS.append((self.id, self.name, self.t0, t1, self.parent,
                      getattr(_tls, "rid", None), self.extra))
        return False


def _wrap(name: str, fn):
    def traced(*a, **kw):
        with _Span(name):
            return fn(*a, **kw)
    traced.__wrapped__ = fn
    return traced


class _TimedCollect:
    """The annotation frame, with its ``collect`` timed as annotations."""

    def __init__(self, df):
        self._df = df

    def collect(self):
        with _Span("annotations"):
            return self._df.collect()

    def __getattr__(self, name):
        return getattr(self._df, name)


def _spark_counts(rid: str) -> dict:
    """Jobs, stages and completed tasks per layer of one request."""
    tracker = _sc.statusTracker()
    out: dict[str, list[int]] = {}
    for layer in ("tsd.route", "api.query", "api.put", "parse", "planner",
                  "limits", "annotations", "serializer", "tsd.absorb"):
        jobs = tracker.getJobIdsForGroup(f"{rid}|{layer}")
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numCompletedTasks
        if jobs:
            out[layer] = [len(jobs), stages, tasks]
    return out


def install() -> None:
    from opentsdb_spark import api, serializer, session, tsd
    from opentsdb_spark.operators import annotations
    from opentsdb_spark.plans import limits
    from opentsdb_spark.sources import points

    def get_spark(*a, **kw):
        global _sc
        with _Span("setup.session", group=False):
            spark = orig_get_spark(*a, **kw)
        _sc = spark.sparkContext
        return spark

    orig_get_spark = session.get_spark
    session.get_spark = get_spark
    points.load_points = _wrap("setup.load", points.load_points)

    api.parse_query = _wrap("parse", api.parse_query)

    orig_compile = api.compile_query

    def compile_query(*a, **kw):
        with _Span("planner") as sp:
            res = orig_compile(*a, **kw)
            with _Span("overhead", group=False):
                sp.extra = sum(limits.estimate_scan_bytes(r.source_df)
                               for r in res if r.source_df is not None)
        return res

    api.compile_query = compile_query

    for fname in ("enforce_byte_budget", "enforce_scan_budget", "enforce_data_point_limit"):
        setattr(limits, fname, _wrap("limits", getattr(limits, fname)))
    api.enforce_data_point_limit = limits.enforce_data_point_limit
    serializer.enforce_data_point_limit = limits.enforce_data_point_limit

    orig_ann = annotations.annotations_in_range

    def annotations_in_range(*a, **kw):
        with _Span("annotations"):
            return _TimedCollect(orig_ann(*a, **kw))

    annotations.annotations_in_range = annotations_in_range

    orig_ser = api.serialize_subquery

    def serialize_subquery(*a, **kw):
        with _Span("serializer") as sp:
            out = orig_ser(*a, **kw)
            sp.extra = sum(len(s["dps"]) for s in out)
        return out

    api.serialize_subquery = serialize_subquery
    api.handle_query = _wrap("api.query", api.handle_query)
    api.handle_put = _wrap("api.put", api.handle_put)

    orig_absorb = tsd.TSD._absorb

    def _absorb(self, frame):
        with _Span("tsd.absorb") as sp:
            orig_absorb(self, frame)
            sp.extra = int(self._writes % tsd._CHECKPOINT_EVERY == 0)

    tsd.TSD._absorb = _absorb

    orig_route = tsd.TSD.route

    def route(self, method, path, request, body):
        rid = (request.get("_headers") or {}).get("x-bench-request")
        if rid is None:
            return orig_route(self, method, path, request, body)
        _tls.rid = rid
        span = _Span("tsd.route")
        try:
            with span:
                with _Span("overhead", group=False):
                    plan = self.points._jdf.queryExecution().logical()
                    span.extra = {"plan_depth": plan.collectLeaves().size()}
                return orig_route(self, method, path, request, body)
        finally:
            # counted once the span has closed, outside the request's time
            span.extra["spark"] = _spark_counts(rid)
            _sc.setLocalProperty("spark.jobGroup.id", None)
            _tls.rid = None

    tsd.TSD.route = route


def main() -> int:
    out_path = sys.argv[1]

    def _stop(signum, frame):
        raise SystemExit(0)

    signal.signal(signal.SIGTERM, _stop)
    install()
    from opentsdb_spark import cli

    try:
        return cli.main(sys.argv[2:])
    finally:
        with open(out_path + ".tmp", "w") as fh:
            json.dump(SPANS, fh)
        os.replace(out_path + ".tmp", out_path)


if __name__ == "__main__":
    sys.exit(main())
