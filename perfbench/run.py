"""One benchmark run of the TSD daemon on one workload.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 18 --trace 0

Starts the real daemon (``python -m opentsdb_spark.cli --sf-dir
perfbench/data/sf0.1 tsd --port 0``) in its own process session, with cores
from nproc and a 6 GiB driver heap, answers one fixed query to end set-up,
warms each query template it reads once, then drives it over loopback HTTP for
``--seconds`` with the workload's closed-loop clients (threads of this
process). Every response is checked afterwards: queries against DuckDB
over the same ``events.parquet``, reads of written points against what
was sent. The daemon is killed, with its JVM, however the run ends.

``--trace 1`` starts the daemon through ``trace_launch.py`` instead and
reports per-layer figures (see ``layers.py``) in place of the end-to-end
ones. The last stdout line is the result object; the line before it holds
details (tail percentile, put figures, failures, settings).
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import urllib.parse
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable, Iterator

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads as W  # noqa: E402
from daemon import Daemon, cpu_count, driver_memory, session_cpu_s, session_peak_rss_mb  # noqa: E402

RUN_LIMIT_S = 165  # the watchdog kills the daemon and fails the run after this


@dataclass(frozen=True)
class Workload:
    clients: int
    panels: tuple  # templates warmed once before the window
    stream: Callable[[random.Random, int], Iterator[W.Request]]  # (rng, client)
    # a client stops only at the end of a round of this many requests: reads
    # slow down as puts accumulate, so a window of whole rounds keeps the
    # mix of reads, and the writes before them, the same in every run
    round: int = 1


WORKLOADS = {
    # the two dashboard clients start half a cycle apart
    "dashboard": Workload(2, W.DASHBOARD, lambda rng, i: W.panel_stream(
        W.DASHBOARD, rng, i * len(W.DASHBOARD) // 2)),
    "analyst_scan": Workload(1, W.ANALYST, lambda rng, i: W.panel_stream(W.ANALYST, rng)),
    "mixed_rw": Workload(1, W.MIXED_PANELS, W.mixed_stream, len(W.MIXED_ROUND)),
}

E2E_UNITS = {
    "setup_s": "s", "query_p50_ms": "ms", "query_tail_ms": "ms", "query_qps": "1/s",
    "ops_per_s": "1/s", "cpu_ms_per_op": "ms",
}


@dataclass
class Result:
    req: W.Request
    status: int
    body: bytes
    t0: float
    t1: float

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


def send(port: int, req: W.Request) -> Result:
    headers = {"X-Bench-Request": req.rid}
    if req.kind == "put":
        method, path = "POST", "/api/put"
        body = json.dumps(req.body).encode()
        headers["Content-Type"] = "application/json"
    else:
        method, path = "GET", "/api/query?" + urllib.parse.urlencode(req.params)
        body = None
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=RUN_LIMIT_S)
    t0 = time.monotonic()
    try:
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        data, status = resp.read(), resp.status
    except OSError as e:
        data, status = str(e).encode(), 0
    t1 = time.monotonic()
    conn.close()
    return Result(req, status, data, t0, t1)


def drive(port: int, wl: Workload, seed: int, seconds: float):
    """Closed loop: each client sends its next request when the previous is
    answered, until ``seconds`` have passed, a query was answered and its
    round is complete."""
    results: list[list[Result]] = [[] for _ in range(wl.clients)]
    t_start = time.monotonic()
    deadline = t_start + seconds

    def client(i: int) -> None:
        stream = wl.stream(random.Random(f"{seed}/{i}"), i)
        out = results[i]
        n = 0
        while (time.monotonic() < deadline or n % wl.round
               or not any(r.req.kind == "query" for r in out)):
            req = next(stream)
            req.rid = f"c{i}-{n}"
            n += 1
            out.append(send(port, req))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return t_start, [r for rs in results for r in rs]


def check(res: Result, con) -> tuple[str | None, int]:
    """(failure reason or None, data points returned)."""
    if not 200 <= res.status < 300:
        return f"HTTP {res.status}: {res.body[:200]!r}", 0
    if res.req.kind == "put":
        return None, 0
    try:
        got = json.loads(res.body)
    except ValueError:
        return "response is not JSON", 0
    req = res.req
    want = W.expected_written(req) if req.log is not None else W.expected_panel(con, req)
    dps = sum(len(s.get("dps", ())) for s in got) if isinstance(got, list) else 0
    return W.compare(got, want, [k for k, _ in req.panel.group]), dps


def tail(lat_ms: list[float]) -> tuple[float, float]:
    """(latency, percentile) at the highest percentile with at least 10
    samples beyond it, but never below the median (under 21 samples)."""
    a = sorted(lat_ms)
    n = len(a)
    if n < 21:
        return statistics.median(a), 50.0
    return a[n - 11], 100.0 * (n - 11) / (n - 1)


def run(args) -> int:
    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(HERE, "_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    spans_path = os.path.join(run_dir, "spans.json")
    launcher = ([os.path.join(HERE, "trace_launch.py"), spans_path] if args.trace
                else ["-m", "opentsdb_spark.cli"])
    os.makedirs(run_dir, exist_ok=True)
    daemon = Daemon(ROOT, run_dir, os.path.abspath(args.sf_dir), launcher)
    expired = threading.Event()

    def watchdog():
        expired.set()
        daemon.kill()

    timer = threading.Timer(RUN_LIMIT_S, watchdog)
    timer.daemon = True
    timer.start()
    try:
        daemon.start(timeout_s=RUN_LIMIT_S)
        listen_s = time.monotonic() - daemon.spawned_at
        warm = W.warmup_requests(wl.panels)
        for i, req in enumerate(warm):
            req.rid = f"w{i}"
        first = send(daemon.port, warm[0])
        setup_s = first.t1 - daemon.spawned_at
        with ThreadPoolExecutor(cpu_count()) as pool:
            pre = [first] + list(pool.map(lambda req: send(daemon.port, req), warm[1:]))
        cpu0 = session_cpu_s(daemon.sid)
        t_start, window = drive(daemon.port, wl, args.seed, args.seconds)
        t_end = max(r.t1 for r in window)
        cpu_s = session_cpu_s(daemon.sid) - cpu0
        rss_mb = session_peak_rss_mb(daemon.sid)
        spans = None
        if args.trace:
            daemon.terminate()
            give_up = time.monotonic() + 30
            while not os.path.exists(spans_path) and time.monotonic() < give_up:
                time.sleep(0.1)
            with open(spans_path) as fh:
                spans = json.load(fh)
    finally:
        timer.cancel()
        daemon.stop()
    if expired.is_set():
        print(f"run exceeded {RUN_LIMIT_S}s; see {run_dir}/daemon.log", file=sys.stderr)
        return 3

    con = W.open_oracle(os.path.join(args.sf_dir, "events.parquet"))
    failures = []
    dps_total = 0
    for n, res in enumerate(pre + window):
        why, dps = check(res, con)
        if n >= len(pre):
            dps_total += dps
        if why is not None:
            failures.append(f"{res.req.rid} {res.req.params.get('m', 'put')}: {why}")
    con.close()

    busy = t_end - t_start
    queries = [r for r in window if r.req.kind == "query"]
    puts = [r for r in window if r.req.kind == "put"]
    q_ms = [r.ms for r in queries]
    q_tail, q_pct = tail(q_ms)
    e2e = {
        "setup_s": setup_s,
        "query_p50_ms": statistics.median(q_ms),
        "query_tail_ms": q_tail,
        "query_qps": len(queries) / busy,
        "ops_per_s": len(window) / busy,
        "cpu_ms_per_op": cpu_s * 1000.0 / len(window),
    }
    attempted = len(pre) + len(window)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "clients": wl.clients, "cpus": cpu_count(),
        "driver_memory": driver_memory(), "data": os.path.relpath(args.sf_dir, ROOT),
        "queries": len(queries), "puts": len(puts),
        "query_dps_per_s": dps_total / busy, "rss_peak_mb": rss_mb,
        "query_response_kb_mean": sum(len(r.body) for r in queries) / len(queries) / 1024,
        "query_tail_percentile": q_pct, "query_tail_samples": len(queries),
        "failed_ratio": len(failures) / attempted, "failures": failures[:5],
    }
    if puts:
        p_ms = [r.ms for r in puts]
        p_tail, p_pct = tail(p_ms)
        detail.update({
            "put_points_per_s": sum(len(r.req.body) for r in puts) / busy,
            "put_p50_ms": statistics.median(p_ms), "put_tail_ms": p_tail,
            "put_tail_percentile": p_pct,
        })
    if spans is not None:
        per_layer, put_side = layers.per_layer(
            spans, [(r.req.rid, r.ms) for r in queries], [(r.req.rid, r.ms) for r in puts],
            {"setup_s": setup_s, "listen_s": listen_s})
        detail["traced_e2e"] = e2e
        detail.update(put_side)
        metrics = {k: {"value": v, "unit": layers.PER_LAYER_UNITS[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=os.path.join(HERE, "data", "sf0.1"),
                    help="directory holding the events.parquet the daemon serves")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "opentsdb_spark", "cli.py")):
        print(f"no opentsdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
