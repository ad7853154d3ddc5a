"""Steadiness mode: repeat ``run.py`` over seeds and summarise each metric.

    python3 perfbench/steady.py --seeds 1-10 [--workload mixed_rw ...] [--trace 0 1]

Runs every (workload, trace, seed) one after another and prints, per
workload and trace mode, each metric's median, first and third quartile
(``statistics.quantiles(n=4)``) and spread = (q3 - q1) / median, with the
bound from ``BENCHMARK.json`` beside the end-to-end ones. With both trace
modes it also prints the tracing overhead: the traced run's end-to-end
medians minus the untraced ones. The last line is all of it as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(result object, detail object) of one run; raises if it failed."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=200)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd[1:])} exited {out.returncode}")
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append",
                    help="repeat for several (default: every workload in BENCHMARK.json)")
    ap.add_argument("--seeds", default="1-10", help="a seed or a range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, nargs="+", choices=(0, 1), default=[0])
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {}
    for wl in args.workload or [w["name"] for w in bench["workloads"]]:
        for trace in args.trace:
            metrics: dict[str, list[float]] = {}
            traced_e2e: dict[str, list[float]] = {}
            failed = 0
            for seed in seeds(args.seeds):
                res, detail = one_run(wl, seed, args.seconds, trace)
                failed += res["failed"]
                for k, v in res["metrics"].items():
                    metrics.setdefault(k, []).append(v["value"])
                for k, v in detail.get("traced_e2e", {}).items():
                    traced_e2e.setdefault(k, []).append(v)
                print(f"{wl} trace={trace} seed={seed} failed={res['failed']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      flush=True)
            rows = {k: summary(v) for k, v in metrics.items()}
            for k, row in rows.items():
                if k in bounds:
                    row["bound"] = bounds[k]
            report[f"{wl}/trace{trace}"] = {"failed": failed, "metrics": rows,
                                            "traced_e2e": {k: summary(v) for k, v
                                                           in traced_e2e.items()}}
            print(f"== {wl} trace={trace} failed={failed}")
            for k, row in rows.items():
                spread = "-" if row["spread"] is None else f"{row['spread']:.3f}"
                print(f"   {k:28s} median={row['median']:<12.5g} spread={spread}"
                      + (f" bound={row['bound']}" if "bound" in row else ""), flush=True)
    for wl in args.workload or [w["name"] for w in bench["workloads"]]:
        plain, traced = report.get(f"{wl}/trace0"), report.get(f"{wl}/trace1")
        if plain and traced:
            overhead = {k: traced["traced_e2e"][k]["median"] - row["median"]
                        for k, row in plain["metrics"].items() if k in traced["traced_e2e"]}
            report[f"{wl}/tracing_overhead"] = overhead
            print(f"== {wl} tracing overhead (traced - untraced medians): "
                  + " ".join(f"{k}={v:+.4g}" for k, v in overhead.items()))
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
