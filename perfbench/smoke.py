"""Fast smoke test of every workload on the sf0.001 events.

    python3 perfbench/smoke.py

Runs ``run.py`` once per workload (the ones in ``BENCHMARK.json`` and
``analyst_scan``) untraced and traced, for 2 seconds each, against
``perfbench/data/sf0.001``, and fails unless every run exits 0, prints
every metric ``BENCHMARK.json`` names for its mode, and reports no failed
or wrong operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = {0: {m["name"] for m in bench["end_to_end"]},
              1: {m["name"] for m in bench["per_layer"]}}
    bad = 0
    for wl in sorted(WORKLOADS):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "1", "--seconds", "2", "--trace", str(trace),
                   "--sf-dir", os.path.join(HERE, "data", "sf0.001")]
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=200)
            problem = None
            if out.returncode != 0:
                problem = f"exit {out.returncode}"
            else:
                res = json.loads(out.stdout.strip().splitlines()[-1])
                missing = wanted[trace] - set(res["metrics"])
                if missing:
                    problem = f"missing metrics {sorted(missing)}"
                elif res["failed"] or not res["correct"]:
                    problem = f"{res['failed']} of {res['attempted']} operations failed"
            bad += problem is not None
            print(f"{wl} trace={trace}: {problem or 'ok'}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
