"""The traced benchmark launcher (perfbench/trace_launch.py) rebinds each
layer's entry point by name. A refactor that renames or stops calling one of
them would make a traced run silently lose that layer, so this guard runs
``install()`` in a fresh interpreter (no Spark session needed) and checks
that ``handle_query`` still calls the names it wraps and that both put
paths (``TSD._route`` for HTTP, ``TSD.put_lines`` for telnet) still go
through ``_absorb``."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import sys
sys.path[:0] = [{root!r}, {perfbench!r}]
import trace_launch
trace_launch.install()
from opentsdb_spark import api, serializer, tsd

def wrapped(fn):
    return getattr(fn, "__wrapped__", None) is not None

calls = set(api.handle_query.__wrapped__.__code__.co_names)
missing = {{"compile_query", "serialize_subquery", "enforce_byte_budget",
            "enforce_scan_budget", "annotations_in_range"}} - calls
assert not missing, f"handle_query no longer calls {{sorted(missing)}}"
assert "enforce_data_point_limit" in serializer.serialize_subquery.__code__.co_names
assert wrapped(serializer.enforce_data_point_limit)
assert isinstance(tsd._CHECKPOINT_EVERY, int) and callable(tsd.TSD._absorb)
# put figures (tsd.absorb, tsd.checkpoints) come from the rebound _absorb
for writer in (tsd.TSD._route, tsd.TSD.put_lines):
    assert "_absorb" in writer.__code__.co_names, f"{{writer.__name__}} no longer calls _absorb"
assert "handle_put" in tsd.TSD._route.__code__.co_names
print("ok")
"""


def test_trace_launch_hooks_resolve():
    probe = _PROBE.format(root=ROOT, perfbench=os.path.join(ROOT, "perfbench"))
    res = subprocess.run([sys.executable, "-c", probe], capture_output=True,
                         text=True, timeout=120, cwd=ROOT)
    assert res.returncode == 0 and res.stdout.strip() == "ok", res.stderr[-2000:]
