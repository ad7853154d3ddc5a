"""Start, measure and stop the TSD daemon process tree.

The daemon runs in its own session, so its JVM and Python workers share
the session id; CPU time and peak RSS are summed over every live process
of that session from ``/proc``, and stopping kills the whole session.
"""

from __future__ import annotations

import os
import select
import signal
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    """Cores this process may use (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """Driver heap: 6 GiB, the heap the workloads were sized with, or two
    fifths of RAM on a smaller box (the session's own 16g default can
    exceed the machine)."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{min(6144, total_kb // 1024 * 2 // 5)}m"


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2:].split()


def session_pids(sid: int) -> list[str]:
    """Live (not yet exited) processes of session ``sid``."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None and int(f[3]) == sid and f[0] != "Z":
                out.append(pid)
    return out


def session_cpu_s(sid: int) -> float:
    """User+system CPU of the session's live processes and their reaped
    children."""
    ticks = 0
    for pid in session_pids(sid):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def session_peak_rss_mb(sid: int) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


class Daemon:
    """``python -m opentsdb_spark.cli --sf-dir DATA tsd --port 0`` (or the
    traced launcher) with cores from nproc and a box-sized driver heap;
    every file it writes stays under ``run_dir``."""

    def __init__(self, root: str, run_dir: str, data_dir: str, launcher: list[str]):
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("SPARK_GRAFT_", "PYSPARK_", "OPENTSDB_"))}
        env.update({
            "SPARK_GRAFT_CPUS": str(cpu_count()),
            "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONPATH": root,
            "PYTHONUNBUFFERED": "1",
            "PYSPARK_PYTHON": sys.executable,
        })
        self.cmd = [sys.executable, *launcher, "--sf-dir", data_dir, "tsd", "--port", "0"]
        self.env = env
        self.run_dir = run_dir
        self.proc: subprocess.Popen | None = None
        self.port = 0
        self.spawned_at = 0.0

    def start(self, timeout_s: float = 150.0) -> None:
        self.spawned_at = time.monotonic()
        self.proc = subprocess.Popen(
            self.cmd, cwd=self.run_dir, env=self.env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE,
            stderr=open(os.path.join(self.run_dir, "daemon.log"), "wb"),
            start_new_session=True,
        )
        buf = b""
        deadline = self.spawned_at + timeout_s
        fd = self.proc.stdout.fileno()
        while b"listening on" not in buf:
            left = deadline - time.monotonic()
            if left <= 0 or self.proc.poll() is not None:
                raise RuntimeError(f"daemon did not start; see {self.run_dir}/daemon.log")
            if select.select([fd], [], [], min(left, 1.0))[0]:
                chunk = os.read(fd, 4096)
                if not chunk and self.proc.poll() is not None:
                    continue
                buf += chunk
        line = buf[buf.index(b"listening on"):].split(b"\n")[0]
        self.port = int(line.split()[-1])

    @property
    def sid(self) -> int:
        return self.proc.pid

    def terminate(self) -> None:
        """SIGTERM the launcher process only (not its JVM)."""
        os.kill(self.proc.pid, signal.SIGTERM)

    def kill(self) -> list[str]:
        """SIGKILL every live process of the daemon's session."""
        pids = session_pids(self.sid)
        for pid in pids:
            try:
                os.kill(int(pid), signal.SIGKILL)
            except ProcessLookupError:
                pass
        return pids

    def stop(self) -> None:
        """Kill every process of the daemon's session and wait until gone."""
        if self.proc is None:
            return
        deadline = time.monotonic() + 20
        while True:
            pids = self.kill()
            if self.proc.poll() is None:
                try:
                    self.proc.wait(timeout=2)
                except subprocess.TimeoutExpired:
                    pass
            if not pids and self.proc.poll() is not None:
                break
            if time.monotonic() > deadline:
                raise RuntimeError("daemon processes survived SIGKILL")
            time.sleep(0.1)
        self.proc.stdout.close()
        self.proc = None
