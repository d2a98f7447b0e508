"""Small helpers shared by the benchmark's entry point and its worker.

No Spark import here: ``run.py`` uses this module before any JVM exists.
"""

from __future__ import annotations

import os
import resource
import signal
import statistics
import subprocess
import time
from dataclasses import dataclass


def median_with_count(values: list[float]) -> tuple[float, int]:
    """Median of ``values`` together with the number of samples behind it."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values), len(values)


@dataclass
class DeadlineResult:
    returncode: int | None  # None when the deadline killed the process
    timed_out: bool
    elapsed_s: float


def run_with_deadline(cmd: list[str], deadline_s: float, **popen_kw) -> DeadlineResult:
    """Run ``cmd`` in its own process group; kill the whole group (the
    Python worker and the JVM it launched) if it outlives ``deadline_s``.
    Always waits for the process to end before returning."""
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, start_new_session=True, **popen_kw)
    try:
        rc = proc.wait(timeout=deadline_s)
        timed_out = False
    except subprocess.TimeoutExpired:
        rc, timed_out = None, True
    finally:
        # the worker's own children (the JVM, Python UDF workers) share its
        # process group; sweep them even when the worker exited cleanly
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _wait_group_gone(proc.pid, timeout_s=10.0)
    return DeadlineResult(rc, timed_out, time.monotonic() - t0)


def _wait_group_gone(pgid: int, timeout_s: float) -> None:
    """Wait until no process of group ``pgid`` is left (bounded)."""
    end = time.monotonic() + timeout_s
    while time.monotonic() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def python_peak_rss_mb() -> float:
    """Peak resident memory of this Python process (Linux reports KiB)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def proc_peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set) of another process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_snapshot(pid: int) -> tuple[float, float]:
    """(CPU seconds used by process ``pid``, CPU seconds the host stole from
    this machine), both cumulative; differences over an interval tell
    whether a slow interval did more work or got less CPU."""
    tick = os.sysconf("SC_CLK_TCK")
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8])
    return (int(fields[11]) + int(fields[12])) / tick, steal / tick


def calib_py_s(n: int = 3_000_000) -> float:
    """Fixed single-thread interpreter work; its time tracks host speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * 2654435761) & 0xFFFFFFFF
    return time.perf_counter() - t0
