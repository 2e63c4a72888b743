"""Statistics and /proc readings used by the benchmark.

CPU and memory are read for the whole process tree: the Python process, the
JVM it launches and the JVM's Python workers.
"""

from __future__ import annotations

import os
import time
from typing import Dict, List, Optional, Sequence, Tuple

TAIL_BEYOND = 10   # samples that must lie beyond a reported tail percentile
CLK_TCK = os.sysconf("SC_CLK_TCK")


def tail(values: Sequence[float]) -> Optional[Tuple[float, float, int]]:
    """The highest percentile with at least TAIL_BEYOND samples strictly
    beyond it, as (value, percentile, n). The value is the (n - 10)-th
    smallest sample, so exactly ten samples rank above it. With fewer than
    TAIL_BEYOND + 1 samples there is no such percentile and the result is
    None: the maximum is never reported in its place."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    ordered = sorted(values)
    k = n - TAIL_BEYOND          # samples at or below the reported one
    return ordered[k - 1], 100.0 * k / n, n


# ------------------------------------------------------------------ /proc


def _stat_fields(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> List[int]:
    """root and all its live descendants."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's peak resident set."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def descendants(root: int) -> List[int]:
    return [p for p in tree_pids(root) if p != root]


def wait_descendants(root: int, timeout_s: float) -> List[int]:
    """Wait for every descendant of root to end (reaping our own children);
    return the ones still alive at the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants(root)
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)


class HostSampler:
    """Steal share and load average over a run, from /proc/stat and
    getloadavg. These attribute a slow run to the host; they are printed as
    diagnostics, never reported as metrics."""

    def __init__(self):
        self.start = self._cpu()
        self.load_start = os.getloadavg()[0]

    @staticmethod
    def _cpu() -> Tuple[int, int]:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal (guest is in user)
        return sum(vals[:8]), vals[7] if len(vals) > 7 else 0

    def summary(self) -> dict:
        total, steal = self._cpu()
        dt = total - self.start[0]
        return {"steal_share": round((steal - self.start[1]) / dt, 4)
                if dt > 0 else 0.0,
                "load1_start": round(self.load_start, 2),
                "load1_end": round(os.getloadavg()[0], 2)}
