"""Host-window stamps read from /proc: CPU steal, a pure-CPU probe, memory.

A throttled or stolen host window slows every layer at once; stamping each
run with steal and a fixed pure-CPU ops/s figure makes such a window visible
in the run's own output instead of passing for a regression.
"""

from __future__ import annotations

import os
import time

import numpy as np


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    # /proc/stat cpu fields: user nice system idle iowait irq softirq steal …
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d[:8]))


def cpu_ops_per_s(seconds: float = 0.3) -> float:
    """The tools/cpu_calibration.py kernel (sorted-array intersect plus an
    FNV integer-hash loop, the scoring stage's profile), single process,
    for ``seconds``."""
    rng = np.random.default_rng(42)
    arrs = [np.sort(rng.integers(0, 1 << 40, size=160)) for _ in range(64)]
    ops = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for i in range(0, 64, 2):
            np.intersect1d(arrs[i], arrs[i + 1], assume_unique=True)
            h = 1469598103934665603
            for v in range(200):
                h = ((h ^ v) * 1099511628211) & ((1 << 64) - 1)
            ops += 1
    return ops / (time.perf_counter() - t0)


def process_age_s() -> float:
    """Seconds since this process started (interpreter start included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int) -> float:
    """Σ VmHWM over every live descendant of ``pid``: the Spark JVM and
    the Python workers it forked (the calling process itself excluded)."""
    total_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")
