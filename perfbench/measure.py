"""Process-tree and machine counters read from /proc, plus the summary
statistics the benchmark reports.

The tree is this Python process, the Spark driver JVM it launches and the
PySpark worker processes under the JVM. CPU counts utime+stime of live tree
members plus cutime+cstime, so reaped workers keep counting. The contention
record uses the same method as the repository's ``bench.py``: CPU the whole
machine burned in an interval, minus the tree's own, as a share of the
machine's capacity over that interval.
"""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass


@dataclass
class TreeCpu:
    total_s: float
    jvm_s: float
    pyworker_s: float  # Python processes under the JVM (PySpark daemon and workers)

    def minus(self, o: "TreeCpu") -> "TreeCpu":
        return TreeCpu(self.total_s - o.total_s, self.jvm_s - o.jvm_s, self.pyworker_s - o.pyworker_s)

    def plus(self, o: "TreeCpu") -> "TreeCpu":
        return TreeCpu(self.total_s + o.total_s, self.jvm_s + o.jvm_s, self.pyworker_s + o.pyworker_s)


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, cpu ticks incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read().decode("ascii", "replace")
        except OSError:
            continue  # the process exited while we listed
        comm = s[s.index("(") + 1: s.rindex(")")]
        rest = s[s.rindex(")") + 2:].split()
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(d)] = (int(rest[1]), comm, ticks)
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its descendants."""
    root = root or os.getpid()
    table = _proc_table()
    return [pid for pid in table if _under(pid, root, table)]


def _under(pid: int, root: int, table) -> bool:
    p = pid
    while p > 1:
        if p == root:
            return True
        p = table.get(p, (0,))[0]
    return False


def tree_cpu() -> TreeCpu:
    me = os.getpid()
    table = _proc_table()
    tick = os.sysconf("SC_CLK_TCK")
    total = jvm = py = 0
    for pid, (_, comm, ticks) in table.items():
        if not _under(pid, me, table):
            continue
        total += ticks
        if comm == "java":
            jvm += ticks
        elif pid != me and comm.startswith("python"):
            py += ticks
    return TreeCpu(total / tick, jvm / tick, py / tick)


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus the JVMs under it. The
    pooled PySpark workers come and go, so they are left out."""
    table = _proc_table()
    me = os.getpid()
    kb = 0
    for pid in [me] + [p for p, (_, comm, _) in table.items() if comm == "java" and _under(p, me, table)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def _cpu_line() -> list[int]:
    with open("/proc/stat", "rb") as f:
        return [int(x) for x in f.readline().split()[1:]]


def system_busy_s() -> float:
    """CPU-seconds the whole machine has spent busy (all cores, all processes)."""
    vals = _cpu_line()
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return (sum(vals) - idle) / os.sysconf("SC_CLK_TCK")


def system_steal_s() -> float:
    """CPU-seconds a hypervisor gave this machine's cores to other guests
    (part of the busy time above, and of the foreign fraction)."""
    vals = _cpu_line()
    return (vals[7] if len(vals) > 7 else 0) / os.sysconf("SC_CLK_TCK")


def foreign_cpu_fraction(busy_s: float, own_s: float, wall_s: float, n_cpus: int) -> float:
    """Share of the machine's capacity that other processes used."""
    return max(0.0, busy_s - own_s) / (max(wall_s, 1e-9) * max(n_cpus, 1))


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ statistics


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest whole percentile that still leaves at
    least 10 samples above it. With fewer than 11 samples no percentile
    qualifies and the median is returned as the 50th."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    xs = sorted(samples)
    if n < 11:
        return 50.0, statistics.median(xs)
    pct = math.floor(100 * (n - 10) / n)
    # nearest-rank: the k-th smallest leaves n - k samples above it
    k = max(1, math.ceil(pct / 100 * n))
    return float(pct), xs[k - 1]
