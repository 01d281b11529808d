"""Host-noise record and process-tree memory high-water mark (Linux /proc)."""

from __future__ import annotations

import os


def proc_stat() -> tuple[float, float, float]:
    """(busy, steal, total) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as fh:
        vals = [float(v) for v in fh.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    steal = vals[7] if len(vals) > 7 else 0.0
    return sum(vals) - idle, steal, sum(vals)


def host_conditions(before: tuple[float, float, float],
                    after: tuple[float, float, float]) -> dict[str, float]:
    """Busy and steal shares of all CPUs between two samples, plus the
    1-minute load average at the second one."""
    total = max(after[2] - before[2], 1e-9)
    with open("/proc/loadavg") as fh:
        load = float(fh.readline().split()[0])
    return {
        "host_busy_frac": (after[0] - before[0]) / total,
        "host_steal_frac": (after[1] - before[1]) / total,
        "loadavg_1m": load,
    }


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            continue
    return out


def tree_peak_rss_mb(root_pid: int, exclude: set[int] = frozenset()) -> float:
    """Sum of VmHWM (peak resident set) over ``root_pid`` and its live
    descendants, in MiB: the Python driver plus the Spark JVM."""
    total_kb, todo, seen = 0, [root_pid], set()
    while todo:
        pid = todo.pop()
        if pid in seen or pid in exclude:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            todo += _children(pid)
        except OSError:
            continue
    return total_kb / 1024.0
