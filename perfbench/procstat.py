"""Process and host readings from ``/proc``: CPU of a process tree,
peak RSS, process age, CPU steal and load."""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields restart after ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live descendant."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                parent[int(entry)] = int(fields[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree.extend(frontier)
    return tree


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` (default: this process) and
    all its descendants, counting reaped children through
    cutime/cstime.  Steal time is not charged to a process."""
    total = 0
    for pid in descendants(root or os.getpid()):
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in fields[11:15])
    return total / _HZ


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def reset_peak_rss(pids: list[int]) -> None:
    """Reset the peak resident set (VmHWM) of ``pids`` to their current
    RSS (``clear_refs`` value 5, see proc(5))."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _HZ


def cpu_ticks() -> list[int]:
    """Host-wide ``/proc/stat`` cpu counters."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total and len(delta) > 7 else 0.0
