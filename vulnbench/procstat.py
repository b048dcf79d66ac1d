"""Process and host counters read from ``/proc`` (Linux)."""

from __future__ import annotations

import os


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) of process
    ``root`` and every live descendant: the Python driver, the JVM and the
    Python workers. It leaves out time the host takes the CPUs away
    (steal), though contention on a shared host still slows the work."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def steal_ratio_since(before: list[int]) -> float:
    """Share of all CPU time the host took away since ``before``
    (``cpu_ticks()``)."""
    now = cpu_ticks()
    d = [a - b for a, b in zip(now, before)]
    total = sum(d)
    return d[7] / total if total else 0.0


def cpu_ticks() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]
