"""Process-tree readings from ``/proc`` (``psutil`` is not installed):
the descendants of a process, their CPU time and their memory."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat") as fh:
        stat = fh.read()
    return stat[stat.rfind(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(d))[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """User plus system CPU time of the tree, counting exited children
    that a live member of the tree has reaped. Time a hypervisor gave to
    another machine (steal) is not in it, which makes it steadier than
    wall time on a shared host."""
    total = 0
    for pid in tree(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def mem_kb(pid: int) -> tuple[int, int]:
    """``(VmRSS, VmHWM)``: the process's resident set now and at its peak.
    Both are counters in ``status``; reading them costs no page-table
    walk, unlike ``smaps_rollup``, which takes about 20 ms on a 3 GB JVM
    and holds its memory-map lock meanwhile."""
    rss = hwm = 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
    except OSError:
        pass
    return rss, hwm
