"""Host context read from ``/proc``: CPU steal, load and the CPU time of a
process tree. Read-only; nothing here changes the machine."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two readings that the hypervisor
    stole from this guest."""
    # guest time is already counted in user/nice, so sum the first 8 fields
    total = sum(after[:8]) - sum(before[:8])
    return (after[7] - before[7]) / total if total > 0 else 0.0


def processes() -> dict[int, list[str]]:
    """Every live process's ``/proc/<pid>/stat`` fields after the command
    name: state, ppid, pgrp, session, ... (field 3 of the full line on)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                raw = f.read()
        except OSError:
            continue
        out[int(name)] = raw[raw.rfind(")") + 2 :].split()
    return out


def group_alive(pgid: int) -> bool:
    """Whether any process of process group ``pgid`` is still running."""
    return any(f[0] != "Z" and int(f[2]) == pgid for f in processes().values())


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root`` and all its live descendants, each
    including the time of children it has already reaped — so a Python
    worker that exited is still counted, through its parent."""
    procs = processes()
    children: dict[int, list[int]] = {}
    for pid, f in procs.items():
        children.setdefault(int(f[1]), []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            # utime stime cutime cstime: fields 14-17 of the full line
            total += sum(int(x) for x in procs[pid][11:15]) / _TICK
        todo.extend(children.get(pid, ()))
    return total


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]
