"""Process and host accounting read from /proc.

``tree_cpu_s`` is the benchmark's cost meter: the CPU seconds (user +
system) spent so far by this driver process and every process below it --
the Spark JVM and its Python workers, including workers already exited and
reaped.  Time the host's hypervisor steals from the guest is not in it, so
it holds steady when a shared host gets busy, where wall time does not.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _table() -> dict:
    """pid -> stat fields of every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                out[int(name)] = fields
    return out


def children(pid: int) -> list:
    return [p for p, f in _table().items() if int(f[1]) == pid]


def alive(pid: int) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z"


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` (default: this process) and its descendants;
    utime + stime + cutime + cstime, so reaped children stay counted."""
    table = _table()
    kids: dict = {}
    for pid, f in table.items():
        kids.setdefault(int(f[1]), []).append(pid)
    todo, ticks = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        f = table.get(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
        todo.extend(kids.get(pid, ()))
    return ticks / CLK_TCK


def cpu_times() -> list:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list, after: list) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / (sum(delta) or 1)
