"""CPU seconds of a process tree, read from ``/proc`` (Linux only).

A process's ``utime + stime`` covers its own threads; ``cutime + cstime``
covers children it has already reaped, so summing all four over the live
tree counts every process that ever ran under the root, including Spark's
short-lived Python workers once their parent has waited for them.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while the tree was walked
        return None
    # the command name is parenthesised and may contain spaces
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree() -> dict[int, list[str]]:
    """``pid -> stat fields`` for this process and all its descendants."""
    root = os.getpid()
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st[1]
                children.setdefault(st[0], []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def _cpu(fields: list[str]) -> float:
    # fields[11..14] are utime, stime, cutime, cstime (stat fields 14..17)
    return sum(int(x) for x in fields[11:15]) / _TICK


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process's whole tree."""
    return sum(_cpu(f) for f in tree().values())


def python_worker_cpu_s() -> float:
    """CPU seconds of Spark's Python worker processes (``pyspark.daemon``
    and the workers it forks) under this process."""
    return sum(
        _cpu(f)
        for pid, f in tree().items()
        if "pyspark.daemon" in _cmdline(pid) or "pyspark.worker" in _cmdline(pid)
    )


def host_ticks() -> tuple[int, int]:
    """``(busy, steal)`` clock ticks of the whole machine so far, from the
    first line of ``/proc/stat``. Steal is time the hypervisor ran someone
    else while the machine's CPUs wanted to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    return user + nice + system + irq + softirq, steal


def interference(before: tuple[int, int], after: tuple[int, int], own_cpu_s: float, wall_s: float) -> float:
    """Share of the machine's CPU capacity over ``wall_s`` that others took
    between two ``host_ticks`` readings: CPU stolen by the hypervisor plus
    CPU used by processes outside this tree (other containers share the
    machine)."""
    busy = (after[0] - before[0]) / _TICK
    steal = (after[1] - before[1]) / _TICK
    capacity = (os.cpu_count() or 1) * wall_s
    return (max(busy - own_cpu_s, 0.0) + steal) / capacity if capacity > 0 else 0.0


def descendants() -> list[int]:
    return [p for p in tree() if p != os.getpid()]
