"""Process-tree accounting from ``/proc``.

A run's tree is the Python driver, the JVM it launches, and the PySpark
daemon and workers the JVM forks (the daemon starts its own process
group, so the tree is followed through parent links).  Memory is the sum
of proportional set sizes, so pages the forked workers share are counted
once; ``resource.getrusage`` cannot see the live JVM at all.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # exited meanwhile
        return None
    # fields after the parenthesised command name, which may hold spaces:
    # [0] state, [1] ppid, [11] utime, [12] stime, [19] starttime, [21] rss
    return raw[raw.rindex(")") + 2:].split()


def identity(pid: int) -> tuple[int, str] | None:
    """``(pid, start time)``: stays unique if the pid is reused."""
    f = _stat(pid)
    return None if f is None or f[0] == "Z" else (pid, f[19])


def alive(ident: tuple[int, str]) -> bool:
    return identity(ident[0]) == ident


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None and f[0] != "Z":
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and its live descendants,
    with what each has collected from children it reaped, so a worker
    that ends between two readings still counts."""
    total = 0
    for pid in tree(root):
        f = _stat(pid)
        if f is not None:  # [13] cutime, [14] cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def resident_kb(pid: int) -> int:
    """Proportional set size, or the resident size where that is unknown."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    f = _stat(pid)
    return 0 if f is None else int(f[21]) * _PAGE_KB


def host_ticks() -> list[int]:
    """The host's CPU time counters, the ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time between two readings that the
    hypervisor gave to other guests (``steal``, the eighth counter)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0
