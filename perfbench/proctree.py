"""Totals over a process and all its descendants, read from ``/proc``.

A Spark run is a tree: the Python driver, the JVM it launches, and the
Python workers the JVM forks.  Memory and CPU time are summed over it.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> dict[int, list[str]]:
    """pid → the ``/proc/<pid>/stat`` fields after the command name, for
    ``root`` and every live descendant."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process ended while we looked
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def pss_bytes(root: int) -> int:
    """Proportional set size of the tree: each page a process shares (as
    forked Python workers share their daemon's) counts once in total, not
    once per process as in resident size."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # the process ended while we looked
    return total * 1024


def cpu_s(root: int) -> float:
    """CPU time the tree has used: user + system of every live process,
    plus that of the children each has already reaped.  Time the
    hypervisor steals from the host's CPUs is not in these counters."""
    return sum(sum(int(x) for x in f[11:15]) for f in _tree(root).values()) / TICK
