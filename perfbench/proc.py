"""Process-tree figures read from /proc: the benchmark's driver, its JVM
and the JVM's Python workers form one tree."""

from __future__ import annotations

import os

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree(pid: int) -> list[int]:
    pids, todo = [], [pid]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(children(p))
    return pids


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def cpu_seconds(pid: int) -> float:
    """User plus system CPU of ``pid`` and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            # fields after the parenthesised command name, which may hold spaces
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return 0.0
    return sum(int(x) for x in fields[11:15]) / TICK


def tree_rss_bytes(pid: int) -> int:
    return sum(rss_bytes(p) for p in tree(pid))


def tree_cpu_seconds(pid: int) -> float:
    """CPU time the tree has used.  Time the hypervisor steals from the
    machine is not charged to any process."""
    return sum(cpu_seconds(p) for p in tree(pid))


def worker_cpu_seconds(pid: int) -> float:
    """CPU time of the Python workers: every process below the driver's
    child (the JVM), without the JVM itself, whose JIT compiler and
    collector make its own CPU time drift through a run."""
    return sum(cpu_seconds(p) for jvm in children(pid) for p in tree(jvm) if p != jvm)
