"""CPU seconds spent by the benchmark's process tree, and the host's
steal time, read from ``/proc``.

The tree is the benchmark process, the Spark JVM it starts and every
descendant of that JVM (the PySpark daemon, its Python workers, and
the short-lived commands Hadoop's local file system runs). A process's
user and system time exclude the time the hypervisor ran other guests
on its CPU (steal), so on a shared host the CPU seconds of a fixed
piece of work move far less than its wall time does.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_HZ = os.sysconf("SC_CLK_TCK")


def _fields(path: str) -> tuple[str, list[str]] | None:
    """(command name, the fields after it) of a ``/proc`` stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:  # the process or thread ended between listing and reading
        return None
    name, rest = raw[raw.index("(") + 1:].rsplit(")", 1)
    return name, rest.split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and all its descendants. A child that has
    ended and been waited for is counted in its parent's
    ``cutime``/``cstime``, so nothing is lost or counted twice."""
    stats: dict[int, tuple[int, float]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (st := _fields(f"/proc/{pid}/stat")) is not None:
            rest = st[1]
            stats[int(pid)] = (int(rest[1]), sum(int(x) for x in rest[11:15]) / _HZ)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads. The JVM must run
    with ``-XX:-UseDynamicNumberOfCompilerThreads``, so that no
    compiler thread ends and takes its count with it."""
    total = 0.0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        st = _fields(f"/proc/{jvm_pid}/task/{tid}/stat")
        if st is not None and "CompilerThre" in st[0]:
            total += (int(st[1][11]) + int(st[1][12])) / _HZ
    return total


def steal_s() -> float:
    """Seconds of steal summed over the guest's CPUs since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ


class Units:
    """Wall time, CPU seconds of the whole tree, and the JIT compiler's
    share of those CPU seconds, for each measured unit of work (a
    drain, a pass)."""

    def __init__(self, jvm_pid: int):
        self.root = os.getpid()
        self.jvm_pid = jvm_pid
        self.wall_s: list[float] = []
        self.cpu_s: list[float] = []
        self.jit_s: list[float] = []

    @contextmanager
    def unit(self):
        t0, c0, j0 = time.perf_counter(), tree_cpu_s(self.root), jit_cpu_s(self.jvm_pid)
        yield
        t1, c1, j1 = time.perf_counter(), tree_cpu_s(self.root), jit_cpu_s(self.jvm_pid)
        self.wall_s.append(t1 - t0)
        self.jit_s.append(j1 - j0)
        self.cpu_s.append(c1 - c0)
