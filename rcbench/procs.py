"""Process-tree accounting read from /proc: CPU seconds by role, peak
RSS and host steal time.

Roles in a local-mode PySpark run:

- ``driver``: this Python process (load generator, wire server, driver
  side of the engine);
- ``jvm``: the Spark JVM child (driver and executors share it);
- ``pyworker``: Python processes under the JVM (the worker daemon and
  the workers it forks for ``mapInPandas`` and friends).

CPU of a process that has exited and been reaped is kept in its
parent's ``cutime``/``cstime``, so it is counted with the parent's role.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

#: a slice of the measured window in which other tenants of the host
#: stole more than this share of one CPU is "disturbed" (see NOTES.md)
STEAL_MAX = 0.1
#: the measured window grows to at most this many times its length
#: while it waits for quiet slices
MAX_STRETCH = 1.5

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            s = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    comm = s[s.index("(") + 1 : s.rindex(")")]
    rest = s[s.rindex(")") + 2 :].split()
    # post-comm fields: 1=ppid, 11=utime 12=stime 13=cutime 14=cstime
    ticks = sum(int(rest[i]) for i in (11, 12, 13, 14))
    return int(rest[1]), comm, ticks / _CLK


def _tree(root: int) -> dict[int, tuple[int, str, float]]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            stack.extend(kids.get(pid, []))
    return out


def _role(pid: int, tree: dict[int, tuple[int, str, float]]) -> str:
    if pid == os.getpid():
        return "driver"
    # walk up: anything below the JVM that is not the JVM is a worker
    p = pid
    while p in tree and p != os.getpid():
        if tree[p][1] == "java":
            return "jvm" if p == pid else "pyworker"
        p = tree[p][0]
    return "driver"


def tree_pids() -> list[int]:
    return list(_tree(os.getpid()))


def cpu_by_role() -> dict[str, float]:
    """CPU seconds so far of this process tree, split by role."""
    tree = _tree(os.getpid())
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (_, _, cpu) in tree.items():
        out[_role(pid, tree)] += cpu
    return out


def cpu_total() -> float:
    return sum(cpu_by_role().values())


def steal_seconds() -> float:
    """Host steal time so far, summed over all CPUs (/proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK


class PeakRss:
    """Summed peak resident set (VmHWM) of every process of the tree.
    ``sample`` records each live process's high-water mark; a process
    that exits keeps the last mark sampled."""

    def __init__(self) -> None:
        self._hwm_kb: dict[int, int] = {}
        self._role: dict[int, str] = {}

    def sample(self) -> None:
        tree = _tree(os.getpid())
        for pid in tree:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self._hwm_kb[pid] = max(self._hwm_kb.get(pid, 0), kb)
                            self._role[pid] = _role(pid, tree)
                            break
            except OSError:
                continue

    def total_mb(self) -> float:
        return sum(self._hwm_kb.values()) / 1024.0

    def by_role_mb(self) -> dict[str, float]:
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, kb in self._hwm_kb.items():
            out[self._role[pid]] += kb / 1024.0
        return out


@dataclass
class Slice:
    """One stretch of the measured window: wall time, host steal and
    process-tree CPU by role."""

    t0: float
    t1: float
    steal: float
    cpu: dict[str, float]

    @property
    def quiet(self) -> bool:
        return self.steal <= STEAL_MAX * (self.t1 - self.t0)


class SliceClock:
    """Cuts the measured window into slices; ``cut`` closes the current
    slice and opens the next."""

    def __init__(self) -> None:
        self.slices: list[Slice] = []
        self._t, self._steal, self._cpu = time.perf_counter(), steal_seconds(), cpu_by_role()

    def cut(self) -> Slice:
        t, steal, cpu = time.perf_counter(), steal_seconds(), cpu_by_role()
        sl = Slice(self._t, t, steal - self._steal, {k: v - self._cpu[k] for k, v in cpu.items()})
        self.slices.append(sl)
        self._t, self._steal, self._cpu = t, steal, cpu
        return sl

    def quiet_seconds(self) -> float:
        return sum(s.t1 - s.t0 for s in self.slices if s.quiet)

    def done(self, seconds: float) -> bool:
        """True once ``seconds`` of quiet slices are in hand, or after
        ``MAX_STRETCH`` times ``seconds`` in all."""
        total = sum(s.t1 - s.t0 for s in self.slices)
        return self.quiet_seconds() >= seconds or total >= MAX_STRETCH * seconds

    def kept(self, seconds: float) -> list[Slice]:
        """The quiet slices, or every slice when the quiet ones add up
        to less than half of ``seconds`` (a host busy all run long)."""
        quiet = [s for s in self.slices if s.quiet]
        return quiet if self.quiet_seconds() >= seconds / 2 else list(self.slices)
