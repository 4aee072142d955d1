"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own process plus every descendant: the Spark
driver JVM and the Python workers it forks. CPU time counts ``cutime`` and
``cstime`` too, so a worker that exits inside a measured interval still
adds its time once its parent has reaped it.

``jit_seconds`` is the part of that CPU time spent in the JVM's JIT
compiler threads. It varies from run to run and says nothing about the
engine, so the benchmark leaves it out of ``cpu_s``. The JVM must keep its
compiler threads for its whole life (``-XX:-UseDynamicNumberOfCompilerThreads``):
the time of a compiler thread that exits is folded into its process and
can no longer be told apart.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree() -> list[tuple[int, int]]:
    """(pid, parent pid) of this process and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [(os.getpid(), 0)]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo.extend((c, pid) for c in children.get(pid, ()))
    return out


def tree_pids() -> list[int]:
    """This process and all of its live descendants."""
    return [pid for pid, _ in _tree()]


def cpu_seconds() -> float:
    """utime + stime + cutime + cstime summed over the tree, in seconds."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields:
            # fields[11:15] are utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


# The JIT compiler threads' names as /proc gives them (cut to 15 characters).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _thread_stat(pid: int, tid: str) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/task/{tid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def jit_seconds() -> float:
    """utime + stime of the JIT compiler threads in the tree, in seconds."""
    total = 0
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            stat = _thread_stat(pid, tid)
            if stat and stat[0].startswith(JIT_THREADS):
                total += int(stat[1][11]) + int(stat[1][12])
    return total / _TICK


def _statm(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return f.read().split()
    except OSError:
        return None


def rss_mb() -> float:
    """Resident set size summed over this process's tree, in MiB.

    A child caught between a vfork-style spawn and its exec still shares
    its parent's address space and reports the parent's exact ``statm``;
    it is skipped so that address space is not counted twice."""
    return resident_pages({pid: (ppid, _statm(pid)) for pid, ppid in _tree()}) * _PAGE / 2**20


def resident_pages(tree: dict[int, tuple[int, list[str] | None]]) -> int:
    """Summed resident pages of ``{pid: (parent pid, statm fields)}``,
    skipping a child whose ``statm`` equals its parent's."""
    return sum(
        int(m[1]) for ppid, m in tree.values()
        if m and m != tree.get(ppid, (0, None))[1]
    )


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    this machine's CPUs (``steal`` in ``/proc/stat``). A pass that loses
    much of it ran on a busy host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class PeakRss:
    """Samples the tree's summed RSS on a background thread; ``peak`` is the
    largest sample seen between ``start()`` and ``stop()``, and ``cpu_s``
    the CPU time the sampling itself took, so a caller can leave it out."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, rss_mb())
            if self._stop.wait(self.interval_s):
                self.cpu_s = time.thread_time()
                return

    def start(self) -> "PeakRss":
        self.peak = rss_mb()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak = max(self.peak, rss_mb())
        return self.peak

