"""CPU time and resident memory of this process and all its descendants
(the Spark JVM, this Python process and the Python workers), from /proc."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                raw = fh.read()
        except OSError:  # exited while we listed
            continue
        # fields after the parenthesised command, which may hold spaces
        out[int(name)] = raw[raw.rindex(")") + 2:].split()
    return out


def _tree(stats: dict[int, list[str]], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(kids.get(pid, []))
    return seen


def host_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine, from /proc/stat: the
    time the hypervisor ran other guests on this machine's CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_seconds(root: int | None = None) -> float:
    """User + system CPU of the live tree, including children it reaped."""
    stats = _stats()
    total = 0
    for pid in _tree(stats, root or os.getpid()):
        f = stats.get(pid)
        if f:  # utime stime cutime cstime are fields 14-17 of stat
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def memory_mb(root: int | None = None) -> float:
    """Resident memory of the tree with shared pages counted once: the sum
    of each process's proportional set size. Python workers are forked
    from one daemon and share most of their pages; summing plain RSS would
    count those pages once per worker."""
    stats = _stats()
    kb = 0
    for pid in _tree(stats, root or os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                kb += next(int(line.split()[1]) for line in fh
                           if line.startswith("Pss:"))
        except (OSError, StopIteration):  # exited, or a kernel thread
            continue
    return kb / 1e3


class PeakMemory:
    """Samples the tree's memory every ``interval`` seconds while the
    ``with`` block runs; ``peak_mb`` is the largest sample and
    ``cpu_s`` the CPU the sampling itself used, which callers subtract
    from the tree's CPU. Reading the JVM's ``smaps_rollup`` costs a few
    milliseconds of kernel time, so sampling four times a second would
    take about a tenth of a core from the job it measures."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, memory_mb())
            self.cpu_s = time.thread_time()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
