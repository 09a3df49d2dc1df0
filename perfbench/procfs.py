"""CPU time and resident memory of this process and all its descendants.

Reads ``/proc/<pid>/stat``. The tree of a run is the harness, the Spark
driver JVM it launches and the Python workers that JVM forks. CPU time
counts ``utime + stime + cutime + cstime`` per process, so a worker that
exits inside a window still counts once its parent has reaped it.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict:
    """pid -> (ppid, cpu ticks, rss pages) for every readable process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:      # the process ended between listdir and open
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        table[int(name)] = (int(fields[1]),
                            sum(int(x) for x in fields[11:15]),
                            int(fields[21]))
    return table


def _tree(table: dict, root: int) -> list:
    children: dict = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            found.append(pid)
            stack.extend(children.get(pid, ()))
    return found


def tree_usage(root: int) -> tuple:
    """(cpu seconds, rss bytes) summed over ``root`` and its descendants."""
    table = _proc_table()
    pids = _tree(table, root)
    return (sum(table[p][1] for p in pids) / _TICK,
            sum(table[p][2] for p in pids) * _PAGE)


def descendants(root: int) -> set:
    return set(_tree(_proc_table(), root)) - {root}


def wait_gone(pids: set, timeout: float) -> None:
    """Wait until none of ``pids`` runs any more; kill what outlives
    ``timeout``. A pid still listed as a zombie counts as gone."""
    deadline, killed = time.monotonic() + timeout, False
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                return
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:     # ended meanwhile
                    pass
            deadline, killed = time.monotonic() + 10, True
        time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def host_cpu_ticks() -> list:
    """The machine-wide ``cpu`` line of ``/proc/stat``: user, nice,
    system, idle, iowait, irq, softirq, steal, ... in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list, after: list) -> float:
    """Share of the machine's CPU time between two readings that the
    hypervisor gave to other guests."""
    total = sum(after[:8]) - sum(before[:8])
    return (after[7] - before[7]) / total if total else 0.0


class PeakRss:
    """Context manager sampling the tree's summed RSS every ``interval``
    seconds in a background thread; ``peak`` holds the largest sample."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            self.peak = max(self.peak, tree_usage(self.root)[1])
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_usage(self.root)[1])
