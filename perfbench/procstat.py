"""CPU and memory of a process tree, read from ``/proc``.

The tree is the benchmark process plus every descendant: the Spark
driver JVM and the ``pyspark.daemon`` Python workers it forks. Nothing
here talks to Spark, so sampling costs the engine nothing but the
reads.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds, rss bytes) of one process, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    fields = raw[raw.rindex(b")") + 2 :].split()
    ppid = int(fields[1])
    cpu = (int(fields[11]) + int(fields[12])) / _TICK
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss


def tree(root: int) -> dict[int, tuple[float, int]]:
    """{pid: (cpu seconds, rss bytes)} for ``root`` and its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Samples the tree on a thread between ``start()`` and ``stop()``.

    ``stop()`` returns (cpu seconds spent by the tree in the window,
    peak summed RSS in MB). A process that starts inside the window
    counts from zero; one that exits counts up to its last sample.
    """

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self._base: dict[int, float] = {}
        self._last: dict[int, float] = {}
        self._peak = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        snap = tree(self.root)
        for pid, (cpu, _) in snap.items():
            self._base.setdefault(pid, 0.0)
            self._last[pid] = cpu
        total = sum(rss for _, rss in snap.values())
        if total > self._peak:
            self._peak, self.peak_procs = total, len(snap)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        snap = tree(self.root)
        self._base = {pid: cpu for pid, (cpu, _) in snap.items()}
        self._last = dict(self._base)
        self._thread.start()

    def stop(self) -> tuple[float, float]:
        self._stop.set()
        self._thread.join()
        self._sample()
        cpu = sum(self._last[pid] - self._base[pid] for pid in self._last)
        return cpu, self._peak / 2**20
