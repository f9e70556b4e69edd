"""Where the CPU of one benchmark window goes, by thread group.

Runs ``perfbench/run.py`` in this process (the plain, untraced run) with
the workload's timed ``run`` wrapped by a sampler that reads
``/proc/<pid>/task/*/stat`` of every thread in the process tree every
50 ms. After the run it prints the window's CPU seconds by group: the
JVM's C2 and C1 JIT compiler threads, its GC threads, the py4j threads
that run the Python driver's calls (``Thread-*``), executor task
threads, the AQE and scheduler threads, the other JVM threads, the
Python driver and the Python workers. The total is checked against
``perfbench/procstat.py``'s process-level reading of the same window.

A thread that starts inside the window counts from zero and one that
exits counts up to its last sample: HotSpot starts and stops C2
compiler threads as the compile queue grows and shrinks, so they come
and go within one request. The CPU a thread spends between its last
sample and its exit is lost, which is why the thread total can read a
little below the process-level one.

Usage, from the repository root::

    python tools/jvm_cpu.py --workload api_analyze --seed 7 [--seconds 1]

perfbench's own output comes first, as ``perfbench/run.py`` prints
it, then the table. Nothing is written in the repository beyond what
``perfbench/run.py`` writes under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
_TICK = os.sysconf("SC_CLK_TCK")
INTERVAL_S = 0.05

#: JVM thread groups, by prefix of the thread's (15-character) name
_JVM_GROUPS = (
    ("JIT C2 compiler", ("C2 CompilerThre",)),
    ("JIT C1 compiler", ("C1 CompilerThre",)),
    ("GC", ("GC Thread", "G1 ")),
    ("py4j driver threads", ("Thread-",)),
    ("executor tasks", ("Executor task",)),
    ("AQE/scheduler", (
        "QueryStageCreat", "ResultQueryStag", "shuffle-exchang", "broadcast-excha",
        "subquery", "dag-scheduler", "task-result-get", "map-output-disp",
        "dispatcher-even", "spark-listener",
    )),
)
_GROUPS = [g for g, _ in _JVM_GROUPS] + [
    "other JVM threads", "Python driver", "Python workers", "other processes",
]


def _group(name: str, process: str) -> str:
    if process == "java":
        for group, prefixes in _JVM_GROUPS:
            if name.startswith(prefixes):
                return group
        return "other JVM threads"
    return process


class ThreadSampler:
    """Per-thread CPU of the process tree between ``start()`` and
    ``stop()``, by group (module docstring)."""

    def __init__(self, root: int):
        import procstat  # perfbench/procstat.py, on the path main() sets

        self.root = root
        self._tree = procstat.tree
        self._base: dict[tuple, float] = {}
        self._last: dict[tuple, tuple[str, float]] = {}
        # one open stat file per thread, re-read with pread: opening
        # ~150 files every 50 ms would cost the driver process more
        self._fds: dict[tuple[int, int], int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.own_cpu_s = 0.0

    def _process(self, pid: int) -> str:
        if pid == self.root:
            return "Python driver"
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            return "other processes"
        if comm == "java":
            return "java"
        return "Python workers" if comm.startswith("python") else "other processes"

    def _stat(self, pid: int, tid: int) -> bytes:
        """One thread's stat line, empty once the thread is gone."""
        fd = self._fds.get((pid, tid))
        try:
            if fd is None:
                fd = self._fds[(pid, tid)] = os.open(
                    f"/proc/{pid}/task/{tid}/stat", os.O_RDONLY
                )
            return os.pread(fd, 1024, 0)
        except OSError:
            if fd is not None:
                os.close(self._fds.pop((pid, tid)))
            return b""

    def _sample(self) -> dict[tuple, tuple[str, float]]:
        """{(pid, tid, start tick): (group, cpu seconds)} of every thread."""
        snap = {}
        for pid in self._tree(self.root):
            process = self._process(pid)
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in map(int, tids):
                raw = self._stat(pid, tid)
                if not raw:
                    continue
                name = raw[raw.index(b"(") + 1 : raw.rindex(b")")].decode(errors="replace")
                fields = raw[raw.rindex(b")") + 2 :].split()
                cpu = (int(fields[11]) + int(fields[12])) / _TICK
                snap[(pid, tid, int(fields[19]))] = (_group(name, process), cpu)
        return snap

    def _record(self, snap: dict) -> None:
        for key, (group, cpu) in snap.items():
            self._base.setdefault(key, 0.0)
            self._last[key] = (group, cpu)

    def _loop(self) -> None:
        while not self._stop.wait(INTERVAL_S):
            self._record(self._sample())
        self.own_cpu_s = time.thread_time()

    def start(self) -> None:
        snap = self._sample()
        self._base = {key: cpu for key, (_, cpu) in snap.items()}
        self._last = dict(snap)
        self._thread.start()

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join()
        self._record(self._sample())
        for fd in self._fds.values():
            os.close(fd)
        self._fds.clear()
        by_group = dict.fromkeys(_GROUPS, 0.0)
        for key, (group, cpu) in self._last.items():
            by_group[group] += cpu - self._base[key]
        return by_group


def report(by_group: dict[str, float], process_cpu: float, ops: int,
           wall: float, sampler_cpu: float) -> None:
    total = sum(by_group.values())
    print(f"timed window: {ops} ops in {wall:.2f} s")
    print(f"{'group':28s} {'CPU s':>8s} {'share':>7s}")
    for group, cpu in sorted(by_group.items(), key=lambda kv: -kv[1]):
        print(f"{group:28s} {cpu:8.2f} {cpu / total if total else 0:7.1%}")
    print(f"{'total over threads':28s} {total:8.2f}")
    print(f"{'procstat (process level)':28s} {process_cpu:8.2f}")
    print(f"sampler's own CPU {sampler_cpu:.2f} s, counted under Python driver")


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=1)
    args = parser.parse_args()

    sys.path[:0] = [PERFBENCH, ROOT]
    import procstat
    import run as perfbench_run

    mod = __import__(perfbench_run.WORKLOADS[args.workload])
    timed = mod.Workload.run
    seen = {}

    def run_sampled(self, seconds):
        threads = ThreadSampler(os.getpid())
        process = procstat.TreeSampler(os.getpid())
        t0 = time.perf_counter()
        process.start()
        threads.start()
        try:
            res = timed(self, seconds)
        finally:
            by_group = threads.stop()
            process_cpu, _ = process.stop()
        seen.update(res=res, by_group=by_group, process_cpu=process_cpu,
                    wall=time.perf_counter() - t0, sampler_cpu=threads.own_cpu_s)
        return res

    mod.Workload.run = run_sampled
    sys.argv = [os.path.join(PERFBENCH, "run.py"), "--workload", args.workload,
                "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    os.chdir(ROOT)
    status = perfbench_run.main()
    if seen:
        report(seen["by_group"], seen["process_cpu"], seen["res"]["ops"],
               seen["wall"], seen["sampler_cpu"])
    return status


if __name__ == "__main__":
    sys.exit(main())
