"""Process CPU of one request's chains, split into building and running.

Starts a fresh JVM with the benchmark's session settings
(``perfbench/run.start_spark``) and sends the route's benchmark body for
``--seed`` (FIXTURES.md §1.1 hourly documents for ``analyze``, §1.2
nested order documents for ``saturating``) straight to the pipeline,
four times. Request 1 warms the JVM up. Requests 2-4 run the chains the
pipeline submits concurrently one at a time: the preparation, the stats
action, then the diagnostics, each forecast fold, Granger and the
describes as the request holds them. For each chain the tool prints the
CPU seconds of the whole process tree (Python driver, JVM, Python
workers; read with ``perfbench/procstat.py``) spent

* **build**: from the chain's start to its first ``collect``, i.e.
  DataFrame construction with its eager analysis;
* **run**: inside that ``collect``, i.e. optimization, planning,
  code generation and the jobs;
* **after**: after the ``collect`` (sorting and assembling rows).

``other`` is the rest of the request: the per-correlation assembly.
Each chain's figures are the median over requests 2-4. A process that
exits inside a chain loses its CPU since the last read, so short-lived
Python workers can read a little low.

Usage, from the repository root::

    python tools/request_cpu.py --route analyze --seed 7

Nothing is written in the repository beyond a work directory under
``.perfbench/``, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from concurrent.futures import Future
from contextlib import ExitStack, contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
REQUESTS = 4


class Chains:
    """CPU of the chains of the current request, keyed by chain name."""

    def __init__(self, cpu):
        self.cpu = cpu
        self.rows: dict[str, tuple[float, float, float]] = {}
        self._current: dict | None = None

    @contextmanager
    def chain(self, name: str):
        start = self.cpu()
        self._current = current = {"collect": None}
        try:
            yield
        finally:
            end = self.cpu()
            self._current = None
            if current["collect"] is None:
                self.rows[name] = (end - start, 0.0, 0.0)
            else:
                c0, c1 = current["collect"]
                self.rows[name] = (c0 - start, c1 - c0, end - c1)

    def timed_collect(self, collect):
        def wrapper(df):
            current = self._current
            if current is None or current["collect"] is not None:
                return collect(df)
            c0 = self.cpu()
            try:
                return collect(df)
            finally:
                current["collect"] = (c0, self.cpu())

        return wrapper


def instrument(pipeline, chains: Chains) -> None:
    """Run ``pipeline``'s concurrent chains one at a time, each inside
    ``chains.chain``, and time the preparation and the stats action."""

    class OneAtATime:
        def __init__(self, *args, **kwargs):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def submit(self, fn, *args):
            name = fn.__name__ + (f"({', '.join(map(repr, args))})" if args else "")
            future: Future = Future()
            with chains.chain(name):
                try:
                    future.set_result(fn(*args))
                except BaseException as exc:  # noqa: BLE001 — re-raised by result()
                    future.set_exception(exc)
            return future

    prepared_legs, leg_stats = pipeline._prepared_legs, pipeline._leg_stats

    @contextmanager
    def timed_prepared_legs(*args, **kwargs):
        with ExitStack() as stack:
            with chains.chain("prepare"):
                value = stack.enter_context(prepared_legs(*args, **kwargs))
            yield value

    def timed_leg_stats(*args, **kwargs):
        with chains.chain("stats"):
            return leg_stats(*args, **kwargs)

    pipeline.ThreadPoolExecutor = OneAtATime
    pipeline._prepared_legs = timed_prepared_legs
    pipeline._leg_stats = timed_leg_stats


def report(requests: list[tuple[float, dict]]) -> None:
    names = list(requests[0][1])
    print(f"{'chain':34s} {'build s':>8s} {'run s':>8s} {'after s':>8s}")
    med = statistics.median
    for name in names:
        build, run, after = (med([rows[name][i] for _, rows in requests]) for i in range(3))
        print(f"{name:34s} {build:8.2f} {run:8.2f} {after:8.2f}")
    other = med([total - sum(map(sum, rows.values())) for total, rows in requests])
    print(f"{'other':34s} {other:8.2f}")
    print(f"{'request total':34s} {med([total for total, _ in requests]):8.2f}")
    print("per request (build + run + after of every chain, total):")
    for i, (total, rows) in enumerate(requests, start=2):
        print(f"  request {i}: chains {sum(map(sum, rows.values())):.2f} s, total {total:.2f} s")


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--route", choices=("analyze", "saturating"), required=True)
    parser.add_argument("--seed", type=int, required=True)
    args = parser.parse_args()

    work = os.path.join(ROOT, ".perfbench", "work", f"request_cpu-{os.getpid()}")
    sys.path[:0] = [PERFBENCH, ROOT]
    import numpy as np

    import api
    import procstat
    import run as perfbench_run

    perfbench_run._prepare_env(work)
    try:
        spark = perfbench_run.start_spark(work)
        from temporal_retriever_spark import pipeline
        from temporal_retriever_spark.api.models import parse_analyze_request

        body = json.loads(api.prepare(np.random.default_rng(args.seed), work)[args.route])
        endpoint = {"analyze": "analyze", "saturating": "saturating_growth"}[args.route]
        run = getattr(pipeline, endpoint)
        root = os.getpid()
        chains = Chains(lambda: sum(cpu for cpu, _ in procstat.tree(root).values()))
        run(spark, parse_analyze_request(body))  # request 1: warm-up
        instrument(pipeline, chains)
        frame = type(spark.range(1))  # the session's concrete DataFrame class
        frame.collect = chains.timed_collect(frame.collect)
        requests = []
        for _ in range(REQUESTS - 1):
            chains.rows = {}
            start = chains.cpu()
            run(spark, parse_analyze_request(body))
            requests.append((chains.cpu() - start, chains.rows))
        print(f"{args.route}, seed {args.seed}: process-tree CPU seconds, "
              f"median of requests 2-{REQUESTS}")
        report(requests)
    finally:
        perfbench_run.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
