#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload api_analyze --seed 1 --seconds 1 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end set; with ``--trace 1``
the session runs with the event log on and the window is split in two
halves, untraced then traced (spans around the engine's public calls),
and the metrics are the per-layer set plus the tracing overhead. See
``perfbench/README.md``.

Everything the run writes stays under ``.perfbench/`` in the checkout;
the per-run work directory is removed at exit, trace files are kept.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "api_analyze": "api",
    "series_batch": "series",
    "corpus_llm": "corpus",
    "stream_replay": "stream",
}
SETUP_REPS = 3
MASTER = "local[4]"

#: per-layer metrics printed by ``--trace 1``, as ``<row>.<field>``
_COUNT = ("jobs", "stages", "tasks", "digest_mismatches", "pairs_out", "batches",
          "state_rows")


def _rows(row: str, *fields: str) -> list[str]:
    return [f"{row}.{f}" for f in fields]


#: per-layer rows each workload runs, as ``<row>.<field>``
LAYERS = {
    "api_analyze": [
        *_rows("http.analyze", "wall_s"),
        *_rows("http.saturating_growth", "wall_s"),
        "server.overhead_s",
        *_rows("pipeline.analyze", "wall_s", "driver_s", "jobs", "stages", "tasks", "cpu_s",
               "task_s", "shuffle_mb"),
        *_rows("pipeline.saturating_growth", "wall_s", "jobs", "stages"),
        *_rows("api.models.parse_analyze_request", "wall_s"),
        *_rows("ingest.documents_df", "wall_s"),
        *_rows("site.pipeline.analyze", "jobs", "stages", "tasks", "cpu_s"),
        *_rows("site.pipeline.run_fold", "jobs", "stages", "tasks", "cpu_s"),
        *_rows("site.pipeline.run_granger", "stages", "cpu_s"),
        *_rows("site.pipeline.saturating_growth", "jobs", "stages", "cpu_s"),
        "check.digest_mismatches",
    ],
    "series_batch": [
        *_rows("sources.load_tables", "wall_s"),
        *_rows("aggregate.bucket_aggregate", "wall_s", "stages", "tasks", "cpu_s", "shuffle_mb"),
        *_rows("aggregate.bucket_aggregate_multi", "wall_s", "driver_s", "stages", "tasks",
               "cpu_s", "task_s", "shuffle_mb", "gc_s", "spill_mb"),
        *_rows("diagnostics.acf_pacf", "wall_s", "stages", "tasks", "cpu_s", "shuffle_mb"),
        *_rows("forecast.forecast_linear_seasonal", "wall_s", "jobs", "stages", "tasks", "cpu_s",
               "shuffle_mb"),
        *_rows("align.coalesce_actuals", "wall_s", "stages", "cpu_s"),
        *_rows("forecast.forecast_with_covariate", "wall_s", "jobs", "stages", "tasks", "cpu_s",
               "shuffle_mb"),
    ],
    "corpus_llm": [
        *_rows("llm.text.text_stats", "wall_s", "tasks", "cpu_s"),
        *_rows("llm.dedup.near_dup_pairs", "wall_s", "stages", "tasks", "cpu_s", "shuffle_mb",
               "pairs_out"),
        *_rows("llm.filters.repetition_stats", "wall_s", "tasks", "cpu_s"),
        *_rows("llm.lm.train_kn_lm", "wall_s", "stages", "tasks", "cpu_s", "shuffle_mb"),
        *_rows("llm.lm.score_kn_lm", "wall_s", "stages", "tasks", "cpu_s", "shuffle_mb"),
        *_rows("llm.similarity.cosine_topk", "wall_s", "tasks", "cpu_s", "shuffle_mb"),
    ],
    "stream_replay": [
        *_rows("streaming.streaming_bucket_aggregate", "wall_s", "jobs", "tasks", "cpu_s"),
        *_rows("streaming.streaming_series_state", "wall_s", "jobs", "tasks", "cpu_s"),
        *_rows("streaming", "batches", "batch_p50_s", "state_rows", "state_mb", "commit_s",
               "events_per_s"),
    ],
}
#: the workloads BENCHMARK.json schedules; a traced run of one of them
#: reports the rows of all of them, as BENCHMARK.json lists them
SCHEDULED = ("api_analyze", "series_batch")


def layer_names(workload: str) -> list[str]:
    group = SCHEDULED if workload in SCHEDULED else (workload,)
    return [name for w in group for name in LAYERS[w]] + ["trace.overhead_s"]


def layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    if field in _COUNT:
        return "count"
    if field.endswith("_per_s"):
        return "1/s"
    return "MB" if field.endswith("_mb") else "s"


def _prepare_env(work: str) -> None:
    """Make the checkout importable by this process and the Python
    workers, and keep every temporary file inside ``work``."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_MASTER"] = MASTER
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_spark(work: str, *, event_log: bool = False):
    from temporal_retriever_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = os.path.join(work, "events")
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the session, end the gateway JVM and wait for every process
    this run started (JVM, Python workers) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    import procstat

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while True:
        rest = [p for p in procstat.tree(os.getpid()) if p != os.getpid()]
        if not rest:
            break
        if time.time() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _setup(mod, seed: int, work: str, *, event_log: bool = False):
    """Session start and input generation (median of SETUP_REPS).
    Returns (spark, inputs, seconds)."""
    import numpy as np

    t0 = time.perf_counter()
    spark = start_spark(work, event_log=event_log)
    session_s = time.perf_counter() - t0
    gen_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        inputs = mod.prepare(np.random.default_rng(seed), os.path.join(work, "inputs"))
        gen_s.append(time.perf_counter() - t0)
    print(f"# session {session_s:.2f}s, inputs {[round(g, 2) for g in gen_s]}s", file=sys.stderr)
    return spark, inputs, session_s + statistics.median(gen_s)


def run_plain(mod, args, work: str) -> dict:
    import procstat

    spark, inputs, setup_s = _setup(mod, args.seed, work)
    t0 = time.perf_counter()
    wl = mod.Workload(spark, inputs, work)
    wl.warmup()
    print(f"# warm-up {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    setup_s += time.perf_counter() - t0
    sampler = procstat.TreeSampler(os.getpid())
    sampler.start()
    try:
        res = wl.run(args.seconds)
    finally:
        cpu_s, rss_mb = sampler.stop()
    try:
        failed = wl.check(res["outputs"])
    finally:
        wl.close()
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_s": (res["latency"], "s"),
        "items_per_s": (res["items"] / res["elapsed"], "1/s"),
        "cpu_s_per_op": (cpu_s / res["ops"], "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    print(f"# {args.workload}: {res['ops']} ops, latency {res['latency']:.3f}s, "
          f"cpu {cpu_s:.2f}s over {res['elapsed']:.2f}s, peak rss {rss_mb:.0f} MB in "
          f"{sampler.peak_procs} processes, setup {setup_s:.2f}s {res.get('by_route', '')}",
          file=sys.stderr)
    return {"attempted": res["ops"], "failed": failed, "metrics": metrics}


def run_traced(mod, args, work: str) -> dict:
    """One session with the event log on: warm-up, an untraced half,
    then a traced half (spans recorded). Workloads with concurrent
    clients run them one at a time here, so a job submitted inside a
    span belongs to it."""
    import tracing as tr

    half = args.seconds / 2.0
    tracer = tr.Tracer(enabled=False)
    spark, inputs, _ = _setup(mod, args.seed, work, event_log=True)
    wl = mod.Workload(spark, inputs, work, tracer=tracer)
    run = getattr(wl, "run_sequential", wl.run)
    try:
        wl.warmup()
        plain = run(half)
        tracer.enabled = True
        traced = run(half)
        tracer.enabled = False
        failed = wl.check(plain["outputs"]) + wl.check(traced["outputs"])
    finally:
        wl.close()
    spark.stop()  # flushes the event log

    tracer.link_threads()
    jobs, stages = tr.read_event_log(os.path.join(work, "events"))
    table = tr.layer_table(
        tracer.spans, jobs, stages, tr.CallSites(os.path.join(ROOT, "temporal_retriever_spark"))
    )
    extras = wl.layer_extras(tracer.spans, traced["outputs"])
    overhead = traced["mean_op"] - plain["mean_op"]
    extras["trace.overhead_s"] = overhead
    print(tr.format_table(table))
    print(f"tracing overhead: {overhead:+.4f} s per op (traced mean {traced['mean_op']:.4f} s, "
          f"untraced mean {plain['mean_op']:.4f} s)")
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))

    metrics = {}
    for name in layer_names(args.workload):
        if name in extras:
            value = extras[name]
        else:
            row, field = name.rsplit(".", 1)
            value = table.get(row, {}).get(field, 0)
        metrics[name] = (float(value), layer_unit(name))
    return {
        "attempted": plain["ops"] + traced["ops"],
        "failed": failed,
        "metrics": metrics,
    }


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "temporal_retriever_spark")):
        print("temporal_retriever_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _prepare_env(work)
    mod = importlib.import_module(WORKLOADS[args.workload])
    try:
        result = (run_traced if args.trace else run_plain)(mod, args, work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    result["correct"] = result["failed"] == 0
    out = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
