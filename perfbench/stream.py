"""``stream_replay``: a seeded event stream replayed through the
streaming layer.

A seeded event stream is written as ``FILES`` parquet files, one time
slice each, and read back with ``readStream`` (``maxFilesPerTrigger=1``,
``trigger(availableNow=True)``), so every replay cuts the same
micro-batches. Two queries run one after the other into memory sinks:

* ``streaming.streaming_bucket_aggregate`` (hourly sums per series,
  complete mode, so the sink ends holding every window)
* ``streaming.streaming_series_state`` (running count, mean, min and
  max per series in ``applyInPandasWithState`` state, update mode)

Each replay starts from a fresh checkpoint; one replay is the unit of
work. The outputs are checked after the timed window against pandas
over the same files: every hourly sum, and each series' final state
row.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import time

import pandas as pd

import gen

FILES = 3
ROWS_PER_FILE = 20_000
SERIES = 40
QUERIES = ("streaming_bucket_aggregate", "streaming_series_state")


def prepare(rng, work: str) -> str:
    directory = os.path.join(work, "stream")
    gen.write_stream_files(rng, directory, FILES, ROWS_PER_FILE, SERIES)
    return directory


def oracle(directory: str) -> dict:
    """Expected hourly sums and final per-series state."""
    df = pd.read_parquet(directory)
    hourly = df.groupby(["series_id", df["ds"].dt.floor("h")])["y"].sum()
    state = df.groupby("series_id")["y"].agg(["count", "mean", "min", "max"])
    return {
        "hourly": {(k, pd.Timestamp(h)): v for (k, h), v in hourly.items()},
        "state": {k: tuple(r) for k, r in state.iterrows()},
        "events": len(df),
    }


def _rel_ok(got: float, want: float, tol: float = 1e-6) -> bool:
    return abs(got - want) <= tol * max(1.0, abs(want))


class Workload:
    def __init__(self, spark, inputs: str, work: str, tracer=None):
        self.spark = spark
        self.directory = inputs
        self.ckpt = os.path.join(work, "checkpoints")
        self.tracer = tracer
        self.schema = spark.read.parquet(inputs).schema
        self.want = oracle(inputs)
        self.replays = 0

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def _query(self, kind: str, n: int):
        from temporal_retriever_spark import streaming

        source = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.directory)
        )
        if kind == "streaming_bucket_aggregate":
            out = streaming.streaming_bucket_aggregate(
                source, grain="H", agg="sum", series_cols=("series_id",), watermark="10 days"
            )
            mode = "complete"
        else:
            out = streaming.streaming_series_state(source)
            mode = "update"
        name = f"perfbench_{kind}_{n}"
        ckpt = os.path.join(self.ckpt, name)
        shutil.rmtree(ckpt, ignore_errors=True)  # every replay starts fresh
        query = (
            out.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"{kind} failed: {query.exception()}")
        rows = self.spark.table(name).collect()
        self.spark.catalog.dropTempView(name)
        return rows, query.recentProgress

    def _replay(self) -> dict:
        """One replay of both queries; returns their rows and progress."""
        self.replays += 1
        out = {}
        for kind in QUERIES:
            with self._span(f"streaming.{kind}"):
                out[kind] = self._query(kind, self.replays)
        return out

    def warmup(self) -> None:
        if not self._check(self._replay()):
            raise RuntimeError("stream_replay warm-up replay failed its output checks")

    def run(self, seconds: float) -> dict:
        lat, outs = [], []
        t0 = time.perf_counter()
        while not lat or time.perf_counter() - t0 < seconds:
            start = time.perf_counter()
            outs.append(self._replay())
            lat.append(time.perf_counter() - start)
        elapsed = time.perf_counter() - t0
        return {"latency": statistics.median(lat), "mean_op": statistics.fmean(lat),
                "ops": len(lat), "items": self.want["events"] * len(lat), "elapsed": elapsed,
                "outputs": outs}

    def check(self, outs: list[dict]) -> int:
        return sum(not self._check(out) for out in outs)

    def _check(self, out: dict) -> bool:
        want = self.want
        rows, _ = out["streaming_bucket_aggregate"]
        got = {(r["series_id"], pd.Timestamp(r["ds"])): r["y"] for r in rows}
        if got.keys() != want["hourly"].keys() or not all(
            _rel_ok(v, want["hourly"][k]) for k, v in got.items()
        ):
            return False
        rows, _ = out["streaming_series_state"]
        final: dict[str, tuple] = {}
        for r in rows:  # update mode: the last state row has the largest n
            if r["series_id"] not in final or r["n"] > final[r["series_id"]][0]:
                final[r["series_id"]] = (r["n"], r["mean_y"], r["min_y"], r["max_y"])
        if final.keys() != want["state"].keys():
            return False
        return all(
            g[0] == w[0] and all(_rel_ok(a, b) for a, b in zip(g[1:], w[1:]))
            for k, g in final.items()
            for w in [want["state"][k]]
        )

    def layer_extras(self, spans: list[dict], outs: list[dict]) -> dict:
        """Per-replay medians of the queries' own progress reports."""
        per = {"batches": [], "batch_p50_s": [], "state_rows": [], "state_mb": [],
               "commit_s": [], "events_per_s": []}
        for out in outs:
            progress = [p for kind in QUERIES for p in out[kind][1]]
            data = [p for p in progress if p["numInputRows"] > 0]
            per["batches"].append(len(data))
            per["batch_p50_s"].append(
                statistics.median(p["durationMs"]["triggerExecution"] for p in data) / 1000.0
            )
            last = out["streaming_series_state"][1][-1]["stateOperators"]
            per["state_rows"].append(sum(op["numRowsTotal"] for op in last))
            per["state_mb"].append(sum(op["memoryUsedBytes"] for op in last) / 2**20)
            per["commit_s"].append(
                sum(op["commitTimeMs"] for p in progress for op in p["stateOperators"]) / 1000.0
            )
            busy = sum(p["durationMs"]["triggerExecution"] for p in data) / 1000.0
            rows = sum(p["numInputRows"] for p in data)
            per["events_per_s"].append(rows / busy if busy else math.nan)
        return {f"streaming.{k}": statistics.median(v) for k, v in per.items() if v}

    def close(self) -> None:
        pass
