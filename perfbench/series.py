"""``series_batch``: the batch time-series chain over parquet tables.

One driver thread runs, per pass::

    sources.load_tables -> aggregate.bucket_aggregate (H)
    -> aggregate.bucket_aggregate_multi (D/W/M x sum/min/max/mean/median)
    -> diagnostics.acf_pacf -> forecast.forecast_linear_seasonal
    -> align.coalesce_actuals -> forecast.forecast_with_covariate

on seeded ``events``/``orders`` tables (FIXTURES.md §2.1/§2.2). Each
step collects its result, so each step's span covers its own jobs.

Checks, after the timed window: bucket sums, the multi-grain aggregates
and the ACF against pandas/DuckDB oracles built at set-up from the same
files; the coalesced covariate equals the daily actuals where they
exist and the covariate forecast elsewhere; forecasts by row count and
finite values; every later pass by digest against the first.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import statistics
import time

import pandas as pd

import gen

EVENTS = 240_000
ORDERS = 360_000
WARM_ROWS = 20_000
LAGS = 24
HORIZON = 14
AGGS = ("sum", "min", "max", "mean", "median")


def prepare(rng, work: str) -> dict:
    """The timed tables and small warm-up tables with the same schema."""
    dirs = {"full": os.path.join(work, "full"), "warm": os.path.join(work, "warm")}
    for key, rows in (("full", (EVENTS, ORDERS)), ("warm", (WARM_ROWS, WARM_ROWS))):
        os.makedirs(dirs[key], exist_ok=True)
        gen.write_events(rng, os.path.join(dirs[key], "events.parquet"), rows[0])
        gen.write_orders(rng, os.path.join(dirs[key], "orders.parquet"), rows[1])
    return dirs


def _oracles(directory: str) -> dict:
    """Expected hourly sums, multi-grain aggregates, ACF and the daily
    sums of the covariate series."""
    import duckdb

    ev = pd.read_parquet(os.path.join(directory, "events.parquet"))
    ev["hour"] = ev["ts"].dt.floor("h")
    hourly = ev.groupby(["event_type", "hour"])["value"].sum()
    view = ev[ev["event_type"] == "view"]
    view_daily = view.groupby(view["ts"].dt.floor("D"))["value"].sum()
    acf = {}
    for sid, s in hourly.groupby(level=0):
        d = s.to_numpy() - s.mean()
        s0 = float(d @ d)
        acf[sid] = [1.0] + [float(d[k:] @ d[:-k]) / s0 for k in range(1, LAGS + 1)]
    con = duckdb.connect()
    try:
        path = os.path.join(directory, "orders.parquet").replace("'", "''")
        labels = {
            "D": "CAST(o_orderdate AS DATE)",
            "W": "CAST(date_trunc('week', o_orderdate) AS DATE) + 6",
            "M": "last_day(o_orderdate)",
        }
        parts = [
            f"SELECT '{g}' AS grain, CAST({expr} AS TIMESTAMP) AS ds, "
            "sum(o_totalprice) y_sum, min(o_totalprice) y_min, max(o_totalprice) y_max, "
            "avg(o_totalprice) y_mean, median(o_totalprice) y_median "
            f"FROM read_parquet('{path}') GROUP BY 2"
            for g, expr in labels.items()
        ]
        multi = con.execute(" UNION ALL ".join(parts)).df()
    finally:
        con.close()
    multi["ds"] = pd.to_datetime(multi["ds"])
    return {
        "hourly": {(k, pd.Timestamp(h)): v for (k, h), v in hourly.items()},
        "multi": multi.set_index(["grain", "ds"]).sort_index(),
        "acf": acf,
        "view_daily": {pd.Timestamp(d): v for d, v in view_daily.items()},
    }


def _rel_ok(got: float, want: float, tol: float = 1e-6) -> bool:
    return abs(got - want) <= tol * max(1.0, abs(want))


def _digest(rows) -> str:
    text = "\n".join(sorted(repr(tuple(r)) for r in rows))
    return hashlib.sha256(text.encode()).hexdigest()


class Workload:
    def __init__(self, spark, inputs: dict, work: str, tracer=None):
        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer
        self.oracles: dict[str, dict] = {}
        self.digests: dict[str, str] | None = None
        self.items = EVENTS + ORDERS

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def _pass(self, directory: str) -> dict:
        """One chain pass; returns the collected result of each step."""
        from pyspark.sql import functions as F

        from temporal_retriever_spark.aggregate import bucket_aggregate, bucket_aggregate_multi
        from temporal_retriever_spark.align import coalesce_actuals
        from temporal_retriever_spark.diagnostics import acf_pacf
        from temporal_retriever_spark.forecast import (
            forecast_linear_seasonal,
            forecast_with_covariate,
        )
        from temporal_retriever_spark.sources import load_tables

        out = {}
        with self._span("sources.load_tables"):
            tables = load_tables(self.spark, directory, ("events", "orders"))
        events = tables["events"].select(
            F.col("event_type").alias("series_id"), F.col("ts").alias("ds"),
            F.col("value").alias("y"),
        )
        orders = tables["orders"].select(
            F.col("o_orderdate").alias("ds"), F.col("o_totalprice").alias("y")
        )
        with self._span("aggregate.bucket_aggregate"):
            hourly = bucket_aggregate(events, grain="H", agg="sum", series_cols=("series_id",))
            out["hourly"] = hourly.collect()
        with self._span("aggregate.bucket_aggregate_multi"):
            out["multi"] = bucket_aggregate_multi(
                orders, grains=("D", "W", "M"), aggs=AGGS
            ).collect()
        with self._span("diagnostics.acf_pacf"):
            out["acf"] = acf_pacf(hourly, lags=LAGS).collect()
        daily = bucket_aggregate(events, grain="D", agg="sum", series_cols=("series_id",))
        cov_hist = daily.filter(F.col("series_id") == "view")
        target = daily.filter(F.col("series_id") == "click").withColumn(
            "series_id", F.lit("view")
        )
        with self._span("forecast.forecast_linear_seasonal"):
            cov_pred = forecast_linear_seasonal(cov_hist, grain="D", horizon=HORIZON).select(
                "series_id", "ds", F.col("yhat").alias("cov")
            )
            out["cov_pred"] = cov_pred.collect()
        with self._span("align.coalesce_actuals"):
            cov_full = coalesce_actuals(
                cov_pred, cov_hist.select("series_id", "ds", "y"),
                on=("series_id", "ds"), pred_col="cov", out_col="cov",
            )
            out["cov_full"] = cov_full.collect()
        with self._span("forecast.forecast_with_covariate"):
            out["forecast"] = forecast_with_covariate(
                target, cov_full, grain="D", horizon=HORIZON, materialize_covariate=True
            ).collect()
        return out

    def _check(self, directory: str, out: dict) -> bool:
        ora = self.oracles[directory]
        hourly = {(r["series_id"], pd.Timestamp(r["ds"])): r["y"] for r in out["hourly"]}
        if hourly.keys() != ora["hourly"].keys() or not all(
            _rel_ok(v, ora["hourly"][k]) for k, v in hourly.items()
        ):
            return False
        multi = ora["multi"]
        if len(out["multi"]) != len(multi):
            return False
        for r in out["multi"]:
            want = multi.loc[(r["grain"], pd.Timestamp(r["ds"]))]
            if not all(_rel_ok(r[f"y_{a}"], want[f"y_{a}"]) for a in AGGS):
                return False
        acf = {(r["series_id"], r["lag"]): r["acf"] for r in out["acf"]}
        if len(acf) != len(ora["acf"]) * (LAGS + 1) or not all(
            _rel_ok(acf[(sid, k)], vals[k], 1e-9) for sid, vals in ora["acf"].items()
            for k in range(LAGS + 1)
        ):
            return False
        actual = ora["view_daily"]
        predicted = {pd.Timestamp(r["ds"]): r["cov"] for r in out["cov_pred"]}
        cov_full = {pd.Timestamp(r["ds"]): r["cov"] for r in out["cov_full"]}
        if len(cov_full) != len(actual) + HORIZON or not all(
            _rel_ok(v, actual[d]) if d in actual else d in predicted and _rel_ok(v, predicted[d])
            for d, v in cov_full.items()
        ):
            return False
        if len(out["forecast"]) != len(actual) + HORIZON or not all(
            math.isfinite(r["yhat"]) for r in out["forecast"]
        ):
            return False
        digests = {k: _digest(out[k]) for k in ("cov_pred", "cov_full", "forecast")}
        if self.digests is None:
            self.digests = digests
        return digests == self.digests

    def warmup(self) -> None:
        """Builds both oracles, then one untimed pass on the small tables
        (code generation and JIT, not data volume). The first pass on the
        timed tables sets the forecast digests."""
        for directory in self.inputs.values():
            self.oracles[directory] = _oracles(directory)
        warm = self.inputs["warm"]
        if not self._check(warm, self._pass(warm)):
            raise RuntimeError("series_batch warm-up pass failed its output checks")
        self.digests = None

    def run(self, seconds: float) -> dict:
        """Whole chain passes while ``seconds`` have not passed; only the
        passes are timed."""
        lat, outs = [], []
        t0 = time.perf_counter()
        while not lat or time.perf_counter() - t0 < seconds:
            start = time.perf_counter()
            outs.append(self._pass(self.inputs["full"]))
            lat.append(time.perf_counter() - start)
        elapsed = time.perf_counter() - t0
        return {"latency": statistics.median(lat), "mean_op": statistics.fmean(lat),
                "ops": len(lat), "items": self.items * len(lat), "elapsed": elapsed,
                "outputs": outs}

    def check(self, outs: list[dict]) -> int:
        return sum(not self._check(self.inputs["full"], out) for out in outs)

    def layer_extras(self, spans: list[dict], outs: list[dict]) -> dict:
        return {}

    def close(self) -> None:
        pass
