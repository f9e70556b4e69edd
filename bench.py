#!/usr/bin/env python
"""Benchmark harness — BASELINE.md protocol (B1-B7) at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"B1_bucket_hour": sec, ...}, "sf": 0.1}

Each query is materialized with the noop sink (full execution, no
driver collect cost); per-query time is the median of 3 runs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# median of 5: host CPU-steal noise swings single runs by ±30%; five
# samples keep the median stable at ~45s total bench wall time
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))


def build_queries(spark):
    from pyspark.sql import functions as F

    from temporal_retriever_spark.aggregate import (
        bucket_aggregate,
        bucket_aggregate_multi,
    )
    from temporal_retriever_spark.align import align_series, coalesce_actuals
    from temporal_retriever_spark.diagnostics import acf_pacf
    from temporal_retriever_spark.forecast import (
        forecast_linear_seasonal,
        forecast_with_covariate,
    )
    from temporal_retriever_spark.llm.dedup import near_dup_pairs
    from temporal_retriever_spark.llm.similarity import cosine_topk
    from temporal_retriever_spark.llm.text import text_stats
    from temporal_retriever_spark.sources import load_tables

    tables = load_tables(spark, SF_DIR, ("events", "orders", "documents", "embeddings"))
    events = tables["events"].select(
        "event_type", F.col("ts").alias("ds"), F.col("value").alias("y")
    )
    orders = tables["orders"].select(
        F.col("o_orderdate").alias("ds"), F.col("o_totalprice").alias("y")
    )

    def b1():
        return bucket_aggregate(
            events, grain="H", agg="sum", series_cols=("event_type",)
        )

    def b2():
        # all 3 grains × 5 aggregations in ONE scan: bucket_aggregate_multi
        # groups the rows by day once, then rolls the daily partials
        # (and sorted value arrays, for the median) up to D/W/M with
        # GROUPING SETS over the daily rows, replacing the per-grain
        # loop's 3 scans + 3 shuffles; stack() unpivots to the long
        # (case, ds, y) shape as a pure projection
        aggs = ("sum", "min", "max", "mean", "median")
        wide = bucket_aggregate_multi(orders, grains=("D", "W", "M"), aggs=aggs)
        stack_args = ", ".join(
            f"concat(grain, '-{a}'), y_{a}" for a in aggs
        )
        return wide.select(
            "grain",
            "ds",
            F.expr(f"stack({len(aggs)}, {stack_args}) AS (case, y)"),
        ).select("case", "ds", "y")

    def b3():
        daily = bucket_aggregate(
            events, grain="D", agg="sum", series_cols=("event_type",)
        )
        target = daily.filter(F.col("event_type") == "click").drop("event_type")
        cov = (
            daily.filter(F.col("event_type") == "view")
            .drop("event_type")
            .withColumnRenamed("y", "cov")
        )
        aligned = align_series(target, cov, cov_cols=("cov",))
        preds = aligned.select("ds", (F.col("y") * 0.5).alias("yhat"))
        return coalesce_actuals(preds, target)

    def b4():
        # fused: both stats from one sorted-array pass (diagnostics.acf_pacf)
        daily = bucket_aggregate(
            events, grain="D", agg="sum", series_cols=("event_type",)
        )
        return acf_pacf(daily, lags=10, series_cols=("event_type",))

    def b5():
        daily = bucket_aggregate(
            events, grain="D", agg="sum", series_cols=("event_type",)
        )
        return forecast_linear_seasonal(
            daily, grain="D", horizon=None, series_cols=("event_type",)
        )

    def b6():
        daily = bucket_aggregate(
            events, grain="D", agg="sum", series_cols=("event_type",)
        )
        target = daily.filter(F.col("event_type") == "click").select(
            F.lit("t").alias("series_id"), "ds", "y"
        )
        cov_hist = daily.filter(F.col("event_type") == "view").select(
            F.lit("t").alias("series_id"), "ds", "y"
        )
        cov_pred = forecast_linear_seasonal(cov_hist, grain="D", horizon=30).select(
            "series_id", "ds", F.col("yhat").alias("cov")
        )
        cov_full = coalesce_actuals(
            cov_pred, cov_hist, on=("series_id", "ds"), pred_col="cov", out_col="cov"
        )
        return forecast_with_covariate(
            target, cov_full, grain="D", horizon=30, materialize_covariate=True
        )

    def b8():
        return text_stats(tables["documents"])

    def b9():
        return near_dup_pairs(
            tables["documents"], num_hashes=32, num_bands=8, threshold=0.4
        )

    def b10():
        emb = tables["embeddings"]
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return cosine_topk(emb, queries, k=10)

    def b11():
        import __spark_entry__ as entrymod

        return entrymod.q_revenue_by_nation_month(spark, SF_DIR)

    return {
        "B1_bucket_hour": b1,
        "B11_star_join_month": b11,
        "B2_grains_aggs": b2,
        "B3_align_coalesce": b3,
        "B4_acf_pacf": b4,
        "B5_forecast_univariate": b5,
        "B6_forecast_covariate": b6,
        "B8_text_stats": b8,
        "B9_minhash_neardup": b9,
        "B10_cosine_topk": b10,
    }


def build_scaling_probes(spark):
    """CPU-scaling probes — a SEPARATE section of the artifact, never part
    of the ``queries`` map or the bench total (VERDICT r9 item 2: the B
    queries are 0.3-4 s of fixed JVM/planning overhead at sf0.1, so an
    8-core run is indistinguishable from 32 cores and the driver's scaling
    ratios were uninformative). These two are the most compute-bound
    operators at this SF (~25 core-seconds each measured in the r9 ledger:
    repetition_stats 24.3 s and KN-LM train+score 27 s on one core), so
    their wall time tracks 1/cores and the c8/c32 artifact pair shows a
    real ratio. Run once per bench invocation, after the main loop (JVM
    warm), median of 3.
    """
    from pyspark.sql import functions as F

    from temporal_retriever_spark.llm.filters import repetition_stats
    from temporal_retriever_spark.llm.lm import score_kn_lm, train_kn_lm
    from temporal_retriever_spark.sources import load_tables

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]

    def s1():
        return repetition_stats(docs.select("doc_id", "text"))

    def s2():
        model = train_kn_lm(
            docs.filter(F.col("source") == "src0"), n=3
        )
        return score_kn_lm(docs.select("doc_id", "text"), model, n=3)

    return {"S1_repetition_stats": s1, "S2_lm_score_kn": s2}




def run_analyze_bench(spark):
    """B7: end-to-end /analyze semantics on the electricity request
    (``tests/fixture_requests``: 5000 hourly rows, three correlations)."""
    from temporal_retriever_spark.api.models import parse_analyze_request
    from temporal_retriever_spark.pipeline import analyze
    from tests.fixture_requests import electricity_body

    req = parse_analyze_request(electricity_body())
    # one untimed warm-up (Python-worker spin-up + plan compile dominate
    # the cold run), then median of RUNS like every other query
    analyze(spark, req, lags=10)
    samples = []
    for _ in range(RUNS):
        t0 = time.time()
        analyze(spark, req, lags=10)
        samples.append(time.time() - t0)
    return statistics.median(samples), samples


def materialize(df):
    df.write.format("noop").mode("overwrite").save()


def _load1() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return -1.0


# A busy host inflates medians 1.3-2x (VERDICT r7: the 16.46s artifact
# needed BASELINE.md forensics to dismiss as load, not plans). The
# artifact should be judgeable alone: record loadavg, and if the box is
# busy at start, wait once for it to drain before timing anything.
LOAD1_QUIET = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD1_QUIET", "4"))
LOAD_WAIT_SEC = int(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "120"))


def _wait_for_quiet_box() -> dict:
    """If load1 > LOAD1_QUIET at start, poll up to LOAD_WAIT_SEC for it
    to drain (one retry window, then proceed regardless — the artifact
    records the load either way so the reader can tell)."""
    start = _load1()
    info = {"load1_start": start, "waited_sec": 0, "load1_after_wait": start}
    if start <= LOAD1_QUIET or start < 0:
        return info
    print(f"# load1={start} > {LOAD1_QUIET}: waiting up to "
          f"{LOAD_WAIT_SEC}s for a quiet box", file=sys.stderr)
    t0 = time.time()
    while time.time() - t0 < LOAD_WAIT_SEC:
        time.sleep(10)
        if _load1() <= LOAD1_QUIET:
            break
    info["waited_sec"] = round(time.time() - t0, 1)
    info["load1_after_wait"] = _load1()
    return info


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", CPUS)
    from temporal_retriever_spark.session import get_spark

    load_info = _wait_for_quiet_box()
    spark = get_spark("trs-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = build_queries(spark)
    times: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    loads: dict[str, list[float]] = {}
    retries: dict[str, dict] = {}

    def _timed(build):
        pre = _load1()
        t0 = time.time()
        materialize(build())
        return time.time() - t0, pre

    for name, build in queries.items():
        samples = []
        sample_loads = []
        for _ in range(RUNS):
            s, pre = _timed(build)
            samples.append(s)
            sample_loads.append(pre)
        # Contention gate (VERDICT r8 item 5): the start-of-bench wait
        # cannot protect a mid-run query from a load spike (r8: one
        # 18.4s B9 run vs 2.4-5.7s siblings dragged the median). Any
        # run >3x the query median gets ONE retry; the discarded run
        # stays in the artifact so the outlier is auditable, but the
        # median is computed from runs the box actually allowed.
        mx = max(samples)
        med0 = statistics.median(samples)
        if RUNS >= 3 and mx > 3 * med0:
            i = samples.index(mx)
            s2, pre2 = _timed(build)
            retries[name] = {
                "discarded_sec": round(mx, 3),
                "discarded_load1": sample_loads[i],
                "retry_sec": round(s2, 3),
                "retry_load1": pre2,
            }
            samples[i] = s2
            sample_loads[i] = pre2
        times[name] = round(statistics.median(samples), 3)
        runs[name] = [round(s, 3) for s in samples]
        loads[name] = sample_loads
        print(f"# {name}: {times[name]}s (runs: {[round(s,2) for s in samples]}, "
              f"load1: {sample_loads})", file=sys.stderr)
    med, samples = run_analyze_bench(spark)
    times["B7_analyze_e2e"] = round(med, 3)
    runs["B7_analyze_e2e"] = [round(s, 3) for s in samples]
    print(f"# B7_analyze_e2e: {times['B7_analyze_e2e']}s "
          f"(runs: {[round(s,2) for s in samples]})", file=sys.stderr)
    # CPU-scaling probes: separate section, never in "queries" / "value"
    # (the driver contract forbids renaming/removing entries and compares
    # totals round-over-round; these exist so the c8/c32 artifact pair has
    # compute-bound rows where the ratio tracks the core ratio).
    scaling: dict[str, object] = {
        "parallelism": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "probes": {},
        "probe_runs": {},
    }
    for name, build in build_scaling_probes(spark).items():
        samples = []
        for _ in range(3):
            s, _pre = _timed(build)
            samples.append(s)
        scaling["probes"][name] = round(statistics.median(samples), 3)
        scaling["probe_runs"][name] = [round(s, 3) for s in samples]
        print(f"# scaling {name}: {scaling['probes'][name]}s "
              f"(runs: {[round(s,2) for s in samples]}, "
              f"parallelism={scaling['parallelism']})", file=sys.stderr)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = SF_DIR
    # "queries" stays name->median-seconds (the driver contract);
    # "runs" carries every sample so a noisy host is self-evident in
    # the artifact itself, not just the stderr tail
    result = {
        "metric": "bench_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "runs": runs,
        "loads": loads,
        "outlier_retries": retries,
        "loadavg": {**load_info, "load1_end": _load1()},
        "scaling": scaling,
        "sf": sf_val,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
