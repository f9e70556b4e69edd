"""The ``/analyze`` request path on a small in-test request: per-
correlation results do not depend on which other correlations ride
along, the request frames stay in the JVM, and a repeated request
reuses its generated code."""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from temporal_retriever_spark import pipeline as P
from temporal_retriever_spark.api.models import (
    AnalyzeRequest,
    parse_analyze_request,
)
from temporal_retriever_spark.ingest import documents_df

N_OBS = 300
_LEGS = {
    "fromData": "weather",
    "toData": "demand",
    "toIndex": "load",
    "dataSetGranularity": "H",
    "dataAggregationType": "mean",
}


def _body(seed: int = 7, horizons: tuple[int, int] = (24, 12)) -> dict:
    """Two hourly documents; two prophet correlations share the target
    leg ``demand.load``, and the granger one shares both legs of the
    first."""
    rng = np.random.default_rng(seed)
    t = np.arange(N_OBS)
    day = 2 * np.pi * t / 24
    start = dt.datetime(2021, 3, 1)
    dates = [
        (start + dt.timedelta(hours=int(i))).strftime("%Y-%m-%d %H:%M:%S") for i in t
    ]
    load = 100 + 0.05 * t + 10 * np.sin(day) + rng.normal(0, 1, N_OBS)
    temp = 20 + 3 * np.sin(day - 0.8) + rng.normal(0, 0.3, N_OBS)
    wind = 8 + 2 * np.cos(day) + rng.normal(0, 0.5, N_OBS)
    return {
        "documents": {
            "demand": {
                "data": [
                    {"date": d, "load": float(v)} for d, v in zip(dates, load)
                ]
            },
            "weather": {
                "data": [
                    {"date": d, "temp": float(a), "wind": float(b)}
                    for d, a, b in zip(dates, temp, wind)
                ]
            },
        },
        "analyticsOptions": {
            "correlations": [
                {"id": "load-temp", "type": "prophet", **_LEGS,
                 "fromIndex": "temp", "unitsToForecast": horizons[0]},
                {"id": "load-wind", "type": "prophet", **_LEGS,
                 "fromIndex": "wind", "unitsToForecast": horizons[1]},
                {"id": "load-temp-granger", "type": "granger", **_LEGS,
                 "fromIndex": "temp"},
            ]
        },
    }


@pytest.fixture(scope="module")
def request_():
    return parse_analyze_request(_body())


_COMPILES = """
import json, sys
from temporal_retriever_spark.api.models import parse_analyze_request
from temporal_retriever_spark.pipeline import analyze
from temporal_retriever_spark.session import get_spark

spark = get_spark("codegen-cache", **{"spark.ui.enabled": "false"})
metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
counts = []
for body in json.load(sys.stdin):
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    analyze(spark, parse_analyze_request(body), lags=6)
    counts.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
spark.stop()
print(json.dumps(counts))
"""


def test_later_requests_reuse_generated_code():
    """A repeated request, and one with other data and other horizons,
    each compile at most a tenth of the classes the first one did.
    Spark's default 100-entry codegen cache is smaller than one
    request's classes (about 150 here), so with it every request
    recompiled nearly all; per-request numbers written into generated
    source would make the varied request miss. Runs in a fresh session:
    the cache is static per JVM, and the suite's shared one is already
    filled by other tests."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("SPARK_GRAFT_MASTER", None)
    proc = subprocess.run(
        [sys.executable, "-c", _COMPILES],
        input=json.dumps([_body(), _body(), _body(seed=8, horizons=(36, 6))]),
        capture_output=True,
        text=True,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    first, repeat, varied = json.loads(proc.stdout.strip().splitlines()[-1])
    assert max(repeat, varied) <= first // 10, (first, repeat, varied)


def _generated_code(df) -> list[str]:
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    return [seq.apply(i)._2() for i in range(seq.size())]


def test_per_request_numbers_stay_out_of_generated_code(spark):
    """Horizons and caps differ per request; they must reach generated
    code as constants read by reference, not as source text, or each
    new request compiles new classes."""
    frame = spark.range(4).select(
        F.col("id").cast("string").alias("series_id"),
        F.col("id").alias("n_buckets"),
        F.col("id").cast("double").alias("yhat"),
    )

    def plan(h: int, lo: float, hi: float):
        clamped = F.least(
            F.greatest("yhat", P._by_id({"1": lo})), P._by_id({"1": hi})
        )
        return frame.select(
            P._horizon_by_id({"0": h, "1": h + 1}).alias("h"), clamped.alias("y")
        )

    code = _generated_code(plan(24, 1.5, 2.5))
    assert code and code == _generated_code(plan(36, 0.0, 9.0))
    # ids without an entry fall back to n_buckets and keep their yhat
    assert plan(24, 1.5, 2.5).collect() == [
        (24, 0.0), (25, 1.5), (2, 2.0), (3, 3.0)
    ]


def _close(a, b, rel: float = 1e-9) -> bool:
    if isinstance(a, dict):
        return isinstance(b, dict) and a.keys() == b.keys() and all(
            _close(a[k], b[k], rel) for k in a
        )
    if isinstance(a, list):
        return isinstance(b, list) and len(a) == len(b) and all(
            _close(x, y, rel) for x, y in zip(a, b)
        )
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)
    return a == b


def test_each_correlation_matches_its_solo_request(spark, request_):
    full = P.analyze(spark, request_)["correlations"]
    assert set(full) == {c.id for c in request_.correlations}
    for corr in request_.correlations:
        solo = P.analyze(
            spark, AnalyzeRequest(documents=request_.documents, correlations=[corr])
        )["correlations"]
        assert _close(full[corr.id], solo[corr.id]), corr.id
    # the shared target leg is forecast once per correlation, each with
    # that correlation's horizon and covariate
    futures = {
        cid: full[cid]["predictions"]["futureForecasts"]
        for cid in ("load-temp", "load-wind")
    }
    assert [len(f) for f in futures.values()] == [24, 12]
    assert full["load-temp-granger"]["grangerCausality"]


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_request_frames_run_no_python(spark, request_):
    assert "PythonRDD" not in _lineage(documents_df(spark, request_.documents))
    with P._prepared_legs(spark, request_) as (leg_sids, prepared):
        for cov in (True, False):
            rekeyed = P._rekey(prepared, leg_sids, request_.correlations, cov=cov)
            assert "PythonRDD" not in _lineage(rekeyed)
            counts = dict(rekeyed.groupBy("series_id").count().collect())
            assert counts == {c.id: N_OBS for c in request_.correlations}


def _changepoint_body() -> dict:
    """``_body`` with ChangePointPriorScale on both prophet correlations:
    they share one changepoint fold."""
    body = _body(seed=9)
    for corr in body["analyticsOptions"]["correlations"]:
        if corr["type"] == "prophet":
            corr["ChangePointPriorScale"] = 0.5
    return body


def test_changepoint_correlations_match_solo_and_run_no_python(spark, monkeypatch):
    req = parse_analyze_request(_changepoint_body())
    folds = []
    fit = P.forecast_covariate_changepoint

    def spy(*args, **kwargs):
        folds.append(fit(*args, **kwargs))
        return folds[-1]

    monkeypatch.setattr(P, "forecast_covariate_changepoint", spy)
    full = P.analyze(spark, req)["correlations"]
    for corr in req.correlations:
        solo = P.analyze(
            spark, AnalyzeRequest(documents=req.documents, correlations=[corr])
        )["correlations"]
        assert _close(full[corr.id], solo[corr.id]), corr.id
    # the fold (covariate forecast and target fit alike) plans no
    # Python operator and its lineage holds no Python RDD
    assert folds
    for fold in folds:
        plan = fold._jdf.queryExecution().executedPlan().toString()
        for node in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython"):
            assert node not in plan
        assert "PythonRDD" not in _lineage(fold)
