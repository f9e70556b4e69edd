"""The ``/analyze`` request path on a small in-test request: per-
correlation results do not depend on which other correlations ride
along, the request frames stay in the JVM, a repeated request reuses
its generated code, one scan of the documents prepares every leg as
the per-leg plans did, one forecast program per changepoint setting
serves correlations of every grain, and the Granger rows do not
depend on the company they keep or on partitioning."""

from __future__ import annotations

import datetime as dt
import itertools
import json
import math
import os
import re
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from temporal_retriever_spark import pipeline as P
from temporal_retriever_spark.aggregate import bucket_aggregate
from temporal_retriever_spark.api.models import (
    AnalyzeRequest,
    parse_analyze_request,
)
from temporal_retriever_spark.ingest import documents_df, extract_series
from tests.fixture_requests import electricity_body

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


def _spy(monkeypatch, name: str) -> list:
    """Record every frame ``pipeline.<name>`` returns."""
    frames = []
    fn = getattr(P, name)

    def spy(*args, **kwargs):
        frames.append(fn(*args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(P, name, spy)
    return frames


def test_changepoint_correlations_match_solo_and_run_no_python(spark, monkeypatch):
    req = parse_analyze_request(_changepoint_body())
    folds = _spy(monkeypatch, "forecast_covariate_chain")
    granger = _spy(monkeypatch, "granger_native")
    full = P.analyze(spark, req)["correlations"]
    for corr in req.correlations:
        solo = P.analyze(
            spark, AnalyzeRequest(documents=req.documents, correlations=[corr])
        )["correlations"]
        assert _close(full[corr.id], solo[corr.id]), corr.id
    # the fold (covariate forecast and target fit alike) and the Granger
    # program plan no Python operator and their lineage holds no Python
    # RDD: the prophet, changepoint and granger request runs in the JVM
    assert folds and granger
    for frame in folds + granger:
        plan = frame._jdf.queryExecution().executedPlan().toString()
        for node in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython"):
            assert node not in plan
        assert "PythonRDD" not in _lineage(frame)


def test_granger_rows_do_not_depend_on_company_or_partitioning(spark, request_):
    """A Granger correlation's rows, and the ACF and PACF of every
    correlation in a four-grain request, are bit-identical at 1 and 32
    shuffle partitions, and alone and in company: each program sums a
    series in its sorted array's order. A correlogram may differ alone
    only where its prepared series does: the request prep's bucket sums
    merge partial sums at points that depend on the other legs (an
    ObjectHashAggregate, chosen for a median leg, falls back to sorting
    past 128 keys), which the correlogram cannot undo."""
    (corr,) = [c for c in request_.correlations if c.type == "granger"]
    solo_req = AnalyzeRequest(documents=request_.documents, correlations=[corr])
    mixed = parse_analyze_request(_mixed_body(_GRAINS))

    def rows(req):
        return P.analyze(spark, req)["correlations"][corr.id]["grangerCausality"]

    def correlograms(req):
        # JSON text: a NaN lag compares equal to itself
        return {
            cid: json.dumps([c["autocorrelations"], c["partialAutocorrelations"]])
            for cid, c in P.analyze(spark, req)["correlations"].items()
        }

    def prepared(req):
        # each leg's values in ds order, by series id
        with P._prepared_legs(spark, req) as (_, frame):
            return {
                sid: [repr(r["y"]) for r in sorted(group, key=lambda r: r["ds"])]
                for sid, group in itertools.groupby(
                    sorted(frame.collect(), key=lambda r: r["series_id"]),
                    key=lambda r: r["series_id"],
                )
            }

    want = rows(request_)
    assert [r["lag"] for r in want] == list(range(1, 15))
    assert rows(solo_req) == want
    want_c, want_p = correlograms(mixed), prepared(mixed)
    assert set(want_c) == {c.id for c in mixed.correlations}
    same_input = set()
    for c in mixed.correlations:
        solo = AnalyzeRequest(documents=mixed.documents, correlations=[c])
        alone_p = prepared(solo)
        if all(v == want_p[sid] for sid, v in alone_p.items()):
            same_input.add(c.id)
            assert correlograms(solo) == {c.id: want_c[c.id]}, c.id
    # the W/median leg's PACF differed in company when the sums ran in
    # the partition's row order
    assert {"H-mean", "W-median", "M-max"} <= same_input, same_input
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("1", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            assert rows(request_) == want, n
            assert correlograms(mixed) == want_c, n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


# --- one-pass preparation ---------------------------------------------


def _mixed_body(grains: tuple[tuple[str, str], ...], seed: int = 11) -> dict:
    """Two documents over 100 days, one correlation per (grain, agg).

    ``meter`` is observed every 50 minutes with a nested path; every
    seventh observation lacks ``kwh`` (so some hours hold no value) and
    two have unparseable dates. ``orders`` holds 0-4 ISO-``Z``
    observations a day at random times."""
    rng = np.random.default_rng(seed)
    start = dt.datetime(2021, 1, 4)
    meter = []
    for i in range(100 * 24 * 60 // 50):
        obs = {"date": (start + dt.timedelta(minutes=50 * i)).isoformat(" "),
               "site": {"temp": float(rng.normal(10, 3))}}
        if i % 7:
            obs["kwh"] = float(rng.gamma(4, 2))
        meter.append(obs)
    meter[5]["date"] = "not a date"
    meter[900]["date"] = None
    orders = []
    for day in range(100):
        for _ in range(rng.integers(0, 5)):
            at = start + dt.timedelta(days=day, seconds=int(rng.integers(86400)))
            orders.append({"date": at.strftime("%Y-%m-%dT%H:%M:%SZ"),
                           "amount": float(rng.normal(500, 80)),
                           "items": int(rng.integers(1, 9))})
    legs = [("meter", "site.temp", "meter", "kwh"),
            ("orders", "items", "meter", "kwh"),
            ("orders", "amount", "meter", "site.temp"),
            ("meter", "kwh", "orders", "amount")]
    corrs = [
        {"id": f"{g}-{a}", "type": "prophet", "fromData": fd, "fromIndex": fi,
         "toData": td, "toIndex": ti, "dataSetGranularity": g,
         "dataAggregationType": a}
        for (g, a), (fd, fi, td, ti) in zip(grains, legs)
    ]
    return {"documents": {"meter": {"data": meter}, "orders": {"data": orders}},
            "analyticsOptions": {"correlations": corrs}}


def _per_leg_prepared(spark, req):
    """Reference: the preparation the one-pass plan replaced, one
    ``extract_series`` + ``bucket_aggregate`` plan per leg over the
    documents, unioned."""
    raw = documents_df(spark, req.documents)
    out = None
    legs = {P._leg_key(c, cov=cov) for c in req.correlations for cov in (True, False)}
    for key in sorted(legs):
        ds_name, idx, grain, agg = key
        series = extract_series(
            raw, dataset=ds_name, index_path=idx,
            series_id="{}.{}|{}|{}".format(*key),
        )
        bucketed = bucket_aggregate(
            series.filter(F.col("ds").isNotNull()),
            grain=grain, agg=agg, series_cols=("series_id",),
        )
        out = bucketed if out is None else out.unionByName(bucketed)
    return out


@pytest.mark.parametrize(
    "grains",
    [(("H", "mean"), ("D", "sum"), ("W", "median"), ("M", "max")),
     (("D", "sum"), ("D", "mean"), ("D", "sum"), ("D", "median"))],
    ids=["mixed", "daily"],
)
def test_one_pass_prep_matches_per_leg_union(spark, grains):
    req = parse_analyze_request(_mixed_body(grains))
    ref = _per_leg_prepared(spark, req)
    with P._prepared_legs(spark, req) as (leg_sids, prepared):
        assert prepared.schema["ds"].dataType == ref.schema["ds"].dataType
        got = prepared.orderBy("series_id", "ds").collect()
    want = ref.orderBy("series_id", "ds").collect()
    # a date when every leg is D, W or M, else a timestamp (the union's
    # widening)
    daily = all(g == "D" for g, _ in grains)
    assert isinstance(got[0]["ds"], dt.datetime) != daily
    assert set(leg_sids.values()) == {r["series_id"] for r in want}
    # an hour whose only observation lacks kwh keeps a NULL bucket
    assert any(r["y"] is None for r in want) == (not daily)
    assert [(r["series_id"], r["ds"]) for r in got] == [
        (r["series_id"], r["ds"]) for r in want
    ]
    for g, w in zip(got, want):
        if w["y"] is None or w["series_id"].endswith(("|min", "|max", "|median")):
            assert g["y"] == w["y"], (g, w)
        else:  # sums (and the sums under means) merge in another order
            assert math.isclose(g["y"], w["y"], rel_tol=1e-12), (g, w)


def _cached_plan(prepared) -> str:
    """The physical plan under ``prepared``'s cache, as it ran."""
    relation = prepared._jdf.queryExecution().optimizedPlan()
    return relation.cachedPlan().executedPlan().toString()


def test_one_pass_prep_scans_documents_once(spark):
    req = parse_analyze_request(
        _mixed_body((("H", "mean"), ("D", "sum"), ("W", "median"), ("M", "max")))
    )
    with P._prepared_legs(spark, req) as (leg_sids, prepared):
        P._leg_stats(prepared, leg_sids)
        plan = _cached_plan(prepared)
    assert plan.count("LocalTableScan") == 1, plan
    assert "Union" not in plan
    # nothing is cached below the aggregation
    assert "InMemory" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange" not in plan.replace("Exchange hashpartitioning", "")


def test_prep_reads_each_dot_path_once(spark):
    """The electricity request reads ``nat_demand`` and ``T2M_toc`` for
    both an hourly and a daily leg: each path is parsed once per
    observation all the same."""
    req = parse_analyze_request(electricity_body())
    with P._prepared_legs(spark, req) as (leg_sids, prepared):
        P._leg_stats(prepared, leg_sids)
        plan = _cached_plan(prepared)
    paths = {idx for _, idx, _, _ in leg_sids}
    assert len(paths) < len(leg_sids)
    read = re.findall(r"get_json_object\(obs#\d+, \$\.(\w+)\)", plan)
    assert sorted(p for p in read if p != "date") == sorted(paths), plan


def test_missing_leg_raises(spark):
    body = _mixed_body((("D", "sum"),))
    body["analyticsOptions"]["correlations"][0]["fromData"] = "absent"
    req = parse_analyze_request(body)
    with P._prepared_legs(spark, req) as (leg_sids, prepared):
        with pytest.raises(
            ValueError, match="'absent' / index 'site.temp' produced no observations"
        ):
            P._leg_stats(prepared, leg_sids)


def test_default_cap_survives_a_large_mean(spark, monkeypatch):
    """The default ceiling is max + 3·(sample std) (app.py:354-364);
    a leg at 1e9 ± 1 must not lose its spread to cancellation."""
    body = _mixed_body((("D", "sum"),))
    rng = np.random.default_rng(3)
    values = 1e9 + rng.uniform(-1.0, 1.0, 60)
    start = dt.datetime(2021, 1, 4)
    body["documents"]["big"] = {"data": [
        {"date": (start + dt.timedelta(days=i)).strftime("%Y-%m-%d"), "v": float(v)}
        for i, v in enumerate(values)
    ]}
    corr = body["analyticsOptions"]["correlations"][0]
    corr.update(toData="big", toIndex="v", unitsToForecast=5)
    seen = []
    caps = P._caps

    def spy(s, floor, ceiling):
        seen.append((s["series_id"], caps(s, floor, ceiling)))
        return seen[-1][1]

    monkeypatch.setattr(P, "_caps", spy)
    out = P.saturating_growth(spark, parse_analyze_request(body))
    assert out["correlations"][corr["id"]]["predictions"]["futureForecasts"]
    (cap,) = [c for sid, (_, c) in seen if sid.startswith("big.v|")]
    expected = values.max() + 3 * np.std(values, ddof=1)
    assert math.isclose(cap, expected, rel_tol=1e-9), (cap, expected)
    assert math.isclose(
        (cap - values.max()) / 3, np.std(values, ddof=1), rel_tol=1e-6
    )


# --- one fold program per changepoint setting -------------------------

_GRAINS = (("H", "mean"), ("D", "sum"), ("W", "median"), ("M", "max"))


def _fold_body(changepoints: bool) -> dict:
    """``_mixed_body`` over four grains. With ``changepoints`` the H and
    W correlations give a changepoint prior scale, in each endpoint's
    spelling, so the request holds two folds."""
    body = _mixed_body(_GRAINS)
    if changepoints:
        for corr in body["analyticsOptions"]["correlations"][::2]:
            corr["ChangePointPriorScale"] = 0.5
            corr["ForecastingOptions"] = {"toIndex": {"changepointPriorScale": 0.5}}
    return body


def _datetimes(obj):
    """``obj`` with every date read as its midnight: a request whose
    legs are all D, W or M buckets to dates, a mixed one to timestamps."""
    if isinstance(obj, dict):
        return {k: _datetimes(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_datetimes(v) for v in obj]
    if isinstance(obj, dt.date) and not isinstance(obj, dt.datetime):
        return dt.datetime.combine(obj, dt.time())
    return obj


@pytest.mark.parametrize(
    "endpoint,changepoints",
    [("analyze", False), ("analyze", True), ("saturating_growth", True)],
)
def test_mixed_grains_run_one_fold_per_changepoint_setting(
    spark, monkeypatch, endpoint, changepoints
):
    """H, D, W and M correlations share one forecast program per
    changepoint setting, and each still equals its solo request."""
    req = parse_analyze_request(_fold_body(changepoints))
    run = getattr(P, endpoint)
    folds = []
    chain = P.forecast_covariate_chain

    def spy(*args, **kwargs):
        folds.append(chain(*args, **kwargs))
        return folds[-1]

    monkeypatch.setattr(P, "forecast_covariate_chain", spy)
    full = run(spark, req)["correlations"]
    assert len(folds) == (2 if changepoints else 1)
    for fold in folds:
        plan = fold._jdf.queryExecution().executedPlan().toString()
        # the union and the one groupBy: one exchange at most (none when
        # the small request's prepared frame is one partition), and no
        # sort's range partitioning
        above_cache = plan.split("InMemoryTableScan")[0]
        assert above_cache.count("Exchange") <= 1, plan
        assert "rangepartitioning" not in above_cache, plan
        for node in ("Join", "Window", "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython"):
            assert node not in plan, node
    for corr in req.correlations:
        solo = run(
            spark, AnalyzeRequest(documents=req.documents, correlations=[corr])
        )["correlations"]
        got, want = _datetimes(full[corr.id]), _datetimes(solo[corr.id])
        assert _close(got, want), corr.id
        # the forecast and the correlograms read their own series' row
        # and array only
        for key in (
            "type", "diagnostics", "regressorCoefficients", "predictions",
            "autocorrelations", "partialAutocorrelations",
        ):
            assert _close(got.get(key), want.get(key), rel=1e-12), (corr.id, key)
