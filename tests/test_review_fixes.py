"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import datetime
import math

import pytest

from pyspark.sql import functions as F

from temporal_retriever_spark.align import future_grid
from temporal_retriever_spark.api.models import parse_correlation
from temporal_retriever_spark.forecast import forecast_linear_seasonal
from temporal_retriever_spark.pipeline import analyze
from temporal_retriever_spark.api.models import AnalyzeRequest


def test_future_grid_horizon_zero_is_empty(spark):
    bounds = spark.createDataFrame(
        [("s", datetime.date(2024, 1, 31))], "series_id string, max_ds date"
    )
    assert future_grid(bounds, grain="D", horizon=0).count() == 0


def test_forecast_horizon_zero_history_only(spark):
    rows = [("s", datetime.date(2024, 1, 1 + i), 10.0 + i) for i in range(10)]
    df = spark.createDataFrame(rows, "series_id string, ds date, y double")
    pred = forecast_linear_seasonal(df, grain="D", horizon=0)
    got = [r["ds"] for r in pred.collect()]
    assert len(got) == 10  # no duplicated max_ds, no spurious future tick
    assert len(set(got)) == 10


def test_caps_follow_reference_leg_selection():
    # reference app.py:513-517/533-537: covariate <- fromIndex options'
    # caps.fromIndex; target <- toIndex options' caps.toIndex
    raw = {
        "id": "c",
        "fromData": "a", "fromIndex": "x", "toData": "b", "toIndex": "y",
        "ForecastingOptions": {
            "fromIndex": {"caps": {
                "fromIndex": {"floor": 10.0, "ceiling": 100.0},
                "toIndex": {"floor": -1.0, "ceiling": 5000.0},
            }},
            "toIndex": {"caps": {
                "fromIndex": {"floor": -2.0, "ceiling": 7.0},
                "toIndex": {"floor": 3.0, "ceiling": 300.0},
            }},
        },
    }
    corr = parse_correlation(raw)
    assert corr.forecast_options.from_cap.floor == 10.0
    assert corr.forecast_options.from_cap.ceiling == 100.0
    assert corr.forecast_options.to_cap.floor == 3.0
    assert corr.forecast_options.to_cap.ceiling == 300.0


def test_analyze_constant_series_yields_nan_acf(spark):
    docs = {
        "flat": {"data": [
            {"date": f"2024-01-{d:02d}T00:00:00Z", "v": 5.0} for d in range(1, 15)
        ]},
        "vary": {"data": [
            {"date": f"2024-01-{d:02d}T00:00:00Z", "v": float(d % 3 + d)}
            for d in range(1, 15)
        ]},
    }
    req = AnalyzeRequest(
        documents=docs,
        correlations=(
            parse_correlation({
                "id": "k", "fromData": "flat", "fromIndex": "v",
                "toData": "vary", "toIndex": "v",
            }),
        ),
    )
    out = analyze(spark, req, lags=3)  # must not raise
    from_lags = out["correlations"]["k"]["autocorrelations"]["from"]["lags"]
    assert from_lags[0] == 1.0
    assert all(math.isnan(v) for k, v in from_lags.items() if k > 0)


# ---- round-3 review findings ------------------------------------------------

def test_asof_tolerance_is_timezone_independent(spark):
    """The tolerance bound is parsed Python-side; epoch arithmetic on a
    timestamp literal would shift by the session UTC offset."""
    from temporal_retriever_spark.asof import asof_join

    left = spark.createDataFrame([("k", 10_000)], "k string, t int").select(
        "k", F.timestamp_seconds("t").alias("ds")
    )
    right = spark.createDataFrame(
        [("k", 10_000 - 7000, 1.0)], "k string, t int, v double"
    ).select("k", F.timestamp_seconds("t").alias("ds"), "v")
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in ("UTC", "Asia/Tokyo", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            out = asof_join(
                left, right, on=("k",), value_cols=("v",), tolerance="2 hours"
            ).collect()
            assert out[0]["v"] == 1.0, zone  # 7000s < 7200s in every zone
            out2 = asof_join(
                left, right, on=("k",), value_cols=("v",), tolerance="1 hour"
            ).collect()
            assert out2[0]["v"] is None, zone  # 7000s > 3600s in every zone
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_granger_underdetermined_lags_are_omitted(spark):
    """Lags whose model has more regressors than rows must be omitted,
    not emitted as NaN/garbage."""
    from temporal_retriever_spark.diagnostics import granger_native

    rows = [("s", float(i), float(i % 7), float((i * 3) % 5)) for i in range(12)]
    df = spark.createDataFrame(rows, "series_id string, ds double, y double, x double")
    out = granger_native(df, maxlag=5).collect()
    lags = sorted(r["lag"] for r in out)
    for r in out:
        assert r["df_den"] >= 1
        assert r["f_stat"] == r["f_stat"]  # not NaN
        assert 0.0 <= r["p_value"] <= 1.0
    # lag 5 on 12 rows: 7 rows vs 11 regressors -> dropped
    assert 5 not in lags and 1 in lags
    tiny = spark.createDataFrame(rows[:4], "series_id string, ds double, y double, x double")
    assert granger_native(tiny, maxlag=1).count() == 0  # df_den = n-4 <= 0


def test_rolling_corr_pairwise_null_handling(spark):
    """Null on either side must drop the PAIR from every sum, not just
    its own column's sums."""
    from temporal_retriever_spark.rolling import rolling_corr

    rows = [
        ("s", 0, 1.0, 2.0), ("s", 1, 2.0, None), ("s", 2, 3.0, 6.0),
        ("s", 3, 4.0, 8.0), ("s", 4, 5.0, 10.0),
    ]
    df = spark.createDataFrame(
        rows, "series_id string, t int, y double, x double"
    ).select("series_id", F.timestamp_seconds(F.col("t") * 60).alias("ds"), "y", "x")
    out = rolling_corr(df, window=5, min_periods=3).orderBy("ds").collect()
    # valid pairs are exactly collinear (x = 2y): r must be 1.0, and a
    # mixed-row-set computation would NOT give 1.0 (can even exceed |1|)
    assert out[-1]["rolling_corr"] == pytest.approx(1.0, abs=1e-9)
    # 3 valid pairs at t=3 (null row excluded from the count too)
    assert out[2]["rolling_corr"] is None or abs(out[2]["rolling_corr"] - 1.0) < 1e-9


def test_des_alpha_boundary_rejected(spark):
    """alpha=1.0 is valid for ewma but undefined for Brown's DES
    (trend factor alpha/(1-alpha)): must raise, not ZeroDivisionError."""
    from temporal_retriever_spark.forecast import forecast_exponential_smoothing

    df = spark.createDataFrame(
        [("s", datetime.date(2024, 1, 1 + i), float(i)) for i in range(5)],
        "series_id string, ds date, y double",
    )
    with pytest.raises(ValueError, match="alpha"):
        forecast_exponential_smoothing(df, grain="D", alpha=1.0)
    with pytest.raises(ValueError, match="alpha"):
        forecast_exponential_smoothing(df, grain="D", alpha=0.0)


def test_asof_join_output_collision_raises(spark):
    """A value_col landing on an existing left column with suffix=''
    must raise instead of emitting a duplicate column name."""
    from temporal_retriever_spark.asof import asof_join

    left = spark.createDataFrame(
        [("s", datetime.datetime(2024, 1, 2), 1.0)],
        "series_id string, ds timestamp, x double",
    )
    right = spark.createDataFrame(
        [("s", datetime.datetime(2024, 1, 1), 9.0)],
        "series_id string, ds timestamp, x double",
    )
    with pytest.raises(ValueError, match="suffix"):
        asof_join(left, right, on=["series_id"])
    # the documented fix works and attaches the suffixed column
    out = asof_join(left, right, on=["series_id"], suffix="_r")
    assert out.columns == ["series_id", "ds", "x", "x_r"]
    assert out.collect()[0]["x_r"] == 9.0


def test_asof_join_reserved_internal_names_raise(spark):
    from temporal_retriever_spark.asof import asof_join

    left = spark.createDataFrame(
        [("s", datetime.datetime(2024, 1, 2), 1.0)],
        "series_id string, ds timestamp, __asof_side double",
    )
    right = spark.createDataFrame(
        [("s", datetime.datetime(2024, 1, 1), 9.0)],
        "series_id string, ds timestamp, v double",
    )
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, on=["series_id"])


def test_keyless_window_warns(spark):
    """Keyless mode single-partitions the series: correct, but callers
    must be told it is not a scale path."""
    from temporal_retriever_spark.asof import asof_join
    from temporal_retriever_spark.rolling import rolling_aggregate

    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1 + i), float(i)) for i in range(4)],
        "ds timestamp, y double",
    )
    with pytest.warns(RuntimeWarning, match="single partition"):
        rolling_aggregate(df, window=2, series_cols=())
    right = df.select("ds", F.col("y").alias("v"))
    with pytest.warns(RuntimeWarning, match="single partition"):
        asof_join(df, right, on=())


def test_streaming_anomaly_timeout_validation():
    from temporal_retriever_spark.streaming import streaming_anomaly_zscore

    with pytest.raises(ValueError, match="timeout"):
        streaming_anomaly_zscore(None, timeout="EventTimeTimeout")


def test_token_topk_unicode_lowercase_order(spark):
    """min_token_len must be measured on the LOWERED token (the oracle's
    order of operations): 'İ'.lower() == 'i̇' has length 2, so with
    min_token_len=2 the token must survive the filter."""
    from temporal_retriever_spark.llm.text import token_topk

    df = spark.createDataFrame([("İ", "g")], "text string, lang string")
    out = token_topk(df, k=5, group_col="lang", min_token_len=2).collect()
    assert len(out) == 1 and out[0]["token"] == "İ".lower()


# ---- round-4 self-review fixes ----


def test_interval_join_left_null_columns_not_duplicated(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from temporal_retriever_spark.asof import interval_join

    events = spark.createDataFrame(
        [("a", "2024-01-01 12:00:00", None), ("a", "2024-01-02 05:00:00", 2.0)],
        "k string, ds string, y double",
    ).withColumn("ds", F.col("ds").cast("timestamp"))
    ivs = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", "2024-01-01 23:00:00", "w1")],
        "k string, lo string, hi string, label string",
    ).select(
        "k",
        F.col("lo").cast("timestamp").alias("lo"),
        F.col("hi").cast("timestamp").alias("hi"),
        "label",
    )
    out = interval_join(
        events, ivs, on=("k",), ts_col="ds", start_col="lo", end_col="hi", how="left"
    ).toPandas()
    # the NULL-y matched event must appear exactly once (matched), not
    # also as a spurious unmatched row
    assert len(out) == 2
    assert out.label.notna().sum() == 1


def test_pack_sequences_whole_mode_string_ids(spark):
    from temporal_retriever_spark.llm.chunking import pack_sequences

    df = spark.createDataFrame(
        [("u-1", "a b c"), ("u-2", "d e")], "doc_id string, text string"
    )
    out = pack_sequences(df, capacity=4, buckets=2, mode="whole").toPandas()
    assert sorted(out.doc_id) == ["u-1", "u-2"]


def test_holt_winters_integer_series_key(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_holt_winters

    pdf = pd.DataFrame(
        {
            "series_id": 7,
            "ds": pd.date_range("2024-01-01", periods=20),
            "y": np.arange(20.0),
        }
    )
    out = forecast_holt_winters(spark.createDataFrame(pdf), horizon=2, period=7)
    assert dict(out.dtypes)["series_id"] == "bigint"
    assert out.toPandas().series_id.tolist() == [7, 7]


def test_forecast_ar_short_series_dropped_not_nan(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_ar

    long = pd.DataFrame(
        {
            "series_id": "long",
            "ds": pd.date_range("2024-01-01", periods=50),
            "y": np.random.default_rng(1).normal(size=50),
        }
    )
    short = pd.DataFrame(
        {
            "series_id": "short",
            "ds": pd.date_range("2024-01-01", periods=4),
            "y": [1.0, 2.0, 3.0, 4.0],
        }
    )
    out = forecast_ar(
        spark.createDataFrame(pd.concat([long, short])), p=3, horizon=3
    ).toPandas()
    # short series dropped (documented), long series fully forecast
    assert set(out.series_id) == {"long"}
    assert out.yhat.notna().all()


def test_theta_and_kpss_ignore_null_observations(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.diagnostics import kpss
    from temporal_retriever_spark.forecast import forecast_theta

    rng = np.random.default_rng(3)
    base = pd.DataFrame(
        {
            "series_id": "a",
            "ds": pd.date_range("2024-01-01", periods=60),
            "y": rng.normal(size=60),
        }
    )
    with_null = base.copy()
    with_null.loc[10, "y"] = None
    dropped = base.drop(index=10)
    th_a = forecast_theta(spark.createDataFrame(with_null), horizon=3).toPandas()
    th_b = forecast_theta(spark.createDataFrame(dropped), horizon=3).toPandas()
    assert np.allclose(
        th_a.sort_values("ds").yhat.to_numpy(),
        th_b.sort_values("ds").yhat.to_numpy(),
    )
    kp_a = kpss(spark.createDataFrame(with_null), nlags=5).toPandas().iloc[0]
    kp_b = kpss(spark.createDataFrame(dropped), nlags=5).toPandas().iloc[0]
    assert kp_a.kpss_stat == pytest.approx(kp_b.kpss_stat, abs=1e-12)


def test_detect_seasonality_degenerate_series_reports_null(spark):
    import pandas as pd

    from temporal_retriever_spark.diagnostics import detect_seasonality

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "series_id": "tiny",
                "ds": pd.date_range("2024-01-01", periods=2),
                "y": [1.0, 2.0],
            }
        )
    )
    out = detect_seasonality(df, max_period=10).toPandas().iloc[0]
    # no candidate lag has data: NULLs, never the -inf sentinel
    assert pd.isna(out.acf) and pd.isna(out.period)


def test_read_any_forwards_parquet_options(spark, tmp_path):
    from temporal_retriever_spark.sources.parquet import read_any

    spark.range(3).write.parquet(f"{tmp_path}/nested/data")
    # recursiveFileLookup only finds the nested files if the option
    # actually reaches the parquet reader
    out = read_any(
        spark, f"{tmp_path}/nested", format="parquet", recursiveFileLookup="true"
    )
    assert out.count() == 3


# ---- second self-review pass ----


def test_ar_and_baselines_ignore_trailing_null(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_ar, forecast_baseline

    rng = np.random.default_rng(5)
    good = pd.DataFrame(
        {
            "series_id": "a",
            "ds": pd.date_range("2024-01-01", periods=40),
            # noisy AR-ish series: a pure ramp would be rank-deficient
            # (collinear lags) and correctly yield NULL forecasts
            "y": np.arange(40.0) + rng.normal(scale=0.5, size=40),
        }
    )
    trailing_null = good.copy()
    trailing_null.loc[40] = ["a", pd.Timestamp("2024-02-10"), None]
    base = forecast_ar(spark.createDataFrame(good), p=2, horizon=3).toPandas()
    got = forecast_ar(spark.createDataFrame(trailing_null), p=2, horizon=3).toPandas()
    # the null row is ignored entirely — identical forecasts, no NULLs
    assert got.yhat.notna().all()
    assert np.allclose(
        got.sort_values("ds").yhat.to_numpy(), base.sort_values("ds").yhat.to_numpy()
    )
    last = good.y.iloc[-1]
    nv = forecast_baseline(
        spark.createDataFrame(trailing_null), method="naive", horizon=2
    ).toPandas()
    assert nv.yhat.tolist() == [last, last]  # last ACTUAL observation
    dr = forecast_baseline(
        spark.createDataFrame(trailing_null), method="drift", horizon=1
    ).toPandas()
    want = last + (last - good.y.iloc[0]) / 39
    assert dr.yhat.iloc[0] == pytest.approx(want)


def test_mixture_plan_rejects_absent_weighted_group(spark):
    from temporal_retriever_spark.llm.corpus import mixture_plan

    df = spark.createDataFrame(
        [(1, "tok tok", "web")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError, match="no rows"):
        mixture_plan(df, {"web": 0.5, "books": 0.5})


def test_ensemble_rejects_duplicate_member_rows(spark):
    import pandas as pd

    from temporal_retriever_spark.evaluation import ensemble_forecasts

    a = pd.DataFrame(
        {
            "series_id": ["s", "s"],
            "ds": [pd.Timestamp("2024-01-01")] * 2,  # duplicate (series, ds)!
            "yhat": [10.0, 10.0],
        }
    )
    b = pd.DataFrame(
        {"series_id": ["s"], "ds": [pd.Timestamp("2024-01-02")], "yhat": [20.0]}
    )
    out = ensemble_forecasts(
        [spark.createDataFrame(a), spark.createDataFrame(b)]
    ).toPandas()
    # neither date has exactly one vote from EVERY member -> empty
    assert len(out) == 0


def test_accuracy_smape_skips_zero_zero_rows(spark, duck):
    import pandas as pd

    from temporal_retriever_spark.evaluation import forecast_accuracy

    act = pd.DataFrame(
        {
            "series_id": "z",
            "ds": pd.date_range("2024-01-01", periods=3),
            "y": [0.0, 10.0, 20.0],
        }
    )
    pred = pd.DataFrame(
        {
            "series_id": "z",
            "ds": pd.date_range("2024-01-01", periods=3),
            "yhat": [0.0, 12.0, 18.0],  # first row: 0/0 term
        }
    )
    out = (
        forecast_accuracy(spark.createDataFrame(pred), spark.createDataFrame(act))
        .toPandas()
        .iloc[0]
    )
    # the 0/0 date is skipped, not NaN-poisoned
    want = (2 * 2 / 22 + 2 * 2 / 38) / 2
    assert out.smape == pytest.approx(want, abs=1e-12)


def test_detect_seasonality_oracle_degenerate_null():
    """The oracle emits NULL period for all-NULL-rho series exactly
    like the engine (hash-parity on short series). Uses its OWN
    DuckDB connection — replacing the shared fixture's `events` view
    would break every later oracle test in the session."""
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM (VALUES "
                "('x', TIMESTAMP '2024-01-01 00:00:00', 1.0), "
                "('x', TIMESTAMP '2024-01-02 00:00:00', 2.0)) t(event_type, ts, value)")
    out = con.execute(e.oracle_sql()["detect_seasonality_daily"]).df()
    con.close()
    assert out.period.isna().all()


# ---- round-4b code-review findings (second review pass) ----


def test_funnel_summary_excludes_zero_step_users(spark):
    """sequence(1, 0) yields [1, 0] in Spark — zero-step users must not
    count as step-1 completers."""
    from datetime import datetime

    from temporal_retriever_spark.funnel import funnel_summary

    rows = [
        (1, datetime(2024, 1, 1, 9), "click"),
        (1, datetime(2024, 1, 1, 10), "view"),
        (2, datetime(2024, 1, 1, 9), "view"),   # never clicks
        (3, datetime(2024, 1, 1, 9), "view"),   # never clicks
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {
        r["step"]: (r["n_users"], r["conversion_rate"])
        for r in funnel_summary(df, ["click", "view"]).collect()
    }
    assert got[1] == (1, 1.0)
    assert got[2] == (1, 1.0)


def test_garch_constant_series_yields_null_z(spark):
    """Variance targeting on a flat series gives sigma2 == 0; z must be
    NULL, not a ZeroDivisionError that kills the fleet-wide job."""
    from temporal_retriever_spark.statespace import garch_volatility

    df = spark.createDataFrame(
        [("s", i, 5.0) for i in range(10)],
        "series_id string, ds int, y double",
    )
    got = sorted(
        garch_volatility(df, alpha=0.1, beta=0.8).collect(),
        key=lambda r: r["ds"],
    )
    assert len(got) == 10
    # targeting: s2 = var(y) = 0, so sigma2[0] == 0 -> NULL z (was a
    # ZeroDivisionError); resid = y (no demean) re-inflates later steps
    assert got[0]["sigma2"] == 0.0 and got[0]["z"] is None
    assert all(r["sigma2"] > 0 and r["z"] is not None for r in got[1:])

    # demeaned flat series: resid == 0 everywhere -> sigma2 stays 0,
    # every z NULL, still no crash
    got2 = garch_volatility(df, alpha=0.1, beta=0.8, demean=True).collect()
    assert all(r["sigma2"] == 0.0 and r["z"] is None for r in got2)


def test_fuzzy_join_keeps_all_raw_variants(spark):
    """Raw strings that normalize identically each get their own output
    pairs — dedup is on the raw form, not the normalized key."""
    from temporal_retriever_spark.fuzzy import fuzzy_join

    left = spark.createDataFrame([("ACME",), ("acme ",)], "s string")
    right = spark.createDataFrame([("acne",)], "t string")
    got = {
        r["s"]
        for r in fuzzy_join(
            left, right, left_col="s", right_col="t", max_distance=1, q=2
        ).collect()
    }
    assert got == {"ACME", "acme "}


def test_binseg_keyless_global_series(spark):
    """series_cols=() runs as one global series instead of crashing on
    a malformed schema string."""
    import math

    from temporal_retriever_spark.segmentation import binseg_changepoints

    rows = [
        (i, (0.0 if i < 30 else 8.0) + 0.1 * math.sin(7.0 * i))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "ds int, y double")
    got = binseg_changepoints(df, penalty=10.0, series_cols=()).collect()
    assert [r["cp_index"] for r in got] == [30]
    assert "_series" not in got[0].asDict()


def test_pq_refine_one_returns_exact_cosine(spark):
    """refine=1 re-ranks the top-k pool with exact cosine as the
    docstring promises (previously silently ignored)."""
    import numpy as np

    from temporal_retriever_spark.llm.pq import pq_topk, pq_train
    from temporal_retriever_spark.llm.similarity import cosine_similarity_expr

    rng = np.random.default_rng(5)
    df = spark.createDataFrame(
        [(i, rng.normal(size=8).tolist()) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    books = pq_train(df, m=4, n_codes=8, max_iter=2)
    queries = df.filter(F.col("vec_id") < 2).selectExpr(
        "vec_id as query_id", "embedding"
    )
    got = pq_topk(df, queries, books, k=3, refine=1).collect()
    # scores must be exact cosines for the returned pairs
    for r in got:
        qv = df.filter(F.col("vec_id") == r["query_id"]).first()["embedding"]
        cv = df.filter(F.col("vec_id") == r["vec_id"]).first()["embedding"]
        dot = sum(a * b for a, b in zip(qv, cv))
        na = sum(a * a for a in qv) ** 0.5
        nb = sum(b * b for b in cv) ** 0.5
        assert abs(r["score"] - dot / (na * nb)) < 1e-9


def test_target_encode_all_null_category_gets_prior(spark):
    """A category whose targets are ALL NULL encodes to the smoothed
    prior, not NULL (F.sum over all-NULL is NULL; count is 0)."""
    from temporal_retriever_spark.features import target_encode

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("c", None), ("c", None)],
        "cat string, y double",
    )
    got = {r["cat"]: r["cat_te"] for r in
           target_encode(df, cat_col="cat", smoothing=5.0).collect()}
    assert got["c"] == pytest.approx(2.0)  # the global mean


def test_impute_null_group_is_a_real_group(spark):
    """Rows with a NULL group key fill from the NULL group's own
    statistic (null-safe join), and moment+mode fills for the NULL
    group land on one row."""
    from temporal_retriever_spark.impute import impute

    df = spark.createDataFrame(
        [("g", 1.0, "x"), ("g", None, None), (None, 5.0, "z"),
         (None, None, None), (None, 7.0, "z")],
        "grp string, v double, c string",
    )
    got = impute(
        df, {"v": "mean", "c": "mode"}, group_cols=["grp"]
    ).collect()
    null_rows = [r for r in got if r["grp"] is None]
    assert len(null_rows) == 3
    filled = [r for r in null_rows if r["v_imputed"]]
    assert len(filled) == 1 and filled[0]["v"] == pytest.approx(6.0)
    assert all(r["c"] == "z" for r in null_rows)


def test_streaming_funnel_state_only_for_participants(spark, tmp_path):
    """Users with no step events get no state and no rows, matching
    the batch operator's output set."""
    from datetime import datetime

    from temporal_retriever_spark.streaming import streaming_funnel

    rows = [
        (1, datetime(2024, 1, 1, 9), "click"),
        (1, datetime(2024, 1, 1, 10), "view"),
        (2, datetime(2024, 1, 1, 9), "signup"),  # non-participant
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    df.coalesce(1).write.parquet(f"{tmp_path}/in/chunk=0")
    stream = spark.readStream.schema(df.schema).parquet(f"{tmp_path}/in/chunk=*")
    walked = streaming_funnel(stream, ["click", "view"])
    q = (
        walked.writeStream.outputMode("update")
        .format("memory").queryName("sf_participants")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    users = {r["user_id"] for r in spark.table("sf_participants").collect()}
    assert users == {1}
