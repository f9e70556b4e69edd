from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from temporal_retriever_spark.aggregate import bucket_aggregate
from temporal_retriever_spark.align import coalesce_actuals
from temporal_retriever_spark.forecast import (
    changepoint_fractions,
    forecast_changepoint,
    forecast_covariate_chain,
    forecast_covariate_changepoint,
    forecast_linear_seasonal,
    forecast_with_covariate,
    fit_linear_seasonal,
    prophet_available,
)
from tests.conftest import assert_matches_oracle


def _linear_series(spark, n=30, slope=2.0, intercept=10.0):
    base = datetime.date(2024, 1, 1)
    rows = [
        ("s", base + datetime.timedelta(days=i), intercept + slope * i)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "series_id string, ds date, y double")


def test_fit_recovers_exact_line(spark):
    df = _linear_series(spark)
    trend, seasonal, _ = fit_linear_seasonal(df, grain="D")
    row = trend.collect()[0]
    # slope per epoch-day = 2.0/day
    assert abs(row["b"] - 2.0) < 1e-9
    assert row["n_buckets"] == 30
    # all seasonal means ~0 on a pure line
    assert all(abs(r["s_mean"]) < 1e-9 for r in seasonal.collect())


def test_forecast_extends_line(spark):
    df = _linear_series(spark, n=30)
    pred = forecast_linear_seasonal(df, grain="D", horizon=5)
    rows = {r["ds"]: r for r in pred.collect()}
    assert len(rows) == 35
    last = datetime.date(2024, 1, 1) + datetime.timedelta(days=34)
    assert abs(rows[last]["yhat"] - (10.0 + 2.0 * 34)) < 1e-6
    # deterministic quantile band collapses to ~0 width on noise-free data
    assert abs(rows[last]["yhat_upper"] - rows[last]["yhat_lower"]) < 1e-6


def test_default_horizon_doubles_history(spark):
    df = _linear_series(spark, n=20)
    pred = forecast_linear_seasonal(df, grain="D")  # horizon=None -> n_buckets
    assert pred.count() == 40


def test_seasonal_component_recovered(spark):
    # y = 100 + 5*dow_indicator(sunday): day-of-week effect, no trend
    base = datetime.date(2024, 1, 1)
    rows = []
    for i in range(28):
        d = base + datetime.timedelta(days=i)
        rows.append(("s", d, 100.0 + (5.0 if d.isoweekday() == 7 else 0.0)))
    df = spark.createDataFrame(rows, "series_id string, ds date, y double")
    pred = forecast_linear_seasonal(df, grain="D", horizon=7)
    future = {r["ds"]: r["yhat"] for r in pred.collect() if r["ds"] > rows[-1][1]}
    for d, yhat in future.items():
        expected = 100.0 + (5.0 if d.isoweekday() == 7 else 0.0)
        # the Sunday spike leaks a little into the OLS slope; the shape
        # (Sunday ~5 above weekdays) is the property that matters
        assert abs(yhat - expected) < 1.0, (d, yhat)
    sunday = [y for d, y in future.items() if d.isoweekday() == 7]
    weekday = [y for d, y in future.items() if d.isoweekday() != 7]
    assert abs((sunday[0] - sum(weekday) / len(weekday)) - 5.0) < 0.5


def test_saturating_clamps(spark):
    df = _linear_series(spark, n=30, slope=10.0)
    pred = forecast_linear_seasonal(
        df, grain="D", horizon=20, saturating=True, user_ceiling=None
    )
    caps = [r for r in pred.collect()]
    max_y = 10.0 + 10.0 * 29
    # ceiling defaults to max + 3*std, so forecasts stop at that cap
    assert max(r["yhat"] for r in caps) <= max_y + 3 * 90 + 1
    assert min(r["yhat"] for r in caps) >= 0.0 or min(r["yhat"] for r in caps) >= 10.0


def test_covariate_coefficient_exact(spark):
    # y = 3 + 2*x with x varying independently of time -> coef == 2
    base = datetime.date(2024, 1, 1)
    xs = [5.0, 9.0, 2.0, 7.0, 4.0, 8.0, 1.0, 6.0, 3.0, 10.0] * 3
    rows = [
        ("s", base + datetime.timedelta(days=i), 3.0 + 2.0 * x, x)
        for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "series_id string, ds date, y double, cov double")
    target = df.select("series_id", "ds", "y")
    cov = df.select("series_id", "ds", "cov")
    pred = forecast_with_covariate(target, cov, grain="D", horizon=0)
    row = pred.collect()[0]
    assert abs(row["coef"] - 2.0) < 1e-9
    got = {r["ds"]: r["yhat"] for r in pred.collect()}
    for sid, d, y, x in rows:
        assert abs(got[d] - y) < 1e-6


def test_covariate_joins_keep_duplicate_dates(spark):
    # the history and future-grid covariate lookups are inner equi-joins:
    # a date the covariate repeats gives one row per repeat, a date it
    # lacks gives none
    base = datetime.date(2024, 1, 1)
    day = lambda i: base + datetime.timedelta(days=i)
    target = spark.createDataFrame(
        [("s", day(i), float(i % 4) + 0.1 * i) for i in range(10)],
        "series_id string, ds date, y double",
    )
    cov_days = [i for i in range(12) if i != 3] + [5, 11]
    cov = spark.createDataFrame(
        [("s", day(i), float(i * i % 7) + 0.01 * n) for n, i in enumerate(cov_days)],
        "series_id string, ds date, cov double",
    )
    got = forecast_with_covariate(target, cov, grain="D", horizon=2).collect()
    want = [day(i) for i in (0, 1, 2, 4, 5, 5, 6, 7, 8, 9, 10, 11, 11)]
    assert sorted(r["ds"] for r in got) == want
    assert all(r["yhat_lower"] <= r["yhat"] <= r["yhat_upper"] for r in got)


def _noisy_daily(spark, n_series=3, n_days=200, horizon=14):
    import numpy as np

    rng = np.random.default_rng(3)
    base = datetime.date(2023, 6, 1)
    rows, cov_rows = [], []
    for s in range(n_series):
        for i in range(n_days + horizon):
            d = base + datetime.timedelta(days=i)
            x = float(rng.normal(10.0, 3.0))
            cov_rows.append((f"s{s}", d, x))
            if i < n_days:
                rows.append((f"s{s}", d, 0.37 * i + 1.3 * x + float(rng.normal())))
    return (
        spark.createDataFrame(rows, "series_id string, ds date, y double"),
        spark.createDataFrame(cov_rows, "series_id string, ds date, cov double"),
    )


@pytest.mark.parametrize(
    "op", ["linear", "covariate", "changepoint", "covariate_changepoint"]
)
def test_forecast_independent_of_partitioning(spark, op):
    # every float sum folds over one sorted per-series array, so the
    # output bits do not depend on how the input is split or on how
    # many partitions the shuffle uses
    target, cov = _noisy_daily(spark)

    def run(parts: int, shuffle_parts: str) -> list[str]:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_parts)
        t, c = target.repartition(parts), cov.repartition(parts)
        got = {
            "linear": lambda: forecast_linear_seasonal(t, grain="D", horizon=14),
            "covariate": lambda: forecast_with_covariate(t, c, grain="D", horizon=14),
            "changepoint": lambda: forecast_changepoint(t, grain="D", horizon=14),
            "covariate_changepoint": lambda: forecast_covariate_changepoint(
                t, c, grain="D", horizon=14
            ),
        }[op]()
        return sorted(map(repr, got.collect()))

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        one, many = run(1, "3"), run(7, "13")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    assert one == many


def _chain_series(spark):
    """Target and covariate histories of four series, one per grain,
    timestamp-keyed as a mixed-grain request's legs are. The covariate
    lacks some values (its forecast fills them) and the target lacks
    some dates."""
    import numpy as np

    rng = np.random.default_rng(5)
    start = datetime.datetime(2023, 1, 1)
    month_ends = [
        datetime.datetime(2023 + (m + 1) // 12, (m + 1) % 12 + 1, 1) - datetime.timedelta(days=1)
        for m in range(24)
    ]
    ticks = {
        "h": [start + datetime.timedelta(hours=i) for i in range(120)],
        "d": [start + datetime.timedelta(days=i) for i in range(70)],
        "w": [start + datetime.timedelta(days=7 * i) for i in range(30)],
        "m": month_ends,
    }
    target, cov = [], []
    for sid, days in ticks.items():
        for i, d in enumerate(days):
            x = float(rng.normal(10.0, 3.0))
            cov.append((sid, d, None if i % 9 == 4 else x))
            if i % 11 != 7:
                target.append((sid, d, 0.2 * i + 1.5 * x + float(rng.normal())))
    schema = "series_id string, ds timestamp, y double"
    return spark.createDataFrame(target, schema), spark.createDataFrame(cov, schema)


_CHAIN_GRAINS = {"h": "H", "d": "D", "w": "W", "m": "M"}


@pytest.mark.parametrize(
    "cps,capped", [(None, False), (0.3, True)], ids=["linear", "changepoint-capped"]
)
def test_covariate_chain_equals_three_step_chain(spark, cps, capped):
    """One program with a per-series grain gives, bit for bit, what the
    covariate forecast, the actuals override and the covariate
    regression give per grain."""
    target, cov = _chain_series(spark)
    cov_caps = (F.lit(12.0), F.lit(40.0)) if capped else None
    caps = (F.lit(0.0), F.lit(30.0)) if capped else None

    def clamp(col, bounds):
        return F.least(F.greatest(col, bounds[0]), bounds[1]) if bounds else col

    want = []
    for sid, grain in _CHAIN_GRAINS.items():
        t, c = (f.where(F.col("series_id") == sid) for f in (target, cov))
        if cps is None:
            cov_pred = forecast_linear_seasonal(c, grain=grain, horizon=9)
            regress = forecast_with_covariate
        else:
            cov_pred = forecast_changepoint(
                c, grain=grain, horizon=9, changepoint_prior_scale=cps, include_bounds=False
            )
            regress = lambda *a, **k: forecast_covariate_changepoint(  # noqa: E731
                *a, changepoint_prior_scale=cps, **k
            )
        cov_full = coalesce_actuals(
            cov_pred.select("series_id", "ds", clamp(F.col("yhat"), cov_caps).alias("cov")),
            c,
            on=("series_id", "ds"),
            pred_col="cov",
            out_col="cov",
        )
        pred = regress(t, cov_full, grain=grain, horizon=5)
        want += pred.select(
            "series_id",
            "ds",
            *(clamp(F.col(b), caps).alias(b) for b in ("yhat", "yhat_lower", "yhat_upper")),
            "coef",
        ).collect()
    grain_by_id = F.create_map(
        *(e for sid, g in _CHAIN_GRAINS.items() for e in (F.lit(sid), F.lit(g)))
    )[F.col("series_id")]
    got = forecast_covariate_chain(
        target,
        cov,
        grain=grain_by_id,
        horizon=5,
        cov_horizon=9,
        changepoint_prior_scale=cps,
        caps=caps,
        cov_caps=cov_caps,
    ).collect()
    key = lambda r: (r["series_id"], r["ds"])  # noqa: E731
    assert {r["series_id"] for r in got} == set(_CHAIN_GRAINS)
    assert [repr(r) for r in sorted(got, key=key)] == [repr(r) for r in sorted(want, key=key)]


def test_long_hourly_history_matches_numpy(spark):
    """Two years of hourly buckets in ONE series (17,520 rows) plus a
    covariate, against closed-form numpy references within 1e-9: the
    linear and covariate forecasts and both changepoint forecasts.

    The native forecasts collect each series into one array that one
    task holds, so the longest series bounds their memory; this is the
    size the bound is checked at."""
    import numpy as np
    import pandas as pd

    n, h = 2 * 365 * 24, 24
    rng = np.random.default_rng(11)
    ts = pd.date_range("2022-01-01", periods=n + h, freq="h")
    t = (ts - pd.Timestamp("1970-01-01")).total_seconds().values / 86400.0
    hour = ts.hour.values
    x = 50 + 10 * np.sin(2 * np.pi * hour / 24) + rng.normal(size=n + h)
    y = 3 + 0.01 * (t - t[0]) + 0.5 * x + 2 * np.cos(2 * np.pi * hour / 24)
    y = (y + rng.normal(size=n + h))[:n]
    target = spark.createDataFrame(
        pd.DataFrame({"series_id": "s", "ds": ts[:n], "y": y})
    )
    cov = spark.createDataFrame(pd.DataFrame({"series_id": "s", "ds": ts, "cov": x}))

    def bands(fitted_hist, fitted_all):
        # seasonal = per-hour mean residual, bands = linear-interpolated
        # percentiles of the de-seasonalized residual (np.percentile)
        r = y - fitted_hist
        s_mean = np.array([r[hour[:n] == k].mean() for k in range(24)])
        q05, q95 = np.percentile(r - s_mean[hour[:n]], [5, 95])
        yhat = fitted_all + s_mean[hour]
        return np.column_stack([yhat, yhat + q05, yhat + q95])

    def got_matrix(df):
        pdf = df.toPandas().sort_values("ds")
        assert len(pdf) == n + h
        return pdf[["yhat", "yhat_lower", "yhat_upper"]].to_numpy()

    tc = t - t[:n].mean()
    b = np.dot(tc[:n], y - y.mean()) / np.dot(tc[:n], tc[:n])
    want = bands(y.mean() + b * tc[:n], y.mean() + b * tc)
    got = forecast_linear_seasonal(target, grain="H", horizon=h)
    np.testing.assert_allclose(got_matrix(got), want, rtol=1e-9)

    xc = x - x[:n].mean()
    a = np.column_stack([np.ones(n), tc[:n], xc[:n]])
    beta = np.linalg.lstsq(a, y, rcond=None)[0]
    fitted = beta[0] + beta[1] * tc + beta[2] * xc
    got = forecast_with_covariate(target, cov, grain="H", horizon=h)
    np.testing.assert_allclose(got_matrix(got), bands(fitted[:n], fitted), rtol=1e-9)
    assert got.first()["coef"] == pytest.approx(beta[2], rel=1e-9)

    # changepoint trend: np.linalg.solve of the same ridge normal
    # equations (hinges over the first 80% of the span, λ = 1/0.5 on
    # the hinge deltas only), with and without the covariate
    u = t - t[0]
    hinges = [np.maximum(0.0, u - f * u[n - 1]) for f in changepoint_fractions(10)]
    for feats, run in (
        ([np.ones(n + h), u, *hinges], lambda: forecast_changepoint(target, grain="H", horizon=h)),
        ([np.ones(n + h), u, *hinges, x],
         lambda: forecast_covariate_changepoint(target, cov, grain="H", horizon=h)),
    ):
        design = np.column_stack(feats)
        gram = design[:n].T @ design[:n]
        gram[range(2, 12), range(2, 12)] += 2.0
        fitted = design @ np.linalg.solve(gram, design[:n].T @ y)
        np.testing.assert_allclose(
            got_matrix(run()), bands(fitted[:n], fitted), rtol=1e-9
        )


FORECAST_ORACLE = """
WITH s AS (
    SELECT event_type, CAST(ts AS DATE) AS ds, SUM(value) AS y
    FROM events GROUP BY 1, 2
),
st AS (SELECT *, epoch(ds) / 86400.0 AS t FROM s),
fit AS (
    SELECT event_type, COALESCE(regr_slope(y, t), 0) AS b, AVG(y) AS my,
           AVG(t) AS mt, MAX(ds) AS max_ds, COUNT(*) AS n
    FROM st GROUP BY 1
),
resid AS (
    SELECT st.event_type, st.ds, st.t, dayofweek(st.ds) + 1 AS skey,
           st.y - (my + b * (st.t - mt)) AS r
    FROM st JOIN fit USING (event_type)
),
seas AS (SELECT event_type, skey, AVG(r) AS s_mean FROM resid GROUP BY 1, 2),
r2 AS (
    SELECT resid.event_type, resid.r - seas.s_mean AS rr
    FROM resid JOIN seas ON resid.event_type = seas.event_type
    AND resid.skey = seas.skey
),
rq AS (
    SELECT event_type, quantile_cont(rr, 0.05) AS q05, quantile_cont(rr, 0.95) AS q95
    FROM r2 GROUP BY 1
),
grid AS (
    SELECT event_type, ds FROM s
    UNION ALL
    SELECT event_type, max_ds + CAST(k AS INTEGER)
    FROM fit, generate_series(1, 7) AS g(k)
),
pred AS (
    SELECT grid.event_type, grid.ds,
           my + b * (epoch(grid.ds) / 86400.0 - mt)
             + COALESCE(s_mean, 0) AS base,
           q05, q95
    FROM grid
    JOIN fit USING (event_type)
    LEFT JOIN seas ON seas.event_type = grid.event_type
                  AND seas.skey = dayofweek(grid.ds) + 1
    LEFT JOIN rq ON rq.event_type = grid.event_type
)
SELECT event_type, ds, base AS yhat,
       base + COALESCE(q05, 0) AS yhat_lower,
       base + COALESCE(q95, 0) AS yhat_upper
FROM pred
"""


def test_forecast_matches_duckdb_oracle(tables, duck):
    daily = bucket_aggregate(
        tables["events"].withColumnRenamed("ts", "ds").withColumnRenamed("value", "y"),
        grain="D",
        agg="sum",
        series_cols=("event_type",),
    )
    got = forecast_linear_seasonal(
        daily, grain="D", horizon=7, series_cols=("event_type",)
    )
    assert_matches_oracle(got, duck, FORECAST_ORACLE, round_floats=5)


def test_prophet_backend(spark):
    """Runs in every environment: backend='auto' resolves to the real
    prophet wheel when installed, else the vendored Stan-free MAP fit
    (prophet_map.ProphetMAP — numerics pinned in test_prophet_map.py)."""
    df = _linear_series(spark)
    from temporal_retriever_spark.forecast import forecast_prophet

    pred = forecast_prophet(df, grain="D", horizon=5)
    assert pred.count() == 35


@pytest.mark.skipif(not prophet_available(), reason="prophet not installed")
def test_prophet_real_library_backend(spark):
    df = _linear_series(spark)
    from temporal_retriever_spark.forecast import forecast_prophet

    pred = forecast_prophet(df, grain="D", horizon=5, backend="prophet")
    assert pred.count() == 35


@pytest.mark.skipif(not prophet_available(), reason="prophet not installed")
def test_prophet_library_parity_vs_vendored_map(spark):
    """W3-W5 library-parity pin (VERDICT r8 item 6; README DIVERGENCES).

    This container has no prophet wheel, so the reference's library
    path (app.py:124-131, 171-178) runs through the vendored MAP fit
    everywhere evidence is collected. This test freezes the parity
    CLAIM so the library path cannot rot unnoticed: the moment a
    prophet wheel appears, backend='prophet' and backend='map' must
    agree through the SAME Spark grouped-Arrow surface within 2% of
    the series scale (both are MAP optima of the same posterior;
    tolerance covers Stan LBFGS vs coordinate descent). Seeded
    deterministic fixture; uncertainty off so only the point forecast
    is compared."""
    import math

    import numpy as np

    from temporal_retriever_spark.forecast import forecast_prophet

    base = datetime.date(2024, 1, 1)
    rng = np.random.default_rng(7)
    rows = [
        (
            "s",
            base + datetime.timedelta(days=i),
            50.0 + 0.8 * i + 6.0 * math.sin(2 * math.pi * i / 7.0)
            + float(rng.normal(0, 0.3)),
        )
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "series_id string, ds date, y double")
    kw = dict(grain="D", horizon=14, uncertainty_samples=0)
    lib = {
        r["ds"]: r["yhat"]
        for r in forecast_prophet(df, backend="prophet", **kw).collect()
    }
    ours = {
        r["ds"]: r["yhat"]
        for r in forecast_prophet(df, backend="map", **kw).collect()
    }
    assert set(lib) == set(ours) and len(lib) == 164
    scale = max(abs(v) for v in ours.values())
    worst = max(abs(lib[d] - ours[d]) for d in lib) / scale
    assert worst < 0.02, f"library-vs-MAP divergence {worst:.4f} > 2%"


def test_exponential_smoothing_matches_local_reference(spark):
    """Brown's DES (EWMA-of-EWMA level/trend) against a direct numpy
    computation of the same truncated smoothing, history and future."""
    import numpy as np
    from temporal_retriever_spark.forecast import forecast_exponential_smoothing

    rng = np.random.default_rng(5)
    n = 60
    y = 100 + 2.0 * np.arange(n) + rng.normal(0, 1, n)
    df = spark.createDataFrame(
        [("s", i, float(v)) for i, v in enumerate(y)],
        "series_id string, d int, y double",
    ).select(
        "series_id",
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("d")).alias("ds"),
        "y",
    )
    out = forecast_exponential_smoothing(
        df, grain="D", alpha=0.3, horizon=5, window=64
    ).orderBy("ds").collect()

    def tewma(x, a, w):
        res = []
        for t in range(len(x)):
            seg = x[max(0, t - w + 1): t + 1][::-1]
            wts = (1 - a) ** np.arange(len(seg))
            res.append((seg * wts).sum() / wts.sum())
        return np.array(res)

    s1 = tewma(y, 0.3, 64)
    s2 = tewma(s1, 0.3, 64)
    a = 2 * s1 - s2
    b = 0.3 / 0.7 * (s1 - s2)
    assert len(out) == (n - 1) + 5  # one-step fits (lag-defined) + future
    for i, r in enumerate(out[: n - 1]):
        assert abs(r["yhat"] - (a[i] + b[i])) < 1e-9, i
    for h, r in enumerate(out[n - 1:], start=1):
        assert abs(r["yhat"] - (a[-1] + h * b[-1])) < 1e-9, h
    # the fitted trend recovers the true slope (2/bucket)
    assert abs(b[-1] - 2.0) < 0.5


def test_theta_matches_sequential_reference(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_theta

    def ref(y, h, alpha):
        n = len(y)
        t = np.arange(n, dtype=float)
        b, a0 = np.polyfit(t, y, 1)
        z2 = 2 * y - (a0 + b * t)
        s = z2[0]
        for v in z2[1:]:
            s = alpha * v + (1 - alpha) * s
        return np.array([0.5 * ((a0 + b * (n - 1 + k)) + s) for k in range(1, h + 1)])

    rng = np.random.default_rng(5)
    y = 10 + 0.3 * np.arange(120) + rng.normal(scale=2, size=120)
    pdf = pd.DataFrame(
        {"series_id": "a", "ds": pd.date_range("2024-01-01", periods=120), "y": y}
    )
    for alpha in (0.2, 0.4, 0.8):
        out = (
            forecast_theta(spark.createDataFrame(pdf), horizon=5, alpha=alpha)
            .toPandas()
            .sort_values("ds")
        )
        assert np.abs(out.yhat.to_numpy() - ref(y, 5, alpha)).max() < 1e-9
    # future grid: horizon rows starting the day after the last obs
    assert len(out) == 5
    assert out.ds.min() == pd.Timestamp("2024-04-30").date()


def test_theta_recovers_linear_trend(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_theta

    t = np.arange(60, dtype=float)
    pdf = pd.DataFrame(
        {"series_id": "lin", "ds": pd.date_range("2024-01-01", periods=60), "y": 3 + 2 * t}
    )
    out = forecast_theta(spark.createDataFrame(pdf), horizon=3).toPandas().sort_values("ds")
    # the theta drift property (Hyndman & Billah 2003): per-step
    # increment is b/2 — half the deterministic slope
    inc = np.diff(out.yhat.to_numpy())
    assert np.abs(inc - 1.0).max() < 1e-9
    # and the first step continues from the SES-lagged level, below
    # the true line but anchored at the last level
    assert out.yhat.iloc[0] == pytest.approx(121.0, abs=1e-6)


def test_theta_validation(spark):
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_theta

    df = spark.createDataFrame(
        pd.DataFrame({"series_id": ["a"], "ds": [pd.Timestamp("2024-01-01")], "y": [1.0]})
    )
    with pytest.raises(ValueError, match="alpha"):
        forecast_theta(df, alpha=1.0)
    with pytest.raises(ValueError, match="horizon"):
        forecast_theta(df, horizon=0)


def test_holt_winters_exact_on_clean_seasonal_trend(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_holt_winters

    season = np.tile([3, -2, 1, 0, -1, 2, -3], 10).astype(float)
    t = np.arange(70, dtype=float)
    y = 5 + 0.5 * t + season
    pdf = pd.DataFrame(
        {"series_id": "s", "ds": pd.date_range("2024-01-01", periods=70), "y": y}
    )
    out = (
        forecast_holt_winters(spark.createDataFrame(pdf), horizon=7, period=7)
        .toPandas()
        .sort_values("ds")
    )
    # detrended init keeps a clean trend+seasonal series exact
    want = np.array([5 + 0.5 * (69 + h) + season[(69 + h) % 7] for h in range(1, 8)])
    assert np.abs(out.yhat.to_numpy() - want).max() < 1e-9


def test_holt_winters_multi_series_and_fallback(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_holt_winters

    long = pd.DataFrame(
        {
            "series_id": "long",
            "ds": pd.date_range("2024-01-01", periods=30),
            "y": np.arange(30, dtype=float),
        }
    )
    short = pd.DataFrame(
        {
            "series_id": "short",
            "ds": pd.date_range("2024-01-01", periods=5),
            "y": [1.0, 2.0, 3.0, 4.0, 5.0],
        }
    )
    out = forecast_holt_winters(
        spark.createDataFrame(pd.concat([long, short])), horizon=3, period=7
    ).toPandas()
    assert len(out) == 6
    # short series: flat mean fallback (no seasonal signal to fit)
    s = out[out.series_id == "short"]
    assert (s.yhat == 3.0).all()
    # long linear series: close to the true line
    l = out[out.series_id == "long"].sort_values("ds")
    want = [30.0, 31.0, 32.0]
    assert np.abs(l.yhat.to_numpy() - np.array(want)).max() < 0.5


def test_holt_winters_validation(spark):
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_holt_winters

    df = spark.createDataFrame(
        pd.DataFrame({"series_id": ["a"], "ds": [pd.Timestamp("2024-01-01")], "y": [1.0]})
    )
    with pytest.raises(ValueError, match="period"):
        forecast_holt_winters(df, period=1)
    with pytest.raises(ValueError, match="gamma"):
        forecast_holt_winters(df, gamma=0.0)


def test_forecast_ar_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_ar

    def ref(y, p, H):
        rows = [
            [1.0] + [y[t - j] for j in range(1, p + 1)] + [y[t]]
            for t in range(p, len(y))
        ]
        A = np.array(rows)
        X, b = A[:, :-1], A[:, -1]
        coef, *_ = np.linalg.lstsq(X, b, rcond=None)
        hist = list(y)
        out = []
        for _ in range(H):
            v = coef[0] + sum(coef[j] * hist[-j] for j in range(1, p + 1))
            out.append(v)
            hist.append(v)
        return np.array(out)

    rng = np.random.default_rng(8)
    n = 200
    y = np.zeros(n)
    for t in range(2, n):
        y[t] = 1.0 + 0.6 * y[t - 1] + 0.25 * y[t - 2] + rng.normal(scale=0.5)
    pdf = pd.DataFrame(
        {"series_id": "a", "ds": pd.date_range("2024-01-01", periods=n), "y": y}
    )
    sdf = spark.createDataFrame(pdf)
    for p in (1, 2, 4):
        out = forecast_ar(sdf, p=p, horizon=6).toPandas().sort_values("ds")
        assert np.abs(out.yhat.to_numpy() - ref(y, p, 6)).max() < 1e-10


def test_forecast_ar_recovers_ar2_coefficients_behavior(spark):
    """On a near-noiseless AR(2), long-horizon forecasts converge to
    the process mean c/(1-phi1-phi2)."""
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_ar

    rng = np.random.default_rng(12)
    n = 400
    y = np.zeros(n)
    for t in range(2, n):
        y[t] = 2.0 + 0.5 * y[t - 1] + 0.2 * y[t - 2] + rng.normal(scale=0.01)
    pdf = pd.DataFrame(
        {"series_id": "a", "ds": pd.date_range("2023-01-01", periods=n), "y": y}
    )
    out = forecast_ar(spark.createDataFrame(pdf), p=2, horizon=60).toPandas()
    mean = 2.0 / (1 - 0.5 - 0.2)
    assert abs(out.sort_values("ds").yhat.iloc[-1] - mean) < 0.1


def test_forecast_ar_validation(spark):
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_ar

    df = spark.createDataFrame(
        pd.DataFrame({"series_id": ["a"], "ds": [pd.Timestamp("2024-01-01")], "y": [1.0]})
    )
    with pytest.raises(ValueError, match="p must"):
        forecast_ar(df, p=0)
    with pytest.raises(ValueError, match="horizon"):
        forecast_ar(df, horizon=0)


def test_forecast_baselines(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.forecast import forecast_baseline

    y = np.arange(1.0, 11.0)
    pdf = pd.DataFrame(
        {"series_id": "a", "ds": pd.date_range("2024-01-01", periods=10), "y": y}
    )
    sdf = spark.createDataFrame(pdf)
    nv = forecast_baseline(sdf, method="naive", horizon=3).toPandas().sort_values("ds")
    assert nv.yhat.tolist() == [10.0, 10.0, 10.0]
    dr = forecast_baseline(sdf, method="drift", horizon=3).toPandas().sort_values("ds")
    # average step on 1..10 is exactly 1 -> extends the line
    assert dr.yhat.tolist() == [11.0, 12.0, 13.0]
    sn = (
        forecast_baseline(sdf, method="snaive", horizon=8, period=3)
        .toPandas()
        .sort_values("ds")
    )
    # last season [8,9,10] repeats
    assert sn.yhat.tolist() == [8.0, 9.0, 10.0, 8.0, 9.0, 10.0, 8.0, 9.0]
    # short series: snaive falls back to repeating what exists
    short = spark.createDataFrame(
        pd.DataFrame(
            {"series_id": "s", "ds": pd.date_range("2024-01-01", periods=2), "y": [5.0, 7.0]}
        )
    )
    ss = (
        forecast_baseline(short, method="snaive", horizon=4, period=7)
        .toPandas()
        .sort_values("ds")
    )
    assert ss.yhat.tolist() == [5.0, 7.0, 5.0, 7.0]
    with pytest.raises(ValueError, match="method"):
        forecast_baseline(sdf, method="ets")


# ---------------------------------------------------------------------------
# ARMA via Hannan-Rissanen (forecast_arma)
# ---------------------------------------------------------------------------


def _arma_ref(ys, p, q, P, horizon):
    """Driver-side Hannan-Rissanen mirroring the engine's conditioning."""
    import numpy as np

    n = len(ys)
    XA = np.array(
        [[1.0] + [ys[t - j] for j in range(1, P + 1)] for t in range(P, n)]
    )
    YA = np.array([ys[t] for t in range(P, n)])
    a = np.linalg.solve(XA.T @ XA, XA.T @ YA)
    e = [None] * n
    for t in range(P, n):
        e[t] = ys[t] - (a[0] + sum(a[j] * ys[t - j] for j in range(1, P + 1)))
    rows = []
    for t in range(n):
        if t < p or any(
            t - k < 0 or e[t - k] is None for k in range(1, q + 1)
        ):
            continue
        rows.append(
            (
                [1.0]
                + [ys[t - j] for j in range(1, p + 1)]
                + [e[t - k] for k in range(1, q + 1)],
                ys[t],
            )
        )
    XB = np.array([r[0] for r in rows])
    YB = np.array([r[1] for r in rows])
    c = np.linalg.solve(XB.T @ XB, XB.T @ YB)
    f = {}
    for h in range(1, horizon + 1):
        v = c[0]
        for j in range(1, p + 1):
            v += c[j] * (f[h - j] if h - j >= 1 else ys[n - (j - h + 1)])
        for k in range(1, q + 1):
            s = h - k
            if s <= 0:
                v += c[p + k] * e[n - (1 - s)]
        f[h] = v
    return f


class TestForecastArma:
    def _series(self, n=120):
        """Deterministic ARMA-flavored series: AR pull + seasonal kick."""
        ys = [10.0, 11.0]
        for t in range(2, n):
            shock = ((t * 7919) % 13 - 6) / 10.0
            ys.append(0.55 * ys[-1] - 0.2 * ys[-2] + 5.0 + shock)
        return ys

    def test_matches_reference(self, spark):
        from temporal_retriever_spark.forecast import forecast_arma

        ys = self._series()
        base = datetime.date(2024, 1, 1)
        df = spark.createDataFrame(
            [("s", base + datetime.timedelta(days=i), v) for i, v in enumerate(ys)],
            "series_id string, ds date, y double",
        )
        got = {
            (r["ds"] - base).days - len(ys) + 1: r["yhat"]
            for r in forecast_arma(
                df, p=2, q=1, horizon=8
            ).collect()
        }
        ref = _arma_ref(ys, p=2, q=1, P=5, horizon=8)
        assert set(got) == set(ref)
        for h in ref:
            assert got[h] == pytest.approx(ref[h], rel=1e-6), h

    def test_deterministic_series_is_rank_deficient(self, spark):
        from temporal_retriever_spark.forecast import forecast_arma

        # perfectly linear series: long-AR residuals are ~0, so the
        # e-lag column is constant-zero -> singular Gram -> NULL yhat
        base = datetime.date(2024, 1, 1)
        df = spark.createDataFrame(
            [
                ("s", base + datetime.timedelta(days=i), 2.0 * i + 5.0)
                for i in range(60)
            ],
            "series_id string, ds date, y double",
        )
        rows = forecast_arma(df, p=1, q=1, horizon=3).collect()
        assert len(rows) == 3
        assert all(r["yhat"] is None for r in rows)

    def test_short_series_dropped_and_validation(self, spark):
        from temporal_retriever_spark.forecast import forecast_arma

        base = datetime.date(2024, 1, 1)
        df = spark.createDataFrame(
            [
                ("s", base + datetime.timedelta(days=i), float(i % 7))
                for i in range(8)
            ],
            "series_id string, ds date, y double",
        )
        assert forecast_arma(df, p=2, q=1, horizon=3).count() == 0
        with pytest.raises(ValueError, match="p must"):
            forecast_arma(df, p=0)
        with pytest.raises(ValueError, match="q must"):
            forecast_arma(df, q=0)
        with pytest.raises(ValueError, match="ar_order"):
            forecast_arma(df, p=3, q=3, ar_order=2)


class TestForecastArima:
    def test_d1_matches_difference_then_integrate(self, spark):
        from temporal_retriever_spark.forecast import (
            forecast_arima,
            forecast_arma,
        )

        ys = [10.0]
        for t in range(1, 120):
            shock = ((t * 7919) % 13 - 6) / 10.0
            ys.append(ys[-1] + 0.8 + 0.4 * ((t % 7) - 3) / 3.0 + shock)
        base = datetime.date(2024, 1, 1)
        df = spark.createDataFrame(
            [("s", base + datetime.timedelta(days=i), v) for i, v in enumerate(ys)],
            "series_id string, ds date, y double",
        )
        got = {
            r["ds"]: r["yhat"]
            for r in forecast_arima(df, p=2, d=1, q=1, horizon=6).collect()
        }
        # manual composition: diff -> arma -> cumsum + last value
        dif = [
            ("s", base + datetime.timedelta(days=i), ys[i] - ys[i - 1])
            for i in range(1, len(ys))
        ]
        ddf = spark.createDataFrame(dif, "series_id string, ds date, y double")
        fc = sorted(
            forecast_arma(ddf, p=2, q=1, horizon=6).collect(),
            key=lambda r: r["ds"],
        )
        acc = ys[-1]
        for r in fc:
            acc += r["yhat"]
            assert got[r["ds"]] == pytest.approx(acc, rel=1e-12)

    def test_trending_series_forecast_continues_trend(self, spark):
        from temporal_retriever_spark.forecast import forecast_arima

        base = datetime.date(2024, 1, 1)
        ys = [5.0 + 2.0 * i + ((i * 31) % 7 - 3) / 10.0 for i in range(90)]
        df = spark.createDataFrame(
            [("s", base + datetime.timedelta(days=i), v) for i, v in enumerate(ys)],
            "series_id string, ds date, y double",
        )
        rows = sorted(
            forecast_arima(df, p=1, d=1, q=1, horizon=5).collect(),
            key=lambda r: r["ds"],
        )
        assert len(rows) == 5
        for h, r in enumerate(rows, start=1):
            assert r["yhat"] == pytest.approx(ys[-1] + 2.0 * h, abs=1.5)

    def test_d0_is_arma_and_validation(self, spark):
        from temporal_retriever_spark.forecast import (
            forecast_arima,
            forecast_arma,
        )

        base = datetime.date(2024, 1, 1)
        df = spark.createDataFrame(
            [
                ("s", base + datetime.timedelta(days=i),
                 float((i * 13) % 17))
                for i in range(60)
            ],
            "series_id string, ds date, y double",
        )
        a = sorted(forecast_arima(df, p=2, d=0, q=1, horizon=4).collect())
        b = sorted(forecast_arma(df, p=2, q=1, horizon=4).collect())
        assert a == b
        with pytest.raises(ValueError, match="d must"):
            forecast_arima(df, d=2)


class TestForecastVar:
    def _rows(self):
        import math as _m
        import random

        rng = random.Random(21)
        # coupled pair: y is driven almost entirely by LAGGED x, so a
        # univariate AR on y misses the driver while VAR nails it
        xs, ys, rows = [10.0, 8.0], [5.0, 6.0], []
        for t in range(80):
            nx = 0.7 * xs[-1] - 0.3 * xs[-2] + 2.0 + rng.gauss(0, 0.3)
            ny = 0.9 * xs[-1] - 0.3 * ys[-1] + 1.0 + rng.gauss(0, 0.05)
            xs.append(nx)
            ys.append(ny)
        import datetime

        d0 = datetime.date(2024, 1, 1)
        for t, (x, y) in enumerate(zip(xs, ys)):
            d = d0 + datetime.timedelta(days=t)
            rows.append(("x", d, x))
            rows.append(("y", d, y))
        return rows

    def _ref(self, rows, names, p, horizon):
        import numpy as np

        from collections import defaultdict

        by_ds = defaultdict(dict)
        for s, d, v in rows:
            by_ds[d][s] = v
        grid = sorted(d for d, vals in by_ds.items() if all(n in vals for n in names))
        Y = np.array([[by_ds[d][n] for n in names] for d in grid])
        n, m = Y.shape
        X, T = [], []
        for t in range(p, n):
            z = [1.0]
            for lag in range(1, p + 1):
                z.extend(Y[t - lag])
            X.append(z)
            T.append(Y[t])
        X, T = np.array(X), np.array(T)
        C = np.linalg.solve(X.T @ X, X.T @ T)  # (k, m)
        hist = [Y[-(p - i)] for i in range(p)]
        preds = []
        for _ in range(horizon):
            z = [1.0]
            for lag in range(1, p + 1):
                z.extend(hist[-lag])
            f = np.array(z) @ C
            preds.append(f)
            hist.append(f)
        return preds

    def test_matches_numpy_var(self, spark):
        from temporal_retriever_spark.forecast import forecast_var

        rows = self._rows()
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        got = forecast_var(df, ["x", "y"], p=2, horizon=5).collect()
        ref = self._ref(rows, ["x", "y"], p=2, horizon=5)
        by = {(r["series_id"], r["ds"]): r["yhat"] for r in got}
        assert len(by) == 10
        import datetime

        last = max(d for _, d, _ in rows)
        for h in range(1, 6):
            d = last + datetime.timedelta(days=h)
            assert by[("x", d)] == pytest.approx(ref[h - 1][0], rel=1e-7)
            assert by[("y", d)] == pytest.approx(ref[h - 1][1], rel=1e-7)

    def test_cross_coupling_beats_univariate(self, spark):
        # y depends on lagged x strongly: VAR should out-forecast AR
        # on the held-out tail
        from temporal_retriever_spark.forecast import forecast_ar, forecast_var

        rows = self._rows()
        split = sorted({d for _, d, _ in rows})[-6]
        train = [(s, d, v) for s, d, v in rows if d < split]
        test = {(s, d): v for s, d, v in rows if d >= split}
        df = spark.createDataFrame(train, "series_id string, ds date, y double")
        var_p = {
            (r["series_id"], r["ds"]): r["yhat"]
            for r in forecast_var(df, ["x", "y"], p=2, horizon=6).collect()
        }
        ar_p = {
            (r["series_id"], r["ds"]): r["yhat"]
            for r in forecast_ar(df.filter("series_id = 'y'"), p=2, horizon=6).collect()
        }
        var_err = sum(
            (var_p[k] - test[k]) ** 2 for k in test if k in var_p and k[0] == "y"
        )
        ar_err = sum((ar_p[k] - test[k]) ** 2 for k in test if k in ar_p)
        assert var_err < ar_err

    def test_inner_grid_and_validation(self, spark):
        from temporal_retriever_spark.forecast import forecast_var

        import datetime

        d0 = datetime.date(2024, 1, 1)
        rows = []
        for t in range(30):
            d = d0 + datetime.timedelta(days=t)
            rows.append(("a", d, float(t)))
            if t % 3 != 0:  # b missing every third day -> inner grid
                rows.append(("b", d, float(2 * t + (t % 5))))
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        got = forecast_var(df, ["a", "b"], p=1, horizon=3).collect()
        assert len(got) == 6
        # exactly-collinear pair: NULL yhat, not an ANSI error
        rows2 = [(s, d, v) for s, d, v in rows if s == "a"] + [
            ("b", d, 2.0 * v) for s, d, v in rows if s == "a"
        ]
        df2 = spark.createDataFrame(rows2, "series_id string, ds date, y double")
        got2 = forecast_var(df2, ["a", "b"], p=1, horizon=2).collect()
        assert got2 and all(r["yhat"] is None for r in got2)
        with pytest.raises(ValueError):
            forecast_var(df, ["a"], p=1)
        with pytest.raises(ValueError):
            forecast_var(df, ["a", "a"], p=1)
        with pytest.raises(ValueError):
            forecast_var(df, ["a", "b"], p=0)
        with pytest.raises(ValueError):
            forecast_var(df, ["a", "b"], horizon=0)


class TestCroston:
    def _rows(self):
        import datetime

        # demand at fixed positions with known sizes; zeros elsewhere
        d0 = datetime.date(2024, 1, 1)
        sizes = {3: 10.0, 7: 8.0, 8: 12.0, 15: 9.0, 22: 11.0}
        return [
            ("s", d0 + datetime.timedelta(days=t - 1), sizes.get(t, 0.0))
            for t in range(1, 31)
        ]

    def _ref(self, rows, alpha):
        # exact (untruncated) SES replay on sizes and intervals
        dem = [(t + 1, v) for t, (_, _, v) in enumerate(rows) if v != 0]
        ts = [t for t, _ in dem]
        zs = [v for _, v in dem]
        qs = [ts[0]] + [b - a for a, b in zip(ts, ts[1:])]

        def ses(vals):
            s = vals[0]
            for v in vals[1:]:
                s = alpha * v + (1 - alpha) * s
            return s

        return ses(zs), ses(qs)

    def test_matches_ses_replay(self, spark):
        from temporal_retriever_spark.forecast import forecast_croston

        rows = self._rows()
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        got = forecast_croston(df, horizon=3, alpha=0.2).collect()
        z, p = self._ref(rows, 0.2)
        assert len(got) == 3
        for r in got:
            assert r["yhat"] == pytest.approx(z / p, rel=1e-9)
        # SBA variant scales by (1 - alpha/2)
        sba = forecast_croston(df, horizon=1, alpha=0.2, sba=True).collect()[0]
        assert sba["yhat"] == pytest.approx(0.9 * z / p, rel=1e-9)

    def test_forecast_dates_follow_grain(self, spark):
        import datetime

        from temporal_retriever_spark.forecast import forecast_croston

        rows = self._rows()
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        got = sorted(
            forecast_croston(df, horizon=2, alpha=0.2).collect(),
            key=lambda r: r["ds"],
        )
        last = max(d for _, d, _ in rows)
        assert [r["ds"].date() if hasattr(r["ds"], "date") else r["ds"] for r in got] == [
            last + datetime.timedelta(days=1),
            last + datetime.timedelta(days=2),
        ]

    def test_all_zero_series_dropped_and_validation(self, spark):
        from temporal_retriever_spark.forecast import forecast_croston

        import datetime

        d0 = datetime.date(2024, 1, 1)
        rows = [("z", d0 + datetime.timedelta(days=t), 0.0) for t in range(10)]
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        assert forecast_croston(df, horizon=2).count() == 0
        with pytest.raises(ValueError):
            forecast_croston(df, horizon=0)
        with pytest.raises(ValueError):
            forecast_croston(df, alpha=1.0)


class TestDemandClassification:
    def test_quadrants(self, spark):
        import datetime

        from temporal_retriever_spark.forecast import demand_classification

        d0 = datetime.date(2024, 1, 1)
        rows = []
        # smooth: demand every bucket, constant size
        rows += [("smooth", d0 + datetime.timedelta(days=t), 5.0) for t in range(20)]
        # intermittent: rare demand, constant size
        rows += [
            ("inter", d0 + datetime.timedelta(days=t), 5.0 if t % 5 == 0 else 0.0)
            for t in range(20)
        ]
        # erratic: every bucket, wildly varying size
        rows += [
            ("err", d0 + datetime.timedelta(days=t), [1.0, 30.0][t % 2])
            for t in range(20)
        ]
        # lumpy: rare AND wildly varying
        rows += [
            ("lumpy", d0 + datetime.timedelta(days=t),
             [1.0, 30.0][(t // 5) % 2] if t % 5 == 0 else 0.0)
            for t in range(20)
        ]
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        got = {r["series_id"]: r for r in demand_classification(df).collect()}
        assert got["smooth"]["category"] == "smooth"
        assert got["inter"]["category"] == "intermittent"
        assert got["err"]["category"] == "erratic"
        assert got["lumpy"]["category"] == "lumpy"
        assert got["inter"]["adi"] == pytest.approx(5.0)
        assert got["smooth"]["cv2"] == pytest.approx(0.0)

    def test_single_demand_null(self, spark):
        import datetime

        from temporal_retriever_spark.forecast import demand_classification

        d0 = datetime.date(2024, 1, 1)
        rows = [("s", d0 + datetime.timedelta(days=t), 7.0 if t == 3 else 0.0) for t in range(10)]
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        r = demand_classification(df).collect()[0]
        assert r["n_demands"] == 1 and r["cv2"] is None and r["category"] is None


class TestTsb:
    def _rows(self):
        import datetime

        d0 = datetime.date(2024, 1, 1)
        sizes = {3: 10.0, 7: 8.0, 8: 12.0, 15: 9.0, 22: 11.0}
        return [
            ("s", d0 + datetime.timedelta(days=t - 1), sizes.get(t, 0.0))
            for t in range(1, 31)
        ]

    @staticmethod
    def _ses(vals, a):
        s = vals[0]
        for v in vals[1:]:
            s = a * v + (1 - a) * s
        return s

    def test_matches_ses_replay(self, spark):
        from temporal_retriever_spark.forecast import forecast_tsb

        rows = self._rows()
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        got = forecast_tsb(df, horizon=3, alpha=0.2, beta=0.15).collect()
        occ = [1.0 if v != 0 else 0.0 for _, _, v in rows]
        sizes = [v for _, _, v in rows if v != 0]
        expected = self._ses(occ, 0.15) * self._ses(sizes, 0.2)
        assert len(got) == 3
        for r in got:
            assert r["yhat"] == pytest.approx(expected, rel=1e-9)

    def test_decays_after_obsolescence_unlike_croston(self, spark):
        import datetime

        from temporal_retriever_spark.forecast import (
            forecast_croston,
            forecast_tsb,
        )

        d0 = datetime.date(2024, 1, 1)
        # demand every other day for 30 days, then 60 days of silence
        rows = [
            ("s", d0 + datetime.timedelta(days=t),
             5.0 if (t < 30 and t % 2 == 0) else 0.0)
            for t in range(90)
        ]
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        tsb = forecast_tsb(df, horizon=1, alpha=0.1, beta=0.1).collect()[0]
        cro = forecast_croston(df, horizon=1, alpha=0.1).collect()[0]
        # croston still forecasts near 5/2; TSB has decayed toward 0
        assert cro["yhat"] > 1.0
        assert tsb["yhat"] < 0.05

    def test_zero_demand_series_forecasts_zero(self, spark):
        import datetime

        from temporal_retriever_spark.forecast import forecast_tsb

        d0 = datetime.date(2024, 1, 1)
        rows = [("z", d0 + datetime.timedelta(days=t), 0.0) for t in range(10)]
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        got = forecast_tsb(df, horizon=2).collect()
        assert len(got) == 2 and all(r["yhat"] == 0.0 for r in got)

    def test_validation(self, spark):
        import datetime

        from temporal_retriever_spark.forecast import forecast_tsb

        df = spark.createDataFrame(
            [("s", datetime.date(2024, 1, 1), 1.0)],
            "series_id string, ds date, y double",
        )
        for kw in ({"alpha": 1.0}, {"beta": 0.0}, {"horizon": 0}):
            with pytest.raises(ValueError):
                forecast_tsb(df, **kw)


class TestReconcile:
    def test_bottom_up_sums_children(self, spark):
        import datetime

        from temporal_retriever_spark.forecast import reconcile_bottom_up

        d0 = datetime.date(2024, 2, 1)
        rows = [
            ("a", "x", d0, 1.0), ("a", "y", d0, 2.0),
            ("b", "z", d0, 5.0),
            ("a", "x", d0 + datetime.timedelta(days=1), 3.0),
        ]
        df = spark.createDataFrame(
            rows, "region string, series_id string, ds date, yhat double"
        )
        up = {(r["region"], r["ds"]): r["yhat"] for r in reconcile_bottom_up(
            df, parent_cols=["region"]
        ).collect()}
        assert up[("a", d0)] == 3.0 and up[("b", d0)] == 5.0
        total = reconcile_bottom_up(df).collect()
        assert {(r["ds"], r["yhat"]) for r in total} == {
            (d0, 8.0), (d0 + datetime.timedelta(days=1), 3.0)
        }

    def test_top_down_shares_and_exact_additivity(self, spark):
        import datetime

        from temporal_retriever_spark.forecast import reconcile_top_down

        d0 = datetime.date(2024, 2, 1)
        hist = spark.createDataFrame(
            [("x", d0, 30.0), ("y", d0, 10.0), ("x", d0, 30.0)],
            "series_id string, ds date, y double",
        )
        tf = spark.createDataFrame(
            [(d0 + datetime.timedelta(days=5), 100.0),
             (d0 + datetime.timedelta(days=6), 50.0)],
            "ds date, yhat double",
        )
        got = reconcile_top_down(tf, hist).collect()
        by = {(r["series_id"], r["ds"]): r for r in got}
        d5 = d0 + datetime.timedelta(days=5)
        assert by[("x", d5)]["share"] == pytest.approx(60 / 70)
        assert by[("x", d5)]["yhat"] == pytest.approx(100 * 60 / 70)
        assert by[("y", d5)]["yhat"] == pytest.approx(100 * 10 / 70)
        # children sum to the total exactly per date
        import collections

        sums = collections.defaultdict(float)
        for r in got:
            sums[r["ds"]] += r["yhat"]
        assert sums[d5] == pytest.approx(100.0)
