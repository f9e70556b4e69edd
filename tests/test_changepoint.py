"""Piecewise changepoint trend (native Prophet-trend analog) + knob wiring.

Reference: the endpoints forward ChangePointPriorScale /
uncertaintySamples into Prophet (app.py:124-131); the native backend
makes them functional — piecewise ridge trend / interval omission.
"""

from __future__ import annotations

import datetime as dt

import pytest

from temporal_retriever_spark.forecast import (
    changepoint1_stages,
    changepoint_fractions,
    fit_changepoint_trend,
    forecast_changepoint,
    forecast_covariate_changepoint,
)


def _kinked(spark, n=80, kink=40, s1=1.0, s2=5.0):
    base = dt.date(2024, 1, 1)
    rows = [
        (
            "s1",
            base + dt.timedelta(days=i),
            float(s1 * i) if i < kink else s1 * kink + s2 * (i - kink),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "series_id string, ds date, y double"), base


def test_changepoint_fractions_span_first_80pct():
    fr = changepoint_fractions(4)
    assert fr == pytest.approx([0.2, 0.4, 0.6, 0.8])


def _ridge_reference(df, n_changepoints, scale, cov=None):
    """numpy solve of the ridge normal equations the kernel builds."""
    import numpy as np

    pdf = df.toPandas().sort_values("ds")
    t = pdf["ds"].map(lambda d: (d - dt.date(1970, 1, 1)).days).to_numpy(float)
    u = t - t.min()
    span = t.max() - t.min()
    cols = [np.ones_like(u), u]
    cols += [np.maximum(0.0, u - f * span) for f in changepoint_fractions(n_changepoints)]
    if cov is not None:
        cols.append(cov)
    x = np.column_stack(cols)
    a = x.T @ x
    idx = np.arange(2, 2 + n_changepoints)
    a[idx, idx] += 1.0 / scale
    v = x.T @ pdf["y"].to_numpy()
    return a, v, np.linalg.solve(a, v)


@pytest.mark.parametrize("n_changepoints,with_cov", [(1, False), (10, False), (10, True)])
def test_kernel_beta_matches_numpy(spark, n_changepoints, with_cov):
    # the in-SQL Cholesky solve against np.linalg.solve of the same
    # ridge normal equations; one changepoint also against the
    # closed-form Cramer strings the DuckDB oracle chains
    import numpy as np
    from pyspark.sql import functions as F

    df, _ = _kinked(spark)
    cov = None
    if with_cov:
        cov = np.cos(np.arange(80) / 3.0)
        df = spark.createDataFrame(
            [(r["series_id"], r["ds"], r["y"], float(c))
             for r, c in zip(df.orderBy("ds").collect(), cov)],
            "series_id string, ds date, y double, cov double",
        )
    kw = dict(n_changepoints=n_changepoints, changepoint_prior_scale=0.5)
    got = fit_changepoint_trend(df, cov_col="cov" if with_cov else None, **kw).collect()
    a, v, want = _ridge_reference(df, n_changepoints, 0.5, cov)
    # near-zero entries (the exact kink has no intercept) are held to
    # the scale of the largest coefficient
    np.testing.assert_allclose(
        got[0]["beta"], want, rtol=1e-7, atol=1e-9 * np.abs(want).max()
    )
    if n_changepoints == 1:
        sums = {f"g{i}_{j}": float(a[i, j]) for i in range(3) for j in range(i, 3)}
        sums["g2_2"] -= 2.0  # the stages add λ = 1/0.5 themselves
        sums.update({f"v{i}": float(v[i]) for i in range(3)})
        cur = spark.createDataFrame([sums])
        for name, expr in changepoint1_stages(2.0):
            cur = cur.withColumn(name, F.expr(expr))
        cramer = cur.select("beta0", "beta1", "beta2").first()
        np.testing.assert_allclose(got[0]["beta"], list(cramer), rtol=1e-9)


def test_one_row_series_has_no_fit(spark):
    # a single bucket leaves the slope unidentified: no beta and a NULL
    # yhat, while the other series still forecast
    df, base = _kinked(spark, n=20)
    one = spark.createDataFrame([("s2", base, 3.0)], df.schema)
    both = df.unionByName(one)
    fit = {r["series_id"]: r for r in fit_changepoint_trend(both, n_changepoints=2).collect()}
    assert fit["s2"]["beta"] is None and fit["s2"]["n_buckets"] == 1
    assert fit["s1"]["beta"] is not None
    out = forecast_changepoint(
        both, grain="D", horizon=2, n_changepoints=2, include_bounds=False
    ).collect()
    lone = [r for r in out if r["series_id"] == "s2"]
    assert len(lone) == 3 and all(r["yhat"] is None for r in lone)
    assert all(r["yhat"] is not None for r in out if r["series_id"] == "s1")


def test_prior_scale_controls_flexibility(spark):
    # larger scale => weaker ridge penalty => tighter fit to the kink
    df, base = _kinked(spark)

    def max_resid(cps):
        out = forecast_changepoint(
            df, grain="D", horizon=0, n_changepoints=10,
            changepoint_prior_scale=cps, include_bounds=False,
        ).orderBy("ds").collect()
        truth = [float(i) if i < 40 else 40.0 + 5.0 * (i - 40) for i in range(80)]
        return max(abs(r["yhat"] - t) for r, t in zip(out, truth))

    flexible, stiff = max_resid(5.0), max_resid(0.001)
    assert flexible < stiff
    assert flexible < 5.0  # tracks the kink


def test_future_extrapolates_final_slope(spark):
    df, base = _kinked(spark)
    out = forecast_changepoint(
        df, grain="D", horizon=5, n_changepoints=10,
        changepoint_prior_scale=5.0, include_bounds=False,
        include_history=False,
    ).orderBy("ds").collect()
    assert len(out) == 5
    # post-kink slope is 5/day; day 84 truth = 40 + 5*44 = 260
    assert out[-1]["yhat"] == pytest.approx(260.0, abs=5.0)
    steps = [b["yhat"] - a["yhat"] for a, b in zip(out, out[1:])]
    assert all(s == pytest.approx(5.0, abs=1.0) for s in steps)


def test_bounds_envelope_and_coef(spark):
    df, base = _kinked(spark)
    cov = spark.createDataFrame(
        [
            ("s1", base + dt.timedelta(days=i), float(i % 7))
            for i in range(85)
        ],
        "series_id string, ds date, cov double",
    )
    out = forecast_covariate_changepoint(
        df, cov, grain="D", horizon=5, n_changepoints=5,
        changepoint_prior_scale=0.5,
    ).collect()
    assert len(out) == 85
    for r in out:
        assert r["yhat_lower"] <= r["yhat"] <= r["yhat_upper"]
        assert r["coef"] is not None


def test_stage_strings_are_engine_portable(duck):
    # the same changepoint1_stages strings must evaluate in DuckDB
    ctes = [
        "g AS (SELECT 10.0 AS g0_0, 3.0 AS g0_1, 1.0 AS g0_2, "
        "5.0 AS g1_1, 2.0 AS g1_2, 4.0 AS g2_2, "
        "7.0 AS v0, 8.0 AS v1, 9.0 AS v2)"
    ]
    prev = "g"
    for i, (name, expr) in enumerate(changepoint1_stages(2.0)):
        cur = f"t{i}"
        ctes.append(f"{cur} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = cur
    row = duck.execute(
        f"WITH {', '.join(ctes)} SELECT beta0, beta1, beta2 FROM {prev}"
    ).fetchone()
    import numpy as np

    a = np.array([[10.0, 3.0, 1.0], [3.0, 5.0, 2.0], [1.0, 2.0, 6.0]])
    want = np.linalg.solve(a, [7.0, 8.0, 9.0])
    assert row == pytest.approx(tuple(want), abs=1e-12)


def test_invalid_args(spark):
    df, _ = _kinked(spark, n=10)
    with pytest.raises(ValueError):
        fit_changepoint_trend(df, n_changepoints=0)
