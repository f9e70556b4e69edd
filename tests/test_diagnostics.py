from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from temporal_retriever_spark.aggregate import bucket_aggregate
from temporal_retriever_spark.diagnostics import (
    _yule_walker_pacf,
    acf,
    default_nlags,
    describe,
    granger_causality,
    pacf,
)
from tests.conftest import assert_matches_oracle


def _daily(tables):
    return bucket_aggregate(
        tables["events"].withColumnRenamed("ts", "ds").withColumnRenamed("value", "y"),
        grain="D",
        agg="sum",
        series_cols=("event_type",),
    )


def acf_oracle_sql(series_sql: str, lags: int, sid: str = "event_type") -> str:
    lag_cols = ", ".join(
        f"LAG(d, {k}) OVER (PARTITION BY {sid} ORDER BY ds) AS d{k}"
        for k in range(1, lags + 1)
    )
    sums = ", ".join(f"SUM(d * d{k}) AS s{k}" for k in range(1, lags + 1))
    union = " UNION ALL ".join(
        f"SELECT {sid}, {k} AS lag, s{k} / c0 AS acf FROM a"
        for k in range(1, lags + 1)
    )
    return f"""
        WITH s AS ({series_sql}),
        c AS (SELECT {sid}, ds, y - AVG(y) OVER (PARTITION BY {sid}) AS d FROM s),
        l AS (SELECT {sid}, d, {lag_cols} FROM c),
        a AS (SELECT {sid}, SUM(d * d) AS c0, {sums} FROM l GROUP BY 1)
        SELECT {sid}, 0 AS lag, 1.0 AS acf FROM a UNION ALL {union}
    """


def test_default_nlags():
    assert default_nlags(1) == 0
    assert default_nlags(100) == 20
    assert default_nlags(5) == 4  # capped at n-1


def test_acf_matches_duckdb(tables, duck):
    got = acf(_daily(tables), lags=5, series_cols=("event_type",))
    sql = acf_oracle_sql(
        "SELECT event_type, CAST(ts AS DATE) AS ds, SUM(value) AS y "
        "FROM events GROUP BY 1, 2",
        lags=5,
    )
    assert_matches_oracle(got, duck, sql)


def test_acf_statsmodels_formula(spark):
    # hand-check vs the formula on a known small series
    y = np.array([1.0, 3.0, 2.0, 5.0, 4.0, 6.0])
    d = y - y.mean()
    expected1 = (d[1:] * d[:-1]).sum() / (d * d).sum()
    df = spark.createDataFrame(
        [("s", float(i), float(v)) for i, v in enumerate(y)],
        "series_id string, ds double, y double",
    )
    rows = {r["lag"]: r["acf"] for r in acf(df, lags=2).collect()}
    assert rows[0] == 1.0
    assert abs(rows[1] - expected1) < 1e-12


def test_pacf_udf_matches_local(spark, tables):
    daily = _daily(tables)
    got = {
        (r["event_type"], r["lag"]): r["pacf"]
        for r in pacf(daily, lags=5, series_cols=("event_type",)).collect()
    }
    local = daily.toPandas()
    for et, group in local.groupby("event_type"):
        y = group.sort_values("ds")["y"].to_numpy()
        want = _yule_walker_pacf(y, 5)
        for k in range(6):
            assert abs(got[(et, k)] - want[k]) < 1e-10, (et, k)


@pytest.mark.parametrize("lags", [1, 5, 8])
def test_pacf_matches_durbin_levinson_stages(spark, tables, lags):
    # the aggregate fold must reproduce the Durbin-Levinson stage strings
    # (the pacf_daily oracle's arithmetic) bit for bit, NULLs included:
    # a constant series, one shorter than lags and a single observation
    from temporal_retriever_spark.diagnostics import (
        _lag_product_sums,
        durbin_levinson_stages,
    )

    daily = _daily(tables).select("event_type", "ds", F.col("y").cast("double"))
    ds = [r["ds"] for r in daily.select("ds").distinct().orderBy("ds").take(12)]
    edge = spark.createDataFrame(
        [("const", d, 3.0) for d in ds]
        + [("short", d, float(i * i)) for i, d in enumerate(ds[:lags])]
        + [("single", ds[0], 5.0)],
        daily.schema,
    )
    df = daily.unionByName(edge)
    got = {
        (r["event_type"], r["lag"]): repr(r["pacf"])
        for r in pacf(df, lags=lags, series_cols=("event_type",)).collect()
    }
    staged = _lag_product_sums(
        df, lags=lags, series_cols=["event_type"], ts_col="ds", value_col="y"
    )
    for name, expr in durbin_levinson_stages(lags):
        staged = staged.withColumn(name, F.expr(expr))
    want = {}
    for r in staged.collect():
        want[(r["event_type"], 0)] = repr(1.0)
        for k in range(1, lags + 1):
            want[(r["event_type"], k)] = repr(r[f"phi_{k}_{k}"])
    assert got == want
    assert got[("const", 1)] == got[("single", 1)] == "None"
    assert got[("short", lags)] == "None"


def test_pacf_auto_dispatch(spark, tables):
    daily = _daily(tables)
    # at 10 lags the fold still matches the statsmodels-parity
    # Yule-Walker reference
    got = {
        (r["event_type"], r["lag"]): r["pacf"]
        for r in pacf(daily, lags=10, series_cols=("event_type",)).collect()
    }
    local = daily.toPandas()
    for et, group in local.groupby("event_type"):
        y = group.sort_values("ds")["y"].to_numpy()
        want = _yule_walker_pacf(y, 10)
        for k in range(11):
            assert abs(got[(et, k)] - want[k]) < 1e-10, (et, k)


def test_acf_pacf_fused_matches_standalone(spark, tables):
    from temporal_retriever_spark.diagnostics import acf_pacf

    daily = _daily(tables)
    fused = {
        (r["event_type"], r["lag"]): (r["acf"], r["pacf"])
        for r in acf_pacf(daily, lags=8, series_cols=("event_type",)).collect()
    }
    acf_alone = {
        (r["event_type"], r["lag"]): r["acf"]
        for r in acf(daily, lags=8, series_cols=("event_type",)).collect()
    }
    pacf_alone = {
        (r["event_type"], r["lag"]): r["pacf"]
        for r in pacf(daily, lags=8, series_cols=("event_type",)).collect()
    }
    assert set(fused) == set(acf_alone) == set(pacf_alone)
    for key, (a, p) in fused.items():
        assert a == acf_alone[key] or (np.isnan(a) and acf_alone[key] is None)
        wp = pacf_alone[key]
        if p is None or (isinstance(p, float) and np.isnan(p)):
            assert wp is None or np.isnan(wp)
        else:
            assert p == wp


def test_pacf_ar1_property(spark):
    # AR(1): pacf(1) ~ phi, pacf(k>1) ~ 0
    rng = np.random.default_rng(42)
    y = np.zeros(500)
    for t in range(1, 500):
        y[t] = 0.7 * y[t - 1] + rng.normal()
    df = spark.createDataFrame(
        [("s", float(i), float(v)) for i, v in enumerate(y)],
        "series_id string, ds double, y double",
    )
    vals = {r["lag"]: r["pacf"] for r in pacf(df, lags=4).collect()}
    assert abs(vals[1] - 0.7) < 0.1
    for k in (2, 3, 4):
        assert abs(vals[k]) < 0.15


def test_describe_matches_duckdb(tables, duck):
    got = describe(
        tables["events"].withColumnRenamed("value", "y"), series_cols=("event_type",)
    )
    sql = """
        SELECT event_type, COUNT(value) AS n, AVG(value) AS mean,
               STDDEV_SAMP(value) AS std, MIN(value) AS min,
               quantile_cont(value, 0.25) AS q25, quantile_cont(value, 0.5) AS median,
               quantile_cont(value, 0.75) AS q75, MAX(value) AS max
        FROM events GROUP BY 1
    """
    assert_matches_oracle(got, duck, sql)


def test_granger_detects_direction(spark):
    rng = np.random.default_rng(7)
    n = 300
    x = rng.normal(size=n)
    y = np.zeros(n)
    for t in range(1, n):
        y[t] = 0.8 * x[t - 1] + 0.1 * rng.normal()
    rows = [("pair", float(i), float(y[i]), float(x[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "series_id string, ds double, y double, x double")
    fwd = {
        r["lag"]: r["f_stat"]
        for r in granger_causality(df, maxlag=3, detrend=False).collect()
    }
    # x causes y: huge F at lag 1
    assert fwd[1] > 100
    rev_df = df.select("series_id", "ds", F.col("x").alias("y"), F.col("y").alias("x"))
    rev = {
        r["lag"]: r["f_stat"]
        for r in granger_causality(rev_df, maxlag=3, detrend=False).collect()
    }
    assert rev[1] < fwd[1] / 10


def test_granger_short_series_empty(spark):
    df = spark.createDataFrame(
        [("s", 1.0, 2.0, 3.0)], "series_id string, ds double, y double, x double"
    )
    assert granger_causality(df, maxlag=14).count() == 0


@pytest.mark.parametrize("d1", [1, 2, 3, 14, 29])
def test_f_sf_expr_matches_continued_fraction(spark, d1):
    """The SQL F survival function, its numerator dof read as a value,
    agrees with stats.f_sf (Lentz continued fraction) at odd and even
    d2, in the tail too: tiny p-values keep their relative precision."""
    from temporal_retriever_spark.diagnostics import f_sf_expr
    from temporal_retriever_spark.stats import f_sf

    grid = [
        (f, d2)
        for f in (0.001, 0.5, 1.0, 2.5, 3.84, 10.0, 50.0, 300.0)
        for d2 in (3, 4, 10, 59, 60, 146, 147, 4957, 4958)
    ] + [(0.0, 100), (-1.0, 7), (float("inf"), 30)]
    df = spark.createDataFrame(grid, "f double, d2 long")
    rows = df.select(
        "f", "d2", F.expr(f_sf_expr("f", str(d1), "d2")).alias("p")
    ).collect()
    for r in rows:
        want = f_sf(r["f"], float(d1), float(r["d2"]))
        assert abs(r["p"] - want) < 1e-11, (r["f"], r["d2"], r["p"], want)
        assert math.isclose(r["p"], want, rel_tol=1e-9, abs_tol=1e-300), (
            r["f"], r["d2"], r["p"], want
        )


def test_granger_lag1_matches_udf_path(spark, tables):
    """Native lag-1 (explicit sums + series p-value) == grouped-UDF
    granger_causality lag-1 row (numpy lstsq + continued fraction)."""
    from temporal_retriever_spark.diagnostics import granger_causality, granger_lag1

    ev = tables["events"].select(
        "event_type", F.col("ts").cast("timestamp").alias("ds"),
        F.col("value").alias("y"),
    )
    daily = ev.groupBy("event_type", F.date_trunc("day", "ds").alias("ds")).agg(
        F.sum("y").alias("y")
    )
    target = daily.filter(F.col("event_type") == "click").select(
        F.lit("s").alias("series_id"), "ds", "y"
    )
    cov = daily.filter(F.col("event_type") == "view").select(
        F.lit("s").alias("series_id"), "ds", F.col("y").alias("x")
    )
    pair = target.join(cov, on=["series_id", "ds"], how="inner")
    native = granger_lag1(pair).collect()[0]
    udf_row = {
        r["lag"]: r
        for r in granger_causality(pair, maxlag=1).collect()
    }[1]
    assert native["df_den"] == udf_row["df_den"]
    assert abs(native["f_stat"] - udf_row["f_stat"]) < 1e-8
    assert abs(native["p_value"] - udf_row["p_value"]) < 1e-10


def _click_view_pair(tables):
    ev = tables["events"].select(
        "event_type", F.col("ts").cast("timestamp").alias("ds"),
        F.col("value").alias("y"),
    )
    daily = ev.groupBy("event_type", F.date_trunc("day", "ds").alias("ds")).agg(
        F.sum("y").alias("y")
    )
    target = daily.filter(F.col("event_type") == "click").select(
        F.lit("s").alias("series_id"), "ds", "y"
    )
    cov = daily.filter(F.col("event_type") == "view").select(
        F.lit("s").alias("series_id"), "ds", F.col("y").alias("x")
    )
    return target.join(cov, on=["series_id", "ds"], how="inner")


def _assert_matches_reference(native_rows, ref_rows):
    """granger_native rows == the numpy granger_causality rows that have
    a test (df_den >= 1): the same (series, lag) keys, dofs and n_obs,
    f_stat and p_value within 1e-9 relative."""
    native = {(r["series_id"], r["lag"]): r for r in native_rows}
    ref = {(r["series_id"], r["lag"]): r for r in ref_rows if r["df_den"] >= 1}
    assert native and set(native) == set(ref)
    for key, a in native.items():
        b = ref[key]
        assert (a["df_num"], a["df_den"], a["n_obs"]) == (b["df_num"], b["df_den"], b["n_obs"])
        for col in ("f_stat", "p_value"):
            assert math.isclose(a[col], b[col], rel_tol=1e-9, abs_tol=1e-300), (key, col)


def test_granger_native_matches_udf_all_lags(spark, tables):
    """The native array program == numpy-lstsq granger_causality at
    every lag (f_stat, p_value, dfs)."""
    from temporal_retriever_spark.diagnostics import granger_native

    pair = _click_view_pair(tables)
    native = granger_native(pair, maxlag=4).collect()
    udf = granger_causality(pair, maxlag=4).collect()
    assert sorted(r["lag"] for r in native) == [1, 2, 3, 4]
    _assert_matches_reference(native, udf)
    for a, b in zip(*(sorted(rows, key=lambda r: r["lag"]) for rows in (native, udf))):
        assert abs(a["f_stat"] - b["f_stat"]) < 1e-9, a["lag"]
        assert abs(a["p_value"] - b["p_value"]) < 1e-10, a["lag"]


def test_granger_native_high_lag_runs_natively(spark, tables):
    """The notebook's maxlag=14 runs as the same native program as any
    other maxlag, with no Python node, and matches granger_causality."""
    from temporal_retriever_spark.diagnostics import granger_native

    pair = _click_view_pair(tables)
    got = granger_native(pair, maxlag=14)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan
    _assert_matches_reference(got.collect(), granger_causality(pair, maxlag=14).collect())


def test_granger_long_hourly_history_matches_reference(spark):
    """Two years of hourly buckets in one pair (17,520 rows) at
    maxlag 14 against granger_causality within 1e-9: the program holds
    each series as one array in one task, so the longest series bounds
    its memory; this is the size the bound is checked at."""
    import pandas as pd

    from temporal_retriever_spark.diagnostics import granger_native

    n = 2 * 365 * 24
    rng = np.random.default_rng(11)
    ts = pd.date_range("2022-01-01", periods=n, freq="h")
    hour = ts.hour.values
    x = 50 + 10 * np.sin(2 * np.pi * hour / 24) + rng.normal(size=n)
    y = 3 + 0.0005 * np.arange(n) + 2 * np.cos(2 * np.pi * hour / 24) + rng.normal(size=n)
    y[3:] += 0.05 * x[:-3]
    pair = spark.createDataFrame(pd.DataFrame({"series_id": "s", "ds": ts, "y": y, "x": x}))
    native = granger_native(pair, maxlag=14).collect()
    assert sorted(r["lag"] for r in native) == list(range(1, 15))
    _assert_matches_reference(native, granger_causality(pair, maxlag=14).collect())


def test_granger_native_no_python_in_plan(spark, tables):
    from temporal_retriever_spark.diagnostics import granger_native

    ev = tables["events"].select(
        F.lit("s").alias("series_id"),
        F.col("ts").cast("timestamp").alias("ds"),
        F.col("value").alias("y"),
        (F.col("value") * 2).alias("x"),
    )
    plan = granger_native(ev, maxlag=2)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_ccf_matches_duckdb(tables, duck):
    from temporal_retriever_spark.diagnostics import ccf

    ev = tables["events"].select(
        "event_type", F.col("ts").cast("timestamp").alias("ds"),
        F.col("value").alias("y"),
    )
    daily = ev.groupBy("event_type", F.date_trunc("day", "ds").alias("ds")).agg(
        F.sum("y").alias("y")
    )
    t = daily.filter(F.col("event_type") == "click").select(
        F.lit("p").alias("series_id"), "ds", "y"
    )
    c = daily.filter(F.col("event_type") == "view").select(
        F.lit("p").alias("series_id"), "ds", F.col("y").alias("x")
    )
    pair = t.join(c, on=["series_id", "ds"], how="inner")
    got = ccf(pair, lags=5).select(
        "series_id", "lag", F.round("ccf", 6).alias("ccf")
    )
    lag_cols = ", ".join(
        f"LAG(dx, {k}) OVER (ORDER BY ds) AS dx{k}" for k in range(1, 6)
    )
    sums = ", ".join(f"SUM(dy * dx{k}) AS s{k}" for k in range(1, 6))
    union = " UNION ALL ".join(
        f"SELECT {k} AS lag, s{k} / sqrt(sxx * syy) AS c FROM a" for k in range(1, 6)
    )
    assert_matches_oracle(got, duck, f"""
        WITH d AS (SELECT event_type, CAST(ts AS DATE) AS ds, SUM(value) AS y
                   FROM events GROUP BY 1, 2),
        p AS (SELECT t.ds, t.y, c.y AS x
              FROM (SELECT ds, y FROM d WHERE event_type = 'click') t
              JOIN (SELECT ds, y FROM d WHERE event_type = 'view') c USING (ds)),
        cen AS (SELECT ds, y - AVG(y) OVER () AS dy, x - AVG(x) OVER () AS dx FROM p),
        l AS (SELECT ds, dy, dx, {lag_cols} FROM cen),
        a AS (SELECT SUM(dy * dy) AS syy, SUM(dx * dx) AS sxx,
                     SUM(dy * dx) AS s0, {sums} FROM l)
        SELECT 'p' AS series_id, lag, ROUND(c, 6) AS ccf FROM (
            SELECT 0 AS lag, s0 / sqrt(sxx * syy) AS c FROM a
            UNION ALL {union}
        )
    """)


def test_ccf_detects_known_lead(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    n = 400
    x = rng.normal(size=n)
    y = np.roll(x, 3) + 0.05 * rng.normal(size=n)  # x leads y by 3
    from temporal_retriever_spark.diagnostics import ccf

    df = spark.createDataFrame(
        [("s", float(i), float(y[i]), float(x[i])) for i in range(3, n)],
        "series_id string, ds double, y double, x double",
    )
    vals = {r["lag"]: r["ccf"] for r in ccf(df, lags=5).collect()}
    assert vals[3] > 0.9
    assert all(abs(vals[k]) < 0.3 for k in (0, 1, 2, 4, 5))


# --------------------------------------------------------------------------
# Ljung-Box / chi-square survival / Bartlett bands
# --------------------------------------------------------------------------


def test_chi2_sf_sql_matches_reference_on_both_engines(spark):
    import duckdb

    from temporal_retriever_spark.diagnostics import chi2_sf_sql
    from temporal_retriever_spark.stats import chi2_sf

    con = duckdb.connect()
    for df_ in range(1, 13):
        for x in (0.0, 0.5, 1.0, 3.0, 7.5, 15.0, 30.0, 80.0):
            sql = chi2_sf_sql(str(x), df_)
            got_spark = spark.sql(f"SELECT {sql} AS p").first()[0]
            got_duck = con.execute(f"SELECT {sql} AS p").fetchone()[0]
            ref = chi2_sf(x, df_)
            # odd dfs carry the A&S erfc approximation (<= 1.5e-7)
            assert abs(got_spark - ref) < 5e-7, (df_, x)
            # identical strings -> engines agree to float noise
            assert abs(got_spark - got_duck) < 1e-12, (df_, x)


def test_chi2_sf_reference_values():
    from temporal_retriever_spark.stats import chi2_sf

    # 95th percentiles of chi2 (published table values)
    assert chi2_sf(3.841, 1) == pytest.approx(0.05, abs=1e-4)
    assert chi2_sf(11.070, 5) == pytest.approx(0.05, abs=1e-4)
    assert chi2_sf(18.307, 10) == pytest.approx(0.05, abs=1e-4)
    assert chi2_sf(0.0, 4) == 1.0
    with pytest.raises(ValueError):
        chi2_sf(1.0, 0)


def test_ljung_box_matches_hand_reference(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.diagnostics import ljung_box
    from temporal_retriever_spark.stats import chi2_sf

    rng = np.random.default_rng(3)
    y = np.cumsum(rng.normal(size=60))  # strongly autocorrelated
    pdf = pd.DataFrame(
        {"series_id": "a", "ds": pd.date_range("2024-01-01", periods=60), "y": y}
    )
    out = ljung_box(spark.createDataFrame(pdf), lags=5).toPandas().sort_values("lag")
    d = y - y.mean()
    c0 = float((d * d).sum())
    n = len(y)
    rho = [float((d[k:] * d[:-k]).sum()) / c0 for k in range(1, 6)]
    q = bp = 0.0
    for m in range(1, 6):
        q += rho[m - 1] ** 2 / (n - m)
        bp += rho[m - 1] ** 2
        row = out[out.lag == m].iloc[0]
        assert row.lb_stat == pytest.approx(n * (n + 2) * q, abs=1e-9)
        assert row.bp_stat == pytest.approx(n * bp, abs=1e-9)
        assert row.lb_pvalue == pytest.approx(chi2_sf(n * (n + 2) * q, m), abs=5e-7)
    # a random walk is decisively not white noise
    assert (out.lb_pvalue < 1e-6).all()


def test_ljung_box_white_noise_is_insignificant(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.diagnostics import ljung_box

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "series_id": "w",
            "ds": pd.date_range("2024-01-01", periods=300),
            "y": rng.normal(size=300),
        }
    )
    out = ljung_box(spark.createDataFrame(pdf), lags=8).toPandas()
    # iid noise: Q should be unremarkable at every lag
    assert (out.lb_pvalue > 0.001).all()


def test_acf_bands_bartlett_formula(spark):
    import math

    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.diagnostics import acf_bands
    from temporal_retriever_spark.stats import norm_ppf

    rng = np.random.default_rng(5)
    y = np.cumsum(rng.normal(size=80))
    pdf = pd.DataFrame(
        {"series_id": "a", "ds": pd.date_range("2024-01-01", periods=80), "y": y}
    )
    out = acf_bands(spark.createDataFrame(pdf), lags=4).toPandas().sort_values("lag")
    n = len(y)
    d = y - y.mean()
    c0 = float((d * d).sum())
    rho = [float((d[k:] * d[:-k]).sum()) / c0 for k in range(1, 5)]
    z = norm_ppf(0.975)
    assert out.iloc[0].acf == 1.0 and out.iloc[0].se == 0.0
    bart = 0.0
    for k in range(1, 5):
        se = math.sqrt((1 + 2 * bart) / n) if k > 1 else math.sqrt(1.0 / n)
        row = out[out.lag == k].iloc[0]
        assert row.acf == pytest.approx(rho[k - 1], abs=1e-12)
        assert row.se == pytest.approx(se, abs=1e-12)
        assert row.ci_lower == pytest.approx(rho[k - 1] - z * se, abs=1e-10)
        assert row.ci_upper == pytest.approx(rho[k - 1] + z * se, abs=1e-10)
        bart += rho[k - 1] ** 2


def test_ljung_box_and_bands_validation(spark):
    import pandas as pd

    from temporal_retriever_spark.diagnostics import acf_bands, ljung_box

    df = spark.createDataFrame(
        pd.DataFrame({"series_id": ["a"], "ds": [pd.Timestamp("2024-01-01")], "y": [1.0]})
    )
    with pytest.raises(ValueError, match="lags"):
        ljung_box(df, lags=0)
    with pytest.raises(ValueError, match="alpha"):
        acf_bands(df, alpha=1.5)


def test_kpss_level_matches_hand_formula(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.diagnostics import kpss

    rng = np.random.default_rng(9)
    y = rng.normal(size=200)
    pdf = pd.DataFrame(
        {"series_id": "a", "ds": pd.date_range("2024-01-01", periods=200), "y": y}
    )
    out = kpss(spark.createDataFrame(pdf), nlags=14).toPandas().iloc[0]
    e = y - y.mean()
    S = np.cumsum(e)
    n = len(y)
    eta = float((S * S).sum()) / n**2
    lrv = float((e * e).sum()) / n
    for j in range(1, 15):
        lrv += 2 * (1 - j / 15.0) * float((e[j:] * e[:-j]).sum()) / n
    assert out.kpss_stat == pytest.approx(eta / lrv, abs=1e-12)
    assert out.kpss_pvalue == 0.10  # stationary noise: clamp at the top
    assert out.n == 200 and out.nlags == 14


def test_kpss_rejects_trending_series(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.diagnostics import kpss

    rng = np.random.default_rng(2)
    t = np.arange(300, dtype=float)
    pdf = pd.DataFrame(
        {
            "series_id": "tr",
            "ds": pd.date_range("2024-01-01", periods=300),
            "y": 0.5 * t + rng.normal(size=300),
        }
    )
    sdf = spark.createDataFrame(pdf)
    level = kpss(sdf, nlags=5, regression="level").toPandas().iloc[0]
    trend = kpss(sdf, nlags=5, regression="trend").toPandas().iloc[0]
    # a linear trend decisively violates level-stationarity...
    assert level.kpss_stat > 0.739 and level.kpss_pvalue == 0.01
    # ...but is trend-stationary by construction
    assert trend.kpss_pvalue > 0.025


def test_kpss_pvalue_interpolates_between_critical_values(spark):
    import pandas as pd

    from temporal_retriever_spark.diagnostics import _KPSS_CRIT, _kpss_p_interp
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.lit(0.405).alias("s"))
    p = df.select(_kpss_p_interp(F.col("s"), _KPSS_CRIT["level"]).alias("p")).first().p
    # midway between 0.347 (p=.10) and 0.463 (p=.05)
    want = 0.10 + (0.405 - 0.347) / (0.463 - 0.347) * (0.05 - 0.10)
    assert p == pytest.approx(want, abs=1e-12)


def test_kpss_validation(spark):
    import pandas as pd

    from temporal_retriever_spark.diagnostics import kpss, kpss_default_nlags

    df = spark.createDataFrame(
        pd.DataFrame({"series_id": ["a"], "ds": [pd.Timestamp("2024-01-01")], "y": [1.0]})
    )
    with pytest.raises(ValueError, match="nlags"):
        kpss(df, nlags=-1)
    with pytest.raises(ValueError, match="regression"):
        kpss(df, regression="quad")
    assert kpss_default_nlags(100) == 12
    assert kpss_default_nlags(200) == 15


def test_adf_matches_numpy_ols(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.diagnostics import adf

    rng = np.random.default_rng(7)

    def ref(y, p):
        dy = np.diff(y)
        ylag = y[:-1]
        rows = [
            [1.0, ylag[t]] + [dy[t - j] for j in range(1, p + 1)] + [dy[t]]
            for t in range(p, len(dy))
        ]
        A = np.array(rows)
        X, b = A[:, :-1], A[:, -1]
        coef, *_ = np.linalg.lstsq(X, b, rcond=None)
        resid = b - X @ coef
        s2 = float(resid @ resid) / (len(b) - X.shape[1])
        inv = np.linalg.inv(X.T @ X)
        return float(coef[1] / np.sqrt(s2 * inv[1, 1])), len(b)

    series = {
        "noise": rng.normal(size=200),
        "walk": np.cumsum(rng.normal(size=200)),
    }
    pdf = pd.concat(
        pd.DataFrame(
            {"series_id": k, "ds": pd.date_range("2024-01-01", periods=200), "y": v}
        )
        for k, v in series.items()
    )
    sdf = spark.createDataFrame(pdf)
    for p in (0, 1, 3):
        out = adf(sdf, maxlag=p).toPandas().set_index("series_id")
        for sid, y in series.items():
            t_ref, n_ref = ref(y, p)
            assert out.loc[sid].adf_stat == pytest.approx(t_ref, abs=1e-8)
            assert out.loc[sid].n == n_ref
    # decisions: stationary noise rejects the unit root, the walk can't
    final = adf(sdf, maxlag=1).toPandas().set_index("series_id")
    assert final.loc["noise"].adf_pvalue == 0.01
    assert final.loc["walk"].adf_pvalue == pytest.approx(0.10)


def test_adf_kpss_agree_on_stationarity(spark):
    """The two tests have opposite nulls; on clear-cut series they
    must agree: noise = stationary, trend = not level-stationary."""
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.diagnostics import adf, kpss

    rng = np.random.default_rng(22)
    pdf = pd.DataFrame(
        {
            "series_id": "n",
            "ds": pd.date_range("2024-01-01", periods=250),
            "y": rng.normal(size=250),
        }
    )
    sdf = spark.createDataFrame(pdf)
    a = adf(sdf, maxlag=2).toPandas().iloc[0]
    k = kpss(sdf, nlags=10).toPandas().iloc[0]
    assert a.adf_pvalue <= 0.05  # ADF rejects unit root
    assert k.kpss_pvalue >= 0.05  # KPSS keeps stationarity


def test_adf_validation(spark):
    import pandas as pd

    from temporal_retriever_spark.diagnostics import adf

    df = spark.createDataFrame(
        pd.DataFrame({"series_id": ["a"], "ds": [pd.Timestamp("2024-01-01")], "y": [1.0]})
    )
    with pytest.raises(ValueError, match="maxlag"):
        adf(df, maxlag=-1)


def test_series_corr_matrix_known_relationships(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.diagnostics import series_corr_matrix

    rng = np.random.default_rng(1)
    x = rng.normal(size=60)
    frames = []
    for sid, y in (("a", x), ("b", 2 * x + 1), ("c", -x), ("flat", np.zeros(60))):
        frames.append(
            pd.DataFrame(
                {"series_id": sid, "ds": pd.date_range("2024-01-01", periods=60), "y": y}
            )
        )
    out = series_corr_matrix(spark.createDataFrame(pd.concat(frames))).toPandas()
    got = {(r.series_a, r.series_b): r for _, r in out.iterrows()}
    assert got[("a", "b")]["corr"] == pytest.approx(1.0, abs=1e-12)
    assert got[("a", "c")]["corr"] == pytest.approx(-1.0, abs=1e-12)
    assert got[("b", "c")]["corr"] == pytest.approx(-1.0, abs=1e-12)
    # constant series: undefined correlation -> NULL, not a crash
    assert pd.isna(got[("a", "flat")]["corr"])
    assert (out.n_obs == 60).all()
    # matches numpy on a noisy pair
    y2 = x + rng.normal(scale=0.5, size=60)
    two = pd.concat(
        [
            pd.DataFrame({"series_id": "p", "ds": pd.date_range("2024-01-01", periods=60), "y": x}),
            pd.DataFrame({"series_id": "q", "ds": pd.date_range("2024-01-01", periods=60), "y": y2}),
        ]
    )
    got2 = series_corr_matrix(spark.createDataFrame(two)).toPandas().iloc[0]
    assert got2["corr"] == pytest.approx(float(np.corrcoef(x, y2)[0, 1]), abs=1e-12)


def test_series_corr_matrix_partial_overlap(spark):
    import pandas as pd

    from temporal_retriever_spark.diagnostics import series_corr_matrix

    a = pd.DataFrame(
        {"series_id": "a", "ds": pd.date_range("2024-01-01", periods=10), "y": range(10)}
    )
    b = pd.DataFrame(
        {"series_id": "b", "ds": pd.date_range("2024-01-05", periods=10), "y": range(10)}
    )
    out = series_corr_matrix(spark.createDataFrame(pd.concat([a, b]))).toPandas()
    # only the 6 shared dates correlate; both sides linear -> corr 1
    assert out.iloc[0].n_obs == 6
    assert out.iloc[0]["corr"] == pytest.approx(1.0, abs=1e-12)
    with pytest.raises(ValueError, match="min_obs"):
        series_corr_matrix(spark.createDataFrame(a), min_obs=1)


def test_detect_seasonality_finds_planted_periods(spark):
    import numpy as np
    import pandas as pd

    from temporal_retriever_spark.diagnostics import detect_seasonality

    rng = np.random.default_rng(6)
    frames = []
    for sid, period in (("weekly", 7), ("monthly", 12)):
        t = np.arange(240)
        y = 5 * np.sin(2 * np.pi * t / period) + rng.normal(scale=0.5, size=240)
        frames.append(
            pd.DataFrame(
                {"series_id": sid, "ds": pd.date_range("2024-01-01", periods=240), "y": y}
            )
        )
    frames.append(
        pd.DataFrame(
            {
                "series_id": "noise",
                "ds": pd.date_range("2024-01-01", periods=240),
                "y": rng.normal(size=240),
            }
        )
    )
    out = (
        detect_seasonality(spark.createDataFrame(pd.concat(frames)), max_period=20)
        .toPandas()
        .set_index("series_id")
    )
    assert out.loc["weekly"].period == 7 and out.loc["weekly"].significant
    assert out.loc["monthly"].period == 12 and out.loc["monthly"].significant
    assert not out.loc["noise"].significant
    with pytest.raises(ValueError, match="min_period"):
        detect_seasonality(spark.createDataFrame(frames[0]), min_period=1)


class TestPeriodogram:
    def test_matches_numpy_dft(self, spark):
        import datetime
        import numpy as np

        from temporal_retriever_spark.diagnostics import periodogram

        rng = np.random.RandomState(3)
        n = 120
        t = np.arange(n)
        y = 5.0 + 3.0 * np.sin(2 * np.pi * t / 7) + rng.normal(0, 0.5, n)
        d0 = datetime.date(2024, 1, 1)
        rows = [
            ("s", d0 + datetime.timedelta(days=int(i)), float(v))
            for i, v in zip(t, y)
        ]
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        got = {
            r["period"]: r["power"]
            for r in periodogram(df, min_period=2, max_period=14).collect()
        }
        dm = y - y.mean()
        sv = float((dm * dm).sum())
        for p in range(2, 15):
            w = 2 * np.pi / p
            c = float((dm * np.cos(w * t)).sum())
            s = float((dm * np.sin(w * t)).sum())
            assert got[p] == pytest.approx((c * c + s * s) / sv, rel=1e-9)
        # the planted weekly line dominates the spectrum
        assert max(got, key=got.get) == 7
        assert got[7] > 10 * sorted(got.values())[-2] / 20

    def test_flat_series_null_and_keys(self, spark):
        import datetime

        from temporal_retriever_spark.diagnostics import periodogram

        d0 = datetime.date(2024, 1, 1)
        rows = [
            ("flat", d0 + datetime.timedelta(days=i), 2.0) for i in range(30)
        ] + [
            ("saw", d0 + datetime.timedelta(days=i), float(i % 3))
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        got = periodogram(df, min_period=2, max_period=6).collect()
        flat = [r for r in got if r["series_id"] == "flat"]
        saw = {r["period"]: r["power"] for r in got if r["series_id"] == "saw"}
        assert all(r["power"] is None for r in flat)
        assert max(saw, key=saw.get) == 3

    def test_validation(self, spark):
        from temporal_retriever_spark.diagnostics import periodogram

        df = spark.createDataFrame([("s", 1.0)], "series_id string, y double")
        with pytest.raises(ValueError):
            periodogram(df, min_period=1)
        with pytest.raises(ValueError):
            periodogram(df, min_period=10, max_period=5)


class TestTrendTest:
    def _ref(self, rows):
        import math
        import statistics

        ts = [t for t, _ in rows]
        ys = [y for _, y in rows]
        n = len(rows)
        slopes = [
            (ys[j] - ys[i]) / (ts[j] - ts[i])
            for i in range(n)
            for j in range(i + 1, n)
            if ts[j] != ts[i]
        ]
        sen = statistics.median(slopes)
        S = sum(
            (ys[j] > ys[i]) - (ys[j] < ys[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        from collections import Counter

        tc = sum(
            k * (k - 1) * (2 * k + 5) for k in Counter(ys).values()
        )
        var = (n * (n - 1) * (2 * n + 5) - tc) / 18.0
        zc = S - 1 if S > 0 else (S + 1 if S < 0 else 0)
        return sen, float(S), zc / math.sqrt(var)

    def test_matches_reference_with_ties(self, spark):
        import datetime
        import random

        rng = random.Random(7)
        d0 = datetime.date(2024, 1, 1)
        ys = [round(0.3 * t + rng.gauss(0, 2), 0) for t in range(40)]
        rows = [
            ("s", d0 + datetime.timedelta(days=t), float(v))
            for t, v in enumerate(ys)
        ]
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        from temporal_retriever_spark.diagnostics import trend_test

        got = trend_test(df).collect()[0]
        t_idx = [float(i) for i in range(40)]
        sen, S, z = self._ref(list(zip([
            (d0 + datetime.timedelta(days=t) - datetime.date(1970, 1, 1)).days
            for t in range(40)
        ], ys)))
        assert got["n"] == 40
        assert got["slope"] == pytest.approx(sen, rel=1e-9)
        assert got["s_stat"] == pytest.approx(S)
        assert got["z_score"] == pytest.approx(z, rel=1e-9)
        assert got["p_value"] < 0.01  # the planted trend is detected

    def test_outlier_resistance_vs_ols(self, spark):
        import datetime

        d0 = datetime.date(2024, 1, 1)
        rows = [("s", d0 + datetime.timedelta(days=t), 2.0 * t) for t in range(30)]
        rows[15] = ("s", d0 + datetime.timedelta(days=15), 10000.0)
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        from temporal_retriever_spark.diagnostics import trend_test

        got = trend_test(df).collect()[0]
        assert got["slope"] == pytest.approx(2.0, rel=1e-9)

    def test_no_trend_high_p_and_degenerate(self, spark):
        import datetime
        import random

        rng = random.Random(4)
        d0 = datetime.date(2024, 1, 1)
        rows = [
            ("flat", d0 + datetime.timedelta(days=t), rng.gauss(0, 1))
            for t in range(50)
        ] + [("tiny", d0, 1.0), ("tiny", d0 + datetime.timedelta(days=1), 2.0)]
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        from temporal_retriever_spark.diagnostics import trend_test

        got = {r["series_id"]: r for r in trend_test(df).collect()}
        assert got["flat"]["p_value"] > 0.05
        assert got["tiny"]["z_score"] is None  # n < 3


class TestResidualDiagnostics:
    def test_durbin_watson_reference(self, spark):
        import datetime
        import random

        rng = random.Random(5)
        d0 = datetime.date(2024, 1, 1)
        es = [rng.gauss(0, 1) for _ in range(60)]
        rows = [
            ("w", d0 + datetime.timedelta(days=i), float(e))
            for i, e in enumerate(es)
        ]
        # strongly positively autocorrelated series
        ar = [0.0]
        for _ in range(59):
            ar.append(0.95 * ar[-1] + rng.gauss(0, 0.1))
        rows += [
            ("p", d0 + datetime.timedelta(days=i), float(e))
            for i, e in enumerate(ar)
        ]
        df = spark.createDataFrame(rows, "series_id string, ds date, resid double")
        from temporal_retriever_spark.diagnostics import durbin_watson

        got = {r["series_id"]: r for r in durbin_watson(df).collect()}
        ref = sum(
            (es[t] - es[t - 1]) ** 2 for t in range(1, 60)
        ) / sum(e * e for e in es)
        assert got["w"]["dw_stat"] == pytest.approx(ref, rel=1e-12)
        assert 1.4 < got["w"]["dw_stat"] < 2.6  # white
        assert got["p"]["dw_stat"] < 1.0  # positive autocorrelation

    def test_jarque_bera_reference_and_power(self, spark):
        import math
        import random

        rng = random.Random(11)
        normal = [rng.gauss(0, 1) for _ in range(1500)]
        skewed = [rng.expovariate(1.0) for _ in range(1500)]
        rows = [("n", v) for v in normal] + [("s", v) for v in skewed]
        df = spark.createDataFrame(rows, "k string, y double")
        from temporal_retriever_spark.diagnostics import jarque_bera

        got = {r["k"]: r for r in jarque_bera(df, keys=["k"]).collect()}

        def ref_jb(vals):
            n = len(vals)
            m = sum(vals) / n
            m2 = sum((v - m) ** 2 for v in vals) / n
            m3 = sum((v - m) ** 3 for v in vals) / n
            m4 = sum((v - m) ** 4 for v in vals) / n
            S = m3 / m2**1.5
            K = m4 / m2**2 - 3
            return S, K, n / 6 * (S * S + K * K / 4)

        S, K, jb = ref_jb(normal)
        assert got["n"]["skewness"] == pytest.approx(S, rel=1e-9)
        assert got["n"]["kurtosis"] == pytest.approx(K, rel=1e-9)
        assert got["n"]["jb_stat"] == pytest.approx(jb, rel=1e-9)
        assert got["n"]["p_value"] == pytest.approx(math.exp(-jb / 2), rel=1e-9)
        assert got["n"]["p_value"] > 0.001
        assert got["s"]["p_value"] < 1e-12  # exponential flagged

    def test_degenerate(self, spark):
        df = spark.createDataFrame([("k", 1.0)] * 5, "k string, y double")
        from temporal_retriever_spark.diagnostics import jarque_bera

        r = jarque_bera(df, keys=["k"]).collect()[0]
        assert r["jb_stat"] is None


class TestMannKendall:
    @staticmethod
    def _ref(y, alpha=0.05):
        import math

        import numpy as np

        y = np.asarray(y, float)
        n = len(y)
        s = 0.0
        slopes = []
        for i in range(n):
            for j in range(i + 1, n):
                s += np.sign(y[j] - y[i])
                slopes.append((y[j] - y[i]) / (j - i))
        _, counts = np.unique(y, return_counts=True)
        tie = sum(t * (t - 1) * (2 * t + 5) for t in counts)
        var = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
        if var > 0 and s > 0:
            z = (s - 1) / math.sqrt(var)
        elif var > 0 and s < 0:
            z = (s + 1) / math.sqrt(var)
        else:
            z = 0.0
        # A&S 26.2.17, matching _norm_sf_expr
        t_ = 1.0 / (1.0 + 0.2316419 * abs(z))
        poly = (
            0.319381530 * t_
            - 0.356563782 * t_**2
            + 1.781477937 * t_**3
            - 1.821255978 * t_**4
            + 1.330274429 * t_**5
        )
        p = min(1.0, 2.0 * math.exp(-z * z / 2) * 0.3989422804014327 * poly)
        sen = float(np.percentile(slopes, 50, method="linear"))
        return s, var, z, p, sen

    def _df(self, spark, y):
        import datetime as dt

        rows = [
            ("s", dt.date(2024, 1, 1) + dt.timedelta(days=i), float(v))
            for i, v in enumerate(y)
        ]
        return spark.createDataFrame(rows, "series_id string, ds date, y double")

    def test_matches_reference_with_ties(self, spark):
        from temporal_retriever_spark.diagnostics import mann_kendall

        y = [3.0, 5.0, 5.0, 2.0, 8.0, 8.0, 8.0, 11.0, 7.0, 13.0]
        r = mann_kendall(self._df(spark, y)).collect()[0]
        s, var, z, p, sen = self._ref(y)
        assert r["n"] == 10
        assert r["s_stat"] == s
        assert r["var_s"] == pytest.approx(var, rel=1e-12)
        assert r["z"] == pytest.approx(z, rel=1e-12)
        assert r["p_value"] == pytest.approx(p, rel=1e-9)
        assert r["sen_slope"] == pytest.approx(sen, rel=1e-12)

    def test_monotone_and_flat(self, spark):
        from temporal_retriever_spark.diagnostics import mann_kendall

        up = mann_kendall(self._df(spark, list(range(20)))).collect()[0]
        assert up["trend"] == "increasing" and up["sen_slope"] == 1.0
        assert up["p_value"] < 1e-4
        flat = mann_kendall(self._df(spark, [4.0] * 12)).collect()[0]
        assert flat["trend"] == "no trend"
        assert flat["s_stat"] == 0.0 and flat["z"] == 0.0

    def test_validation(self, spark):
        from temporal_retriever_spark.diagnostics import mann_kendall

        with pytest.raises(ValueError):
            mann_kendall(self._df(spark, [1.0, 2.0]), alpha=1.5)


class TestSeasonalMannKendall:
    @staticmethod
    def _ref(rows, alpha=0.05):
        """rows: list of (season, y) in time order within season."""
        import math
        from collections import defaultdict

        import numpy as np

        by_season = defaultdict(list)
        for sea, y in rows:
            by_season[sea].append(float(y))
        S = 0.0
        var = 0.0
        slopes = []
        n_total = 0
        for ys in by_season.values():
            m = len(ys)
            n_total += m
            for i in range(m):
                for j in range(i + 1, m):
                    S += np.sign(ys[j] - ys[i])
                    slopes.append((ys[j] - ys[i]) / (j - i))
            _, counts = np.unique(ys, return_counts=True)
            tie = sum(t * (t - 1) * (2 * t + 5) for t in counts)
            var += (m * (m - 1) * (2 * m + 5) - tie) / 18.0
        if var > 0 and S > 0:
            z = (S - 1) / math.sqrt(var)
        elif var > 0 and S < 0:
            z = (S + 1) / math.sqrt(var)
        else:
            z = 0.0
        t_ = 1.0 / (1.0 + 0.2316419 * abs(z))
        poly = (
            0.319381530 * t_ - 0.356563782 * t_**2 + 1.781477937 * t_**3
            - 1.821255978 * t_**4 + 1.330274429 * t_**5
        )
        p = min(1.0, 2.0 * math.exp(-z * z / 2) * 0.3989422804014327 * poly)
        sen = float(np.percentile(slopes, 50, method="linear"))
        return S, var, z, p, sen, n_total, len(by_season)

    def test_matches_reference_dow(self, spark):
        import datetime as dt

        import numpy as np

        from temporal_retriever_spark.diagnostics import seasonal_mann_kendall

        rng = np.random.default_rng(4)
        start = dt.date(2024, 1, 1)  # a Monday
        rows = []
        ref_rows = []
        for i in range(42):  # 6 full weeks of daily data
            d = start + dt.timedelta(days=i)
            y = float(i * 0.3 + round(float(rng.normal(0, 1)), 3))
            rows.append(("s", d, y))
            ref_rows.append((d.isoweekday(), y))
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        got = seasonal_mann_kendall(df, season="dow").collect()[0]
        S, var, z, p, sen, n, k = self._ref(ref_rows)
        assert got["n"] == n and got["n_seasons"] == k == 7
        assert got["s_stat"] == S
        assert got["var_s"] == pytest.approx(var, rel=1e-12)
        assert got["z"] == pytest.approx(z, rel=1e-12)
        assert got["p_value"] == pytest.approx(p, rel=1e-9)
        assert got["sen_slope"] == pytest.approx(sen, rel=1e-12)
        assert got["trend"] == "increasing"

    def test_pure_seasonal_cycle_is_no_trend(self, spark):
        import datetime as dt

        from temporal_retriever_spark.diagnostics import seasonal_mann_kendall

        start = dt.date(2024, 1, 1)
        # weekday-periodic, zero drift: classic MK would see huge swings;
        # seasonal MK compares only same-weekday values -> all ties
        rows = [
            ("s", start + dt.timedelta(days=i), float((i % 7) * 10))
            for i in range(56)
        ]
        df = spark.createDataFrame(rows, "series_id string, ds date, y double")
        got = seasonal_mann_kendall(df, season="dow").collect()[0]
        assert got["s_stat"] == 0.0
        assert got["trend"] == "no trend"
        assert got["sen_slope"] == 0.0

    def test_validation(self, spark):
        from temporal_retriever_spark.diagnostics import seasonal_mann_kendall

        df = spark.createDataFrame(
            [("s", "2024-01-01", 1.0)], "series_id string, ds string, y double"
        )
        with pytest.raises(ValueError):
            seasonal_mann_kendall(df, season="hour")
        with pytest.raises(ValueError):
            seasonal_mann_kendall(df, alpha=0.0)
