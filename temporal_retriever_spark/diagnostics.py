"""Whole-series diagnostics: ACF (W1), PACF (W2), describe (W11), Granger (W10).

Reference: ``autocorrelation``/``partial_autocorrelation`` wrap
statsmodels ``acf``/``pacf`` (core.py:6-27, called app.py:231-238);
Granger causality is declared in the API enum (app.py:33) and prototyped
in Untitled.ipynb cell 12; ``univariateStatistics`` declared but never
implemented (app.py:33) — we implement the intent as a describe agg.

Spark-first design:

* **ACF is fully native** — the statsmodels formula (adjusted=False)

      acf_k = Σ_t (y_t − ȳ)(y_{t+k} − ȳ) / Σ_t (y_t − ȳ)²

  K lag-product sums over each series' ds-sorted array: one groupBy
  (one shuffle) collects the array, and ONE kernel,
  ``_lag_products_sql``, sums every lag in array order, regardless of
  K. The same kernel serves Ljung-Box, the Bartlett bands, seasonality
  detection, CCF, KPSS and Granger. No Python crosses the row stream;
  memory is bounded by the longest series, held as one array.
* **PACF is fully native too** — the Yule-Walker system is solved by
  the Durbin-Levinson recursion over the SAME lag-product sums, as one
  ``aggregate`` fold per series row (constant plan size in K). Matches
  statsmodels ``pacf(method='ywadjusted')``: autocovariances with the
  *adjusted* divisor n−k, pacf_k = the order-k reflection coefficient.
* **Granger** — per (target, covariate) pair: OLS restricted vs
  unrestricted lag regressions, ssr-based F statistic (the notebook's
  ``ssr_ftest``), natively at any maxlag: one per-series array program
  builds every lag's Gram matrix from the pair's lag-product sums and
  solves them with one mapped Cholesky kernel (``granger_native``).
  ``granger_causality`` (numpy ``lstsq`` in a grouped pandas UDF) is
  the reference it is tested against.
"""

from __future__ import annotations

import math
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from temporal_retriever_spark.forecast import _dot_sql, _ident, _spd_solve_sql, _sum_sql


def default_nlags(n: int) -> int:
    """statsmodels default: min(10·log₁₀(n), n−1) (core.py:6-21 call)."""
    if n <= 1:
        return 0
    return min(int(10 * math.log10(n)), n - 1)


def _lag_products_sql(a: str, b: str, lags: int | str) -> str:
    """Σ_t a[t]·b[t−k] for k = 0..``lags`` as an array<double>, over two
    equal-length arrays: the one lag-product kernel behind every
    correlogram, cross-correlation, KPSS and Granger statistic.

    Each sum runs in array order with Spark ``Sum``'s update
    (``_sum_sql``): a product with a NULL factor is skipped, and a lag
    with no products (past the end, or all NULL) sums to NULL. On
    null-free, non-empty slices that is a dot from 0D, bit for bit.
    ``a`` and ``b`` are read several times: pass bound names."""
    return (
        f"transform(sequence(0, {lags}), _lk -> aggregate(zip_with("
        f"slice({a}, _lk + 1, greatest(size({a}) - _lk, 0)), "
        f"slice({b}, 1, greatest(size({b}) - _lk, 0)), (_ll, _lr) -> _ll * _lr), "
        f"CAST(NULL AS DOUBLE), (_ls, _lm) -> {_sum_sql('_ls', '_lm')}))"
    )


def _sorted_arrays(
    df: DataFrame, series_cols: Iterable[str], ts_col: str, arrays: dict[str, str]
) -> DataFrame:
    """(series…, _n, one array<double> per ``arrays`` entry, named by its
    key, of the column it maps to): ONE groupBy collects each series'
    rows sorted by ds, ties broken by value, so every sum over the
    arrays runs in one order whatever the partitioning or the other
    series. A NULL value keeps its slot."""
    fields = "".join(f", CAST({_ident(c)} AS DOUBLE) AS {k}" for k, c in arrays.items())
    rows = f"sort_array(collect_list(struct({_ident(ts_col)} AS ds{fields})))"
    return (
        df.groupBy(*series_cols)
        .agg(F.expr(rows).alias("_p"))
        .selectExpr(
            *[_ident(c) for c in series_cols],
            "size(_p) AS _n",
            *[f"transform(_p, r -> r.{k}) AS {k}" for k in arrays],
        )
    )


def _centered_sql(v: str) -> str:
    """The array<double> ``v`` less the mean of its non-NULL values, as
    Spark ``avg`` takes it (a ``Sum`` over their count), here summed in
    array order; NULLs keep their slots."""
    return (
        f"transform(array(aggregate({v}, CAST(NULL AS DOUBLE), (s, e) -> {_sum_sql('s', 'e')}) "
        f"/ size(filter({v}, e -> e IS NOT NULL))), m -> transform({v}, e -> e - m))[0]"
    )


def _lag_product_sums(
    df: DataFrame,
    *,
    lags: int,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Shared per-series stage: (series, n, s0, _s) with ``_s`` the
    array s1..s_lags, s_k = Σ d_t·d_{t−k} with d centered by the mean
    of the non-NULL values and n their count: one groupBy into the
    ds-sorted array, then ``_lag_products_sql``. A NULL y keeps its
    slot, so lags count rows, and its products are skipped. Every
    correlogram operator (``acf``, ``pacf``, ``acf_pacf``,
    ``ljung_box``, ``acf_bands``, ``detect_seasonality``) reads this
    one frame, so a null-handling or ordering fix applies everywhere."""
    keys = [_ident(c) for c in series_cols]
    return (
        _sorted_arrays(df, series_cols, ts_col, {"_v": value_col})
        .selectExpr(*keys, f"{_centered_sql('_v')} AS _d")
        .selectExpr(
            *keys,
            "CAST(size(filter(_d, e -> e IS NOT NULL)) AS BIGINT) AS n",
            f"{_lag_products_sql('_d', '_d', lags)} AS _lp",
        )
        .selectExpr(*keys, "n", "_lp[0] AS s0", f"slice(_lp, 2, {lags}) AS _s")
    )


def acf(
    df: DataFrame,
    *,
    lags: int = 10,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
) -> DataFrame:
    """W1: autocorrelation function per series, natively.

    Output: one row per (series, lag) with ``lag`` in 0..lags (lag 0 is
    1.0 by construction, as statsmodels returns it).

    The divisors in numerator/denominator (both 1/n) cancel, so
    ``acf_k = sum(d_t * d_{t-k}) / sum(d_t^2)`` with d centered by the
    full-series mean. A constant series has zero variance: its acf is
    NULL (``try_divide``; ANSI mode would throw), as statsmodels gives
    NaN.
    """
    return _correlogram(
        df,
        lags=lags,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
        stats=("acf",),
    )


#: A&S 7.1.26 erfc rational approximation (|err| <= 1.5e-7); public
#: classic, expressible in any SQL dialect — Spark has no native erfc
_ERFC_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_ERFC_P = 0.3275911


def chi2_sf_sql(x: str, df: int) -> str:
    """Chi-square survival function as an engine-neutral SQL string
    (valid Spark SQL *and* DuckDB — only CASE/EXP/SQRT/POWER).

    Integer ``df`` keeps it loop-free: even df is the finite Poisson
    sum ``exp(-x/2)·Σ (x/2)^j/j!``; odd df is the erfc closed form
    plus a finite half-integer-gamma sum, with erfc via the A&S 7.1.26
    polynomial. The SAME string drives the Spark plan (``F.expr``) and
    the DuckDB oracle, so the ≤1.5e-7 erfc approximation error exists
    identically on both engines and cannot cause cross-engine drift
    (``stats.chi2_sf`` is the exact float reference, tested to 1e-6).
    """
    if df < 1:
        raise ValueError(f"df must be >= 1: {df}")
    h = f"(({x}) / 2.0)"
    if df % 2 == 0:
        fact = 1.0
        terms = []
        for j in range(df // 2):
            terms.append(f"POWER({h}, {j}) / {fact!r}" if j else "1.0")
            fact *= j + 1.0
        body = f"EXP(-{h}) * ({' + '.join(terms)})"
    else:
        z = f"SQRT({h})"
        t = f"(1.0 / (1.0 + {_ERFC_P!r} * {z}))"
        poly = f"{_ERFC_A[4]!r}"
        for a in reversed(_ERFC_A[:4]):
            poly = f"({a!r} + {t} * {poly})"
        erfc = f"({t} * {poly} * EXP(-{h}))"
        terms = [
            f"POWER({h}, {j - 0.5!r}) / {math.gamma(j + 0.5)!r}"
            for j in range(1, df // 2 + 1)
        ]
        tail = f" + EXP(-{h}) * ({' + '.join(terms)})" if terms else ""
        body = f"{erfc}{tail}"
    return f"CASE WHEN NOT (({x}) > 0) THEN 1.0 ELSE {body} END"


def ljung_box(
    df: DataFrame,
    *,
    lags: int = 10,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
) -> DataFrame:
    """Ljung-Box (and Box-Pierce) white-noise portmanteau test.

    One row per (series, lag m) for m in 1..lags with the cumulative
    statistics — ``lb_stat = n(n+2)·Σ_{k≤m} ρ_k²/(n−k)``,
    ``bp_stat = n·Σ_{k≤m} ρ_k²`` — and exact χ²(m) p-values
    (statsmodels ``acorr_ljungbox`` semantics). The standard "are the
    residuals white noise?" gate after any forecast fit.

    Plan shape: identical to ``acf`` — one groupBy into each series'
    sorted array yields (n, Σd², Σ d·d_{−k}); every ρ, Q and p-value is
    scalar arithmetic on that single row per series, and the per-lag
    rows come from an array explode. One shuffle, no Python; p-values
    are native expressions (``chi2_sf_sql``).
    """
    if lags < 1:
        raise ValueError(f"lags must be >= 1: {lags}")
    series_cols = list(series_cols)
    agg = _lag_product_sums(
        df, lags=lags, series_cols=series_cols, ts_col=ts_col, value_col=value_col
    )
    n = F.col("n").cast("double")
    rho2 = [
        F.pow(F.try_divide(F.col("_s")[k - 1], F.col("s0")), F.lit(2.0))
        for k in range(1, lags + 1)
    ]
    lb_sum = None
    bp_sum = None
    stats_cols = []
    for m in range(1, lags + 1):
        term_lb = rho2[m - 1] / (n - F.lit(float(m)))
        lb_sum = term_lb if lb_sum is None else lb_sum + term_lb
        bp_sum = rho2[m - 1] if bp_sum is None else bp_sum + rho2[m - 1]
        stats_cols.append((n * (n + 2.0) * lb_sum).alias(f"_q{m}"))
        stats_cols.append((n * bp_sum).alias(f"_b{m}"))
    staged = agg.select(*series_cols, *stats_cols)
    pairs = F.array(
        *[
            F.struct(
                F.lit(m).alias("lag"),
                F.col(f"_q{m}").alias("lb_stat"),
                F.expr(chi2_sf_sql(f"_q{m}", m)).alias("lb_pvalue"),
                F.col(f"_b{m}").alias("bp_stat"),
                F.expr(chi2_sf_sql(f"_b{m}", m)).alias("bp_pvalue"),
            )
            for m in range(1, lags + 1)
        ]
    )
    return staged.select(*series_cols, F.explode(pairs).alias("_e")).select(
        *series_cols,
        F.col("_e.lag").alias("lag"),
        F.col("_e.lb_stat").alias("lb_stat"),
        F.col("_e.lb_pvalue").alias("lb_pvalue"),
        F.col("_e.bp_stat").alias("bp_stat"),
        F.col("_e.bp_pvalue").alias("bp_pvalue"),
    )


def acf_bands(
    df: DataFrame,
    *,
    lags: int = 10,
    alpha: float = 0.05,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
) -> DataFrame:
    """W1 + Bartlett confidence bands: ``acf`` plus the standard error
    and (1−alpha) interval under the MA(k−1) null —
    ``se_k = sqrt((1 + 2·Σ_{j<k} ρ_j²)/n)`` (statsmodels
    ``acf(alpha=...)`` bartlett_confint semantics; lag 0 pins to
    [1, 1]). The "which lags are significant?" overlay every
    correlogram needs.

    Same one-groupBy plan as ``acf``; the cumulative Bartlett sums are
    build-time scalar arithmetic on the one row per series, exploded to
    per-lag rows — no second shuffle.
    """
    if lags < 1:
        raise ValueError(f"lags must be >= 1: {lags}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1): {alpha}")
    from temporal_retriever_spark.stats import norm_ppf

    z = norm_ppf(1.0 - alpha / 2.0)
    series_cols = list(series_cols)
    agg = _lag_product_sums(
        df, lags=lags, series_cols=series_cols, ts_col=ts_col, value_col=value_col
    )
    n = F.col("n").cast("double")
    rho = [F.try_divide(F.col("_s")[k - 1], F.col("s0")) for k in range(1, lags + 1)]
    entries = [
        F.struct(
            F.lit(0).alias("lag"),
            F.lit(1.0).alias("acf"),
            F.lit(0.0).alias("se"),
            F.lit(1.0).alias("ci_lower"),
            F.lit(1.0).alias("ci_upper"),
        )
    ]
    bart = None  # Σ_{j<k} ρ_j², empty for k=1 -> se_1 = sqrt(1/n)
    for k in range(1, lags + 1):
        var = (
            (F.lit(1.0) + F.lit(2.0) * bart) / n if bart is not None else F.lit(1.0) / n
        )
        se = F.sqrt(var)
        entries.append(
            F.struct(
                F.lit(k).alias("lag"),
                rho[k - 1].alias("acf"),
                se.alias("se"),
                (rho[k - 1] - F.lit(z) * se).alias("ci_lower"),
                (rho[k - 1] + F.lit(z) * se).alias("ci_upper"),
            )
        )
        r2 = F.pow(rho[k - 1], F.lit(2.0))
        bart = r2 if bart is None else bart + r2
    return agg.select(*series_cols, F.explode(F.array(*entries)).alias("_e")).select(
        *series_cols,
        F.col("_e.lag").alias("lag"),
        F.col("_e.acf").alias("acf"),
        F.col("_e.se").alias("se"),
        F.col("_e.ci_lower").alias("ci_lower"),
        F.col("_e.ci_upper").alias("ci_upper"),
    )


#: KPSS critical values (Kwiatkowski et al. 1992 Table 1) and their
#: significance levels, ascending by statistic
_KPSS_CRIT = {
    "level": ((0.347, 0.10), (0.463, 0.05), (0.574, 0.025), (0.739, 0.01)),
    "trend": ((0.119, 0.10), (0.146, 0.05), (0.176, 0.025), (0.216, 0.01)),
}


def kpss_default_nlags(n: int) -> int:
    """Newey-West "legacy" bandwidth: ceil(12·(n/100)^(1/4))."""
    return int(math.ceil(12.0 * (n / 100.0) ** 0.25))


def _kpss_p_interp(stat: Column, table) -> Column:
    """Piecewise-linear p-value interpolation over the KPSS critical
    table, clamped to [0.01, 0.10] outside it (statsmodels
    semantics)."""
    expr = F.lit(float(table[0][1]))  # below the smallest critical value
    for (c0, p0), (c1, p1) in zip(table, table[1:]):
        frac = (stat - F.lit(c0)) / F.lit(c1 - c0)
        expr = F.when(
            (stat >= F.lit(c0)) & (stat < F.lit(c1)),
            F.lit(p0) + frac * F.lit(p1 - p0),
        ).otherwise(expr)
    return F.when(stat >= F.lit(table[-1][0]), F.lit(float(table[-1][1]))).otherwise(
        expr
    )


def kpss(
    df: DataFrame,
    *,
    nlags: int = 10,
    regression: str = "level",
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
) -> DataFrame:
    """KPSS stationarity test per series (Kwiatkowski-Phillips-
    Schmidt-Shin 1992; statsmodels ``kpss`` semantics). Null =
    stationary around a ``level`` (constant) or ``trend`` (constant +
    linear trend); small p rejects stationarity.

    ``stat = Σ S_t² / (n²·s²_l)`` with S_t the cumulative residual sum
    and ``s²_l`` the Bartlett-kernel long-run variance at bandwidth
    ``nlags`` (``kpss_default_nlags`` gives the legacy Newey-West
    choice). P-values interpolate the published critical-value table
    and clamp to [0.01, 0.10] outside it — report alongside the stat,
    as statsmodels does.

    Plan shape: one groupBy collects each series' non-NULL values into
    its ds-sorted array; the residuals are that array less its mean
    (level) or its OLS line over the row index (trend,
    ``_detrended_sql``), both closed-form; Σ S² is one fold carrying
    the running sum, and the ``nlags`` lag-product sums come from
    ``_lag_products_sql``. The statistic and p-value are scalar
    arithmetic on the one row per series. One exchange, as ``acf``.
    """
    if nlags < 0:
        raise ValueError(f"nlags must be >= 0: {nlags}")
    if regression not in _KPSS_CRIT:
        raise ValueError(f"regression must be 'level' or 'trend': {regression!r}")
    series_cols = list(series_cols)
    keys = [_ident(c) for c in series_cols]
    resid = _centered_sql("_v") if regression == "level" else _detrended_sql("_v")
    # Σ S_t² with S_t the running residual sum, carried by one fold
    ss = (
        "aggregate(_e, named_struct('s', 0D, 'ss', 0D), (a, e) -> transform("
        "array(a.s + e), s -> named_struct('s', s, 'ss', a.ss + s * s))[0], a -> a.ss)"
    )
    # drop null observations first so counts and moments describe the
    # same sample
    agg = (
        _sorted_arrays(
            df.filter(F.col(value_col).isNotNull()), series_cols, ts_col, {"_v": value_col}
        )
        .selectExpr(*keys, "_n", f"{resid} AS _e")
        .selectExpr(
            *keys,
            "CAST(_n AS DOUBLE) AS _n",
            f"{ss} AS _ss",
            f"{_lag_products_sql('_e', '_e', nlags)} AS _g",
        )
    )
    n = F.col("_n")
    eta = F.col("_ss") / (n * n)
    lrv = F.col("_g")[0] / n
    for j in range(1, nlags + 1):
        wgt = 1.0 - j / (nlags + 1.0)
        lrv = lrv + F.lit(2.0 * wgt) * (F.col("_g")[j] / n)
    stat = F.try_divide(eta, lrv)
    return agg.select(
        *series_cols,
        stat.alias("kpss_stat"),
        _kpss_p_interp(stat, _KPSS_CRIT[regression]).alias("kpss_pvalue"),
        n.cast("long").alias("n"),
        F.lit(nlags).alias("nlags"),
    )


#: Dickey-Fuller τ_μ asymptotic critical values (Fuller 1976, constant
#: case), ascending by statistic; p clamps to [0.01, 0.10] outside —
#: the reject/fail-to-reject region a stationarity screen decides on
_ADF_CRIT = ((-3.43, 0.01), (-3.12, 0.025), (-2.86, 0.05), (-2.57, 0.10))


def gram_cholesky_stages(m: int) -> list[tuple[str, str]]:
    """Shared staged-Cholesky emitter over Gram columns: factorize
    X'X = RᵀR (``r_{i}_{j}`` stages from ``g_{i}_{j}``) and forward
    solve Rᵀw = X'y (``w_{i}`` stages from ``gy_{i}``). The common
    front half of ``adf_stages`` and ``forecast.ar_stages`` — one
    emitter so the string generation cannot drift between them."""

    def g(i: int, j: int) -> str:
        return f"g_{min(i, j)}_{max(i, j)}"

    stages: list[tuple[str, str]] = []
    for i in range(m):
        acc = " - ".join([g(i, i)] + [f"r_{k}_{i} * r_{k}_{i}" for k in range(i)])
        stages.append((f"r_{i}_{i}", f"SQRT({acc})"))
        for j in range(i + 1, m):
            acc = " - ".join([g(i, j)] + [f"r_{k}_{i} * r_{k}_{j}" for k in range(i)])
            stages.append((f"r_{i}_{j}", f"({acc}) / r_{i}_{i}"))
    for i in range(m):
        acc = " - ".join([f"gy_{i}"] + [f"r_{k}_{i} * w_{k}" for k in range(i)])
        stages.append((f"w_{i}", f"({acc}) / r_{i}_{i}"))
    return stages


def adf_stages(p: int) -> list[tuple[str, str]]:
    """Shared SQL expression stages for the ADF regression t-statistic.

    Input columns (one row per series from a single aggregation):
    ``nn`` (usable observations), Gram sums ``g_{i}_{j}`` = Σ zᵢ·zⱼ
    (i ≤ j) over the regressors z = [1, y_{t−1}, Δy_{t−1..p}],
    ``gy_{i}`` = Σ zᵢ·Δy, and ``gyy`` = Σ Δy².

    Emits sequential (name, expr) stages — Cholesky X'X = RᵀR, forward
    solve Rᵀw = X'y, RSS, back-substituted coefficient δ on y_{t−1},
    the forward solve Rᵀv = e₁ that yields [(X'X)⁻¹]₁₁ = ‖v‖², and
    finally ``adf_t = δ / sqrt(s²·inv11)``. The SAME strings drive the
    Spark select chain (``F.expr``) and the DuckDB oracle CTEs, the
    same sharing pattern as ``durbin_levinson_stages`` and the Granger
    Cholesky rounds.
    """
    m = p + 2  # intercept, y_lag, p delta-lags
    # Cholesky + forward solve come from the shared emitter
    stages: list[tuple[str, str]] = list(gram_cholesky_stages(m))
    stages.append(
        ("rss", "gyy - (" + " + ".join(f"w_{i} * w_{i}" for i in range(m)) + ")")
    )
    # back solve R c = w — only c_1 (the y_{t-1} coefficient) is needed,
    # but back substitution runs bottom-up
    for i in range(m - 1, 0, -1):
        acc = " - ".join(
            [f"w_{i}"] + [f"r_{i}_{k} * c_{k}" for k in range(i + 1, m)]
        )
        stages.append((f"c_{i}", f"({acc}) / r_{i}_{i}"))
    # forward solve R^T v = e_1 -> [(X'X)^-1]_{11} = sum v_i^2 (v_0 = 0)
    for i in range(1, m):
        parts = ["1.0"] if i == 1 else ["0.0"]
        parts += [f"r_{k}_{i} * v_{k}" for k in range(1, i)]
        stages.append((f"v_{i}", f"({' - '.join(parts)}) / r_{i}_{i}"))
    inv11 = " + ".join(f"v_{i} * v_{i}" for i in range(1, m))
    stages.append(("inv11", inv11))
    stages.append(("s2", f"rss / (nn - {float(m)!r})"))
    stages.append(("adf_t", "c_1 / SQRT(s2 * inv11)"))
    return stages


def adf(
    df: DataFrame,
    *,
    maxlag: int = 1,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
) -> DataFrame:
    """Augmented Dickey-Fuller unit-root test per series (constant
    regression, the common default): Δy_t = β₀ + δ·y_{t−1} +
    Σ φⱼ·Δy_{t−j} + ε. Large negative t on δ rejects the unit root —
    the companion to ``kpss`` (opposite null) in the standard
    stationarity workflow.

    P-values interpolate the Fuller τ_μ asymptotic critical table and
    clamp to [0.01, 0.10] outside it (same reporting convention as
    ``kpss``): the clamp region is exactly the fail-to-reject region,
    so decisions are unaffected.

    Plan shape: one ordered window pass builds y_{t−1} and the Δy
    lags; ONE aggregation computes every Gram sum; the whole OLS —
    Cholesky, triangular solves, RSS, the (X'X)⁻¹ diagonal for the
    standard error — is the ``adf_stages`` scalar expression chain on
    the one row per series. Fully native at any lag order, the same
    staged-Cholesky design as ``granger_native``.
    """
    if maxlag < 0:
        raise ValueError(f"maxlag must be >= 0: {maxlag}")
    series_cols = list(series_cols)
    m = maxlag + 2
    ws = Window.partitionBy(*series_cols).orderBy(ts_col)
    y = F.col(value_col).cast("double")
    d = df.withColumn("_ylag", F.lag(y, 1).over(ws)).withColumn(
        "_dy", y - F.col("_ylag")
    )
    for j in range(1, maxlag + 1):
        d = d.withColumn(f"_dl{j}", F.lag("_dy", j).over(ws))
    # every regressor AND the response must be present: an interior
    # null y would otherwise contribute to some Gram sums (the
    # constant-column ones) but not others
    cond = F.col("_dy").isNotNull()
    for j in range(1, maxlag + 1):
        cond = cond & F.col(f"_dl{j}").isNotNull()
    d = d.filter(cond)
    zs = [F.lit(1.0), F.col("_ylag")] + [F.col(f"_dl{j}") for j in range(1, maxlag + 1)]
    aggs = [F.count("_dy").cast("double").alias("nn")]
    for i in range(m):
        for j in range(i, m):
            aggs.append(F.sum(zs[i] * zs[j]).alias(f"g_{i}_{j}"))
        aggs.append(F.sum(zs[i] * F.col("_dy")).alias(f"gy_{i}"))
    aggs.append(F.sum(F.col("_dy") * F.col("_dy")).alias("gyy"))
    out = d.groupBy(*series_cols).agg(*aggs)
    for name, expr in adf_stages(maxlag):
        out = out.withColumn(name, F.expr(expr))
    stat = F.col("adf_t")
    return out.select(
        *series_cols,
        stat.alias("adf_stat"),
        _kpss_p_interp(stat, _ADF_CRIT).alias("adf_pvalue"),
        F.col("nn").cast("long").alias("n"),
        F.lit(maxlag).alias("nlags"),
    )


def durbin_levinson_stages(lags: int) -> list[tuple[str, str]]:
    """SQL expression stages computing PACF from lag-product sums.

    Input columns: ``n`` (series length), ``s0`` = Σd², ``s{k}`` =
    Σ d_t·d_{t−k}. Emits (name, expr) stages: first the *adjusted*
    autocorrelations rho_k = (s_k/(n−k)) / (s0/n) (statsmodels
    ``pacf_yw(method='adjusted')`` semantics, reference core.py:24-27),
    then the Durbin-Levinson recursion whose order-k reflection
    coefficient phi_k_k IS pacf(k).

    The same strings drive both the Spark plan (``F.expr``) and the
    DuckDB oracle (chained CTEs), so cross-engine drift is limited to
    the input sums — identical arithmetic after that.
    """
    stages: list[tuple[str, str]] = []
    for k in range(1, lags + 1):
        stages.append(
            (
                f"rho{k}",
                f"CASE WHEN n > {k} AND s0 <> 0 THEN "
                f"(s{k} / CAST(n - {k} AS DOUBLE)) / (s0 / CAST(n AS DOUBLE)) "
                "ELSE NULL END",
            )
        )
    if lags >= 1:
        stages.append(("phi_1_1", "rho1"))
    for k in range(2, lags + 1):
        num = f"rho{k} - (" + " + ".join(
            f"phi_{k - 1}_{j} * rho{k - j}" for j in range(1, k)
        ) + ")"
        den = "1.0 - (" + " + ".join(
            f"phi_{k - 1}_{j} * rho{j}" for j in range(1, k)
        ) + ")"
        stages.append((f"phi_{k}_{k}", f"({num}) / NULLIF(({den}), 0.0)"))
        for j in range(1, k):
            stages.append(
                (f"phi_{k}_{j}", f"phi_{k - 1}_{j} - phi_{k}_{k} * phi_{k - 1}_{k - j}")
            )
    return stages


def _yule_walker_pacf(y: np.ndarray, nlags: int) -> np.ndarray:
    """PACF via Yule-Walker with adjusted (n−k) autocovariance divisor.

    Mirrors statsmodels ``pacf_yw(..., method='adjusted')``: for each
    order k solve the k×k Toeplitz system R a = r and take a[k-1].
    """
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    d = y - y.mean()
    # adjusted autocovariances c_0..c_nlags
    c = np.array(
        [(d[: n - k] * d[k:]).sum() / (n - k) for k in range(nlags + 1)]
    )
    out = np.empty(nlags + 1)
    out[0] = 1.0
    for k in range(1, nlags + 1):
        rho = c[1 : k + 1] / c[0]
        # Toeplitz matrix of normalized autocovariances
        mat = np.empty((k, k))
        for i in range(k):
            for j in range(k):
                mat[i, j] = c[abs(i - j)] / c[0]
        try:
            a = np.linalg.solve(mat, rho)
            out[k] = a[-1]
        except np.linalg.LinAlgError:
            out[k] = np.nan
    return out


def pacf(
    df: DataFrame,
    *,
    lags: int = 10,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
) -> DataFrame:
    """W2: partial autocorrelation per series, as one native fold with
    a constant plan size in ``lags``.

    The Yule-Walker solution (statsmodels ``pacf(method='ywadjusted')``,
    reference core.py:24-27) by the Durbin-Levinson recursion: the
    lag-product sums are one groupBy into each series' sorted array (the
    same shape as ``acf``), and the recursion is ``_durbin_levinson_col`` on
    the one row per series. No Python runs. Lags infeasible for the
    series length (k ≥ n) and every lag of a constant series are NULL.

    Output: (series, lag, pacf) for lag 0..lags, lag 0 = 1.0.
    """
    return _correlogram(
        df,
        lags=lags,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
        stats=("pacf",),
    )


def _durbin_levinson_col(rho: Column, lags: int) -> Column:
    """PACF lags 1..``lags`` as ONE array column, from ``rho`` (array
    of the adjusted autocorrelations, rho_k at 1-based position k).

    A Spark ``aggregate`` fold over the orders 2..lags carries the
    order-(k−1) coefficients ``phi`` and appends each reflection
    coefficient phi_k_k = pacf(k) to the output. Its float64 operations
    run in the order of ``durbin_levinson_stages``: each sum left to
    right from its j = 1 term, ``NULLIF`` on the denominator. So the
    values are bit-identical to the stage strings and the DuckDB
    oracle built on them, while the expression size stays constant in
    ``lags`` (the stage chain grows quadratically).
    """
    if lags < 1:
        return F.array().cast("array<double>")
    rho_1 = F.element_at(rho, 1)
    if lags == 1:  # sequence(2, 1) would count down to [2, 1]
        return F.array(rho_1)

    def dot(phi: Column, k: Column, rho_at) -> Column:
        # Σ_{j<k} phi_j·rho_at(j), summed from the j = 1 term
        def term(j):
            return F.element_at(phi, j) * F.element_at(rho, rho_at(j))

        rest = F.slice(F.sequence(F.lit(1), k - 1), 2, k)
        return F.aggregate(rest, term(F.lit(1)), lambda acc, j: acc + term(j))

    def order(acc: Column, k: Column) -> Column:
        phi = acc["phi"]
        num = F.element_at(rho, k) - dot(phi, k, lambda j: k - j)
        den = F.lit(1.0) - dot(phi, k, lambda j: j)
        phi_kk = num / F.nullif(den, F.lit(0.0))

        def extend(p: Column) -> Column:
            # phi_k_j = phi_{k-1}_j − p·phi_{k-1}_{k-j} for j < k; phi_k_k = p
            def update(x, i):
                return x - p * F.element_at(phi, k - 1 - i)

            return F.struct(
                F.concat(F.transform(phi, update), F.array(p)).alias("phi"),
                F.concat(acc["pacf"], F.array(p)).alias("pacf"),
            )

        # let-binding: transform(array(phi_kk), p -> …) evaluates phi_kk
        # once, not once per coefficient (see llm.lm char_ngrams_expr)
        return F.transform(F.array(phi_kk), extend)[0]

    init = F.struct(F.array(rho_1).alias("phi"), F.array(rho_1).alias("pacf"))
    return F.aggregate(
        F.sequence(F.lit(2), F.lit(lags)), init, order, lambda acc: acc["pacf"]
    )


def _correlogram(
    df: DataFrame,
    *,
    lags: int,
    series_cols: Iterable[str],
    ts_col: str,
    value_col: str,
    stats: tuple[str, ...],
) -> DataFrame:
    """(series, lag, *stats) rows for lag 0..lags, ``stats`` drawn from
    ("acf", "pacf"), built from ONE ``_lag_product_sums`` aggregate:

    * acf_k = s_k / s0, NULL for a constant series;
    * rho_k = (s_k/(n−k)) / (s0/n), the ``durbin_levinson_stages``
      guards (NULL unless n > k and s0 ≠ 0), folded into pacf by
      ``_durbin_levinson_col``.

    rho is projected before the fold, so the fold reads a bound column.
    Lag 0 is 1.0 for both statistics.
    """
    if lags < 0:
        raise ValueError(f"lags must be >= 0: {lags}")
    series_cols = list(series_cols)
    agg = _lag_product_sums(
        df, lags=lags, series_cols=series_cols, ts_col=ts_col, value_col=value_col
    )
    n, s0 = F.col("n"), F.col("s0")
    lag_0 = F.array(F.lit(1.0))
    arrays = []
    if "acf" in stats:
        acf_k = F.transform("_s", lambda s_k: F.try_divide(s_k, s0))
        arrays.append(F.concat(lag_0, acf_k).alias("acf"))
    if "pacf" in stats:
        rho = F.transform(
            "_s",
            lambda s_k, i: F.when(
                (n > i + 1) & (s0 != 0),
                (s_k / (n - (i + 1)).cast("double")) / (s0 / n.cast("double")),
            ),
        )
        agg = agg.withColumn("_rho", rho)
        arrays.append(
            F.concat(lag_0, _durbin_levinson_col(F.col("_rho"), lags)).alias("pacf")
        )
    return agg.select(
        *series_cols, F.posexplode(F.arrays_zip(*arrays)).alias("lag", "_e")
    ).select(*series_cols, "lag", *[F.col(f"_e.{c}").alias(c) for c in stats])


def acf_pacf(
    df: DataFrame,
    *,
    lags: int = 10,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
) -> DataFrame:
    """Fused W1+W2: ACF and PACF from ONE pass over the data, as one
    native fold with a constant plan size in ``lags``.

    Both statistics are functions of the same per-series lag-product
    sums (acf_k = s_k/s0; pacf = Durbin-Levinson over the adjusted
    autocorrelations), so the groupBy and the lag-product sums run once and
    both columns come from the one row per series — one Spark job where
    the unfused ``acf``/``pacf`` pair runs the identical distributed
    work twice. Values equal the standalone operators bit for bit.

    Output: (series, lag, acf, pacf), lag 0 = (1.0, 1.0).
    """
    return _correlogram(
        df,
        lags=lags,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
        stats=("acf", "pacf"),
    )


def _lgamma_sql(zs: str) -> str:
    """ln Γ(z) for each z > 0 of the array<double> ``zs``, as SQL text
    (Spark SQL has no lgamma): the Stirling series through the z⁻⁹
    term at w = z + k ≥ 16 (k ≥ 1), less ln(z·(z+1)···(z+k−1));
    absolute error ~1e-15 plus rounding."""
    stirling = (
        "(w - 0.5D) * ln(w) - w + {!r}D + (1D / w) * (1D / 12D + r * (-1D / 360D "
        "+ r * (1D / 1260D + r * (-1D / 1680D + r / 1188D))))"
    ).format(0.5 * math.log(2 * math.pi))
    return (
        f"transform({zs}, z -> transform(array(greatest(1, 16 - CAST(least(z, 16D) AS INT))), k -> "
        f"transform(array(z + k), w -> transform(array(1D / (w * w)), r -> {stirling})[0])[0] "
        "- ln(aggregate(sequence(0, k - 1), 1D, (p, i) -> p * (z + i))))[0])"
    )


def _betacf_sql(a: str, b: str, x: str) -> str:
    """The incomplete beta continued fraction by Lentz's method, step
    for step as ``stats._betacf``: 200 iterations of two half-steps
    (here 400 folded steps, the coefficient picked by parity), stopping
    once an iteration's relative step is below 3e-14."""
    tiny = "CASE WHEN abs({0}) < 1E-300D THEN 1E-300D ELSE {0} END".format
    aa = (
        f"CASE WHEN k % 2 = 0 THEN m * ({b} - m) * {x} / (({a} - 1D + 2 * m) * ({a} + 2 * m)) "
        f"ELSE -({a} + m) * ({a} + {b} + m) * {x} / (({a} + 2 * m) * ({a} + 1D + 2 * m)) END"
    )
    step = (
        f"transform(array(named_struct('d', 1D / {tiny('1D + aa * o.d')}, "
        f"'c', {tiny('1D + aa / o.c')})), n -> named_struct('c', n.c, 'd', n.d, "
        "'h', o.h * (n.d * n.c), 'e', CASE WHEN k % 2 = 1 THEN n.d * n.c ELSE o.e END))[0]"
    )
    start = f"1D / {tiny(f'1D - ({a} + {b}) * {x} / ({a} + 1D)')}"
    return (
        f"transform(array({start}), d -> aggregate(sequence(2, 401), "
        "named_struct('c', 1D, 'd', d, 'h', d, 'e', 0D), (o, k) -> "
        "CASE WHEN abs(o.e - 1D) < 3E-14D THEN o ELSE transform(array(k div 2), m -> "
        f"transform(array({aa}), aa -> {step})[0])[0] END, o -> o.h))[0]"
    )


def f_sf_expr(f_stat: str, d1: str, d2: str) -> str:
    """F(d1, d2) survival function (an F test's p-value) as SQL text over
    three SQL expressions: the statistic and the degrees of freedom,
    all read as values, so one expression serves every d1 and maps
    over an array of tests.

    The same algorithm as ``stats.f_sf``: p = I_x(d2/2, d1/2) at
    x = d2/(d2 + d1·F), the regularized incomplete beta by its
    continued fraction on the side of x where it converges fast, with
    the prefactor from ln Γ (``_lgamma_sql``). Small p-values keep
    their relative precision (a finite series in 1 − p would not).
    1 when F is not positive or a dof is, 0 at F = +Infinity, NULL
    when an input is NULL."""
    lg = _lgamma_sql("array(_F.a + _F.b, _F.a, _F.b)")
    front = (
        f"transform(array({lg}), g -> "
        "exp(g[0] - g[1] - g[2] + _F.a * ln(_F.x) + _F.b * ln(1D - _F.x)))[0]"
    )
    # the fraction converges fast below the mean x < (a+1)/(a+b+2);
    # above it, I_x(a, b) = 1 − I_{1−x}(b, a)
    side = (
        "CASE WHEN _F.lo THEN named_struct('a', _F.a, 'b', _F.b, 'x', _F.x) "
        "ELSE named_struct('a', _F.b, 'b', _F.a, 'x', 1D - _F.x) END"
    )
    p = (
        "CASE WHEN NOT (_F.f > 0D) OR _F.a <= 0D OR _F.b <= 0D THEN 1D "
        "WHEN _F.x <= 0D THEN 0D WHEN _F.x >= 1D THEN 1D "
        f"ELSE transform(array({side}), _C -> transform(array("
        f"{front} * {_betacf_sql('_C.a', '_C.b', '_C.x')} / _C.a), "
        "h -> CASE WHEN _F.lo THEN h ELSE 1D - h END)[0])[0] END"
    )
    # I_x(a, b) with a = d2/2, b = d1/2
    bound = (
        f"named_struct('f', CAST({f_stat} AS DOUBLE), 'd1', CAST({d1} AS DOUBLE), "
        f"'d2', CAST({d2} AS DOUBLE))"
    )
    return (
        f"transform(array({bound}), _i -> transform(array("
        "CASE WHEN _i.f > 0D AND _i.d1 > 0D AND _i.d2 > 0D "
        "THEN _i.d2 / (_i.d2 + _i.d1 * _i.f) END), _x -> "
        "transform(array(named_struct('f', _i.f, 'a', _i.d2 / 2D, 'b', _i.d1 / 2D, 'x', _x, "
        "'lo', _x < (_i.d2 / 2D + 1D) / (_i.d2 / 2D + _i.d1 / 2D + 2D))), "
        f"_F -> {p})[0])[0])[0]"
    )


def describe(
    df: DataFrame,
    *,
    series_cols: Iterable[str] = ("series_id",),
    value_col: str = "y",
) -> DataFrame:
    """W11: univariate statistics per series, one native agg.

    count / mean / sample std / min / q25 / median / q75 / max —
    quantiles are exact linear-interpolated ``percentile`` (matches
    DuckDB ``quantile_cont``). At 100 TB swap to ``percentile_approx``.
    """
    series_cols = list(series_cols)
    qs = F.percentile(value_col, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    aggs = [
        F.count(value_col).alias("n"),
        F.avg(value_col).alias("mean"),
        F.stddev_samp(value_col).alias("std"),
        F.min(value_col).alias("min"),
        qs[0].alias("q25"),
        qs[1].alias("median"),
        qs[2].alias("q75"),
        F.max(value_col).alias("max"),
    ]
    if series_cols:
        return df.groupBy(*series_cols).agg(*aggs)
    return df.agg(*aggs)


def _granger_f(y: np.ndarray, x: np.ndarray, lag: int) -> tuple[float, int, int]:
    """ssr-based Granger F test for one lag order.

    Restricted:   y_t ~ const + y_{t-1..t-lag}
    Unrestricted: y_t ~ const + y_{t-1..t-lag} + x_{t-1..t-lag}
    F = ((RSS_r − RSS_u)/lag) / (RSS_u/(n − 2·lag − 1))
    (statsmodels grangercausalitytests ssr_ftest semantics.)
    """
    n = y.size
    rows = n - lag
    if rows <= 2 * lag + 1:
        return (float("nan"), lag, rows - 2 * lag - 1)
    target = y[lag:]
    ylags = np.column_stack([y[lag - k : n - k] for k in range(1, lag + 1)])
    xlags = np.column_stack([x[lag - k : n - k] for k in range(1, lag + 1)])
    const = np.ones((rows, 1))
    restricted = np.hstack([const, ylags])
    unrestricted = np.hstack([const, ylags, xlags])

    def rss(design: np.ndarray) -> float:
        coef, *_ = np.linalg.lstsq(design, target, rcond=None)
        resid = target - design @ coef
        return float(resid @ resid)

    rss_r, rss_u = rss(restricted), rss(unrestricted)
    dfd = rows - 2 * lag - 1
    if rss_u <= 0:
        return (float("inf"), lag, dfd)
    fstat = ((rss_r - rss_u) / lag) / (rss_u / dfd)
    return (fstat, lag, dfd)


def granger_causality(
    df: DataFrame,
    *,
    maxlag: int = 14,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    target_col: str = "y",
    cov_col: str = "x",
    detrend: bool = True,
) -> DataFrame:
    """W10 reference: Granger F statistics per series pair and lag
    1..maxlag, numpy ``lstsq`` in a grouped pandas UDF. The tests check
    ``granger_native``, the production path, against it.

    Input is the aligned pair frame (ds, y, x) per series (J2 output).
    The notebook prototype removes a linear trend first and gates on
    len ≥ maxlag (Untitled.ipynb cell 12) — both reproduced here.
    Lags without a residual degree of freedom get NaN statistics.
    """
    from temporal_retriever_spark.stats import f_sf

    series_cols = list(series_cols)
    schema = StructType(
        [StructField(c, df.schema[c].dataType) for c in series_cols]
        + [
            StructField("lag", IntegerType()),
            StructField("f_stat", DoubleType()),
            StructField("p_value", DoubleType()),
            StructField("df_num", IntegerType()),
            StructField("df_den", LongType()),
            StructField("n_obs", LongType()),
        ]
    )

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).dropna(subset=[target_col, cov_col])
        y = pdf[target_col].to_numpy(dtype=np.float64)
        x = pdf[cov_col].to_numpy(dtype=np.float64)
        records = []
        if y.size >= maxlag:
            if detrend and y.size > 1:
                t = np.arange(y.size, dtype=np.float64)
                y = y - np.polyval(np.polyfit(t, y, 1), t)
                x = x - np.polyval(np.polyfit(t, x, 1), t)
            for lag in range(1, maxlag + 1):
                fstat, dfn, dfd = _granger_f(y, x, lag)
                pval = f_sf(fstat, dfn, dfd) if dfd > 0 else float("nan")
                records.append((lag, fstat, pval, dfn, dfd, y.size))
        cols = ["lag", "f_stat", "p_value", "df_num", "df_den", "n_obs"]
        out = pd.DataFrame(records, columns=cols)
        for c in series_cols:
            out[c] = pdf[c].iloc[0] if len(pdf) else None
        return out[series_cols + cols]

    return df.groupBy(*series_cols).applyInPandas(compute, schema)


# ---------------------------------------------------------------------------
# Native Granger: one per-series array program at any maxlag.
#
# Each lag l regresses y_t on z_t = [1, y_{t-1..t-l}, x_{t-1..t-l}] over
# the rows t = l..n-1. Every Gram entry and moment Σ_{t≥l} a_{t-i}·b_{t-j}
# is a full lag-product sum Σ_s a_{s+d}·b_s (d = |i − j|, from
# ``_lag_products_sql`` per (a, b), shared by every lag) less its edge
# terms: the rows t < l and the products that run past the end, at most
# 2·maxlag of them, read from the head and tail of the arrays. So the O(n) work is
# O(n·maxlag) in all, and only the small per-lag algebra grows with l.
# ---------------------------------------------------------------------------


def _detrended_sql(v: str) -> str:
    """The array<double> ``v`` of a series' ``_n`` sorted values less its
    OLS line over the 0..n−1 index (the notebook's detrend,
    Untitled.ipynb cell 12); less its mean only when the line has no
    slope (one value). Sums run in array order; Σt and Σt² are exact
    integers."""
    stats = (
        "named_struct('n', CAST(_n AS DOUBLE), 'st', CAST(_n AS DOUBLE) * (_n - 1) / 2D, "
        "'stt', CAST(CAST(_n AS BIGINT) * (_n - 1) * (2 * _n - 1) div 6 AS DOUBLE), "
        f"'sv', aggregate({v}, 0D, (s, e) -> s + e), "
        f"'stv', aggregate(transform({v}, (e, t) -> t * e), 0D, (s, m) -> s + m))"
    )
    slope = "coalesce(try_divide(w.stv - w.st * w.sv / w.n, w.stt - w.st * w.st / w.n), 0D)"
    return (
        f"transform(array({stats}), w -> transform(array({slope}), b -> "
        f"transform({v}, (e, t) -> e - (w.sv / w.n + b * (t - w.st / w.n))))[0])[0]"
    )


def _granger_gram_sql() -> str:
    """Per valid lag ``l``: the lower triangle (all the Cholesky kernel
    reads; the rest is 0) of the augmented Gram matrix ``G`` (flat,
    P = 2l+2) of [1, y lags 1..l, x lags 1..l, y],
    split into the restricted system ``r`` (the leading l+1 regressors),
    the unrestricted system ``u`` (all 2l+1) and ``q`` = Σ y_t².

    A regressor is (c, k): series c of ``_z`` (0 ones, 1 y, 2 x) at lag
    k; the constant takes its partner's lag, so its products need only
    d = 0, the one entry of its pairs' rows of ``_lp``. Entry (i, j) is
    the lag-product sum ``_lp[pair][|i−j|]`` less the edge rows t in
    [max(i, j), l) and [n, n + min(i, j))."""
    reg = (
        "transform(sequence(0, P - 1), r -> named_struct("
        "'c', CASE WHEN r = 0 THEN 0 WHEN r <= l OR r = P - 1 THEN 1 ELSE 2 END, "
        "'k', CASE WHEN r = 0 OR r = P - 1 THEN 0 WHEN r <= l THEN r ELSE r - l END))"
    )
    pair = (
        "named_struct('a', u.c, 'b', w.c, "
        "'i', CASE WHEN u.c = 0 THEN w.k ELSE u.k END, "
        "'j', CASE WHEN w.c = 0 THEN u.k ELSE w.k END)"
    )
    full = (
        "CASE WHEN h.i <= h.j THEN _lp[h.a * 3 + h.b][h.j - h.i] "
        "ELSE _lp[h.b * 3 + h.a][h.i - h.j] END"
    )
    # rows t in [max, l) then [n, n + min), as slices of each side
    edge = _dot_sql(*(
        f"concat(slice(_z[h.{s}], greatest(h.i, h.j) - h.{k} + 1, l - greatest(h.i, h.j)), "
        f"slice(_z[h.{s}], _n - h.{k} + 1, least(h.i, h.j)))"
        for s, k in (("a", "i"), ("b", "j"))
    ))
    entry = (
        "CASE WHEN e div P < e % P THEN 0D "
        f"ELSE transform(array(rg[e div P]), u -> transform(array(rg[e % P]), w -> "
        f"transform(array({pair}), h -> {full} - {edge})[0])[0])[0] END"
    )
    system = (
        "named_struct('a', filter(G, (g, k) -> k div P < {0} AND k % P < {0}), "
        "'v', slice(G, (P - 1) * P + 1, {0}))"
    ).format
    return (
        "transform(sequence(1, _L), l -> transform(array(2 * l + 2), P -> "
        f"transform(array({reg}), rg -> "
        f"transform(array(transform(sequence(0, P * P - 1), e -> {entry})), G -> "
        f"named_struct('l', l, 'q', G[P * P - 1], 'r', {system('l + 1')}, "
        f"'u', {system('P - 1')}))[0])[0])[0])"
    )


def granger_native(
    df: DataFrame,
    *,
    maxlag: int = 5,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    target_col: str = "y",
    cov_col: str = "x",
    detrend: bool = True,
) -> DataFrame:
    """W10: Granger ssr F-tests with exact p-values per series pair and
    lag 1..maxlag, as one per-series array program.

    Semantics of the notebook prototype (Untitled.ipynb cell 12,
    statsmodels ``ssr_ftest``): rows with a NULL y or x drop, y and x
    are detrended over the 0..n−1 index, series with fewer than
    ``maxlag`` rows emit nothing, and lag l compares the restricted fit
    y_t ~ 1 + y_{t−1..t−l} with the unrestricted one that adds
    x_{t−1..t−l}: F = ((RSS_r − RSS_u)/l) / (RSS_u/(n − 3l − 1)),
    +Infinity when RSS_u ≤ 0. Lags with fewer than one residual degree
    of freedom have no test and are omitted. ``granger_causality`` is
    the numpy reference.

    One groupBy collects each series into a ds-sorted array; the lag
    l Gram matrices come from the shared lag-product sums
    (``_lag_products_sql``) less their edge terms (see the section
    note), ONE instance of the Cholesky kernel ``_spd_solve_sql`` is
    mapped over the 2·maxlag restricted and unrestricted systems,
    RSS = Σy² − β·v, and ``f_sf_expr`` is mapped over the lags for the
    p-values. The plan is one exchange, a
    few projections and one ``inline``, the same at every maxlag, and
    every sum runs in array order, so the output does not depend on
    partitioning. Memory is bounded by the longest series, held as
    one array by one task.

    Output: (series, lag, f_stat, p_value, df_num, df_den, n_obs).
    """
    keys = [_ident(c) for c in series_cols]
    series = "array(_y, _x)"
    if detrend:
        series = f"transform({series}, v -> {_detrended_sql('v')})"
    # pair c = (c div 3, c % 3) of _z; a pair with the constant is read at d = 0 only
    lag_products = "transform(sequence(0, 8), c -> {})".format(
        _lag_products_sql(
            "_z[c div 3]", "_z[c % 3]", "CASE WHEN c div 3 > 0 AND c % 3 > 0 THEN _L ELSE 0 END"
        )
    )
    solve = (
        "transform(flatten(transform(_sys, g -> array(g.r, g.u))), "
        f"g -> {_spd_solve_sql('g.a', 'g.v')})"
    )
    test = (
        "transform(array(named_struct("
        f"'rr', g.q - {_dot_sql('_beta[2 * i]', 'g.r.v')}, "
        f"'ru', g.q - {_dot_sql('_beta[2 * i + 1]', 'g.u.v')}, 'dfd', _n - 3 * g.l - 1)), o -> "
        "transform(array(CASE WHEN o.ru <= 0D THEN CAST('Infinity' AS DOUBLE) "
        "ELSE ((o.rr - o.ru) / g.l) / (o.ru / o.dfd) END), f -> named_struct("
        f"'lag', g.l, 'f_stat', f, 'p_value', {f_sf_expr('f', 'g.l', 'o.dfd')}, "
        "'df_num', g.l, 'df_den', CAST(o.dfd AS BIGINT), 'n_obs', CAST(_n AS BIGINT)))[0])[0]"
    )
    return (
        _sorted_arrays(
            df.na.drop(subset=[target_col, cov_col]),
            series_cols,
            ts_col,
            {"_y": target_col, "_x": cov_col},
        )
        # notebook gate: series shorter than maxlag emit nothing; lags
        # past (n - 2) / 3 leave no residual degree of freedom
        .selectExpr("*", f"CAST(least({int(maxlag)}, (_n - 2) div 3) AS INT) AS _L")
        .filter(f"_n >= {int(maxlag)} AND _L >= 1")
        .selectExpr(*keys, "_n", "_L", f"concat(array(array_repeat(1D, _n)), {series}) AS _z")
        .selectExpr("*", f"{lag_products} AS _lp")
        .selectExpr(*keys, "_n", f"{_granger_gram_sql()} AS _sys")
        .selectExpr("*", f"{solve} AS _beta")
        .selectExpr(*keys, f"inline(transform(_sys, (g, i) -> {test}))")
    )


def ccf(
    df: DataFrame,
    *,
    lags: int = 10,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    target_col: str = "y",
    cov_col: str = "x",
) -> DataFrame:
    """Cross-correlation function: corr(x_{t−k}, y_t) for k in
    0..lags — the pairwise analog of W1's ACF and the screening
    statistic ahead of a Granger test (a large ccf at lag k suggests x
    leads y by k buckets). statsmodels ``ccf(adjusted=False)``
    convention: both series centered by their full-series means,
    normalized by n·σ_x·σ_y (the lag-0 value is Pearson r).

    Fully native, same plan shape as ACF: one groupBy into each pair's
    ds-sorted arrays, then ``_lag_products_sql`` over the centered
    (dy, dx) — one shuffle regardless of lag count. Rows with a NULL y
    or x drop.

    Output: (series, lag, ccf), lag 0..lags.
    """
    series_cols = list(series_cols)
    keys = [_ident(c) for c in series_cols]
    agg = (
        _sorted_arrays(
            df.na.drop(subset=[target_col, cov_col]),
            series_cols,
            ts_col,
            {"_y": target_col, "_x": cov_col},
        )
        .selectExpr(*keys, f"{_centered_sql('_y')} AS _dy", f"{_centered_sql('_x')} AS _dx")
        .selectExpr(
            *keys,
            f"{_lag_products_sql('_dy', '_dy', 0)}[0] AS _syy",
            f"{_lag_products_sql('_dx', '_dx', 0)}[0] AS _sxx",
            f"{_lag_products_sql('_dy', '_dx', lags)} AS _c",
        )
    )
    # normalizer n·σ_x·σ_y with population σ = sqrt(S/n): n·√(Sxx/n)·√(Syy/n)
    # = √(Sxx·Syy); try_divide -> NULL for constant series (ANSI-safe)
    denom = F.sqrt(F.col("_sxx") * F.col("_syy"))
    pairs = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"),
                F.try_divide(F.col("_c")[k], denom).alias("ccf"),
            )
            for k in range(lags + 1)
        ]
    )
    return (
        agg.select(*series_cols, F.explode(pairs).alias("_e"))
        .select(
            *series_cols,
            F.col("_e.lag").alias("lag"),
            F.col("_e.ccf").alias("ccf"),
        )
    )


def series_corr_matrix(
    df: DataFrame,
    *,
    series_col: str = "series_id",
    ts_col: str = "ds",
    value_col: str = "y",
    min_obs: int = 2,
) -> DataFrame:
    """Pairwise Pearson correlation between every pair of series on
    their shared timestamps — the lead-lag screening companion to
    ``ccf`` (which goes deep on one pair; this goes wide across all).

    Output: (series_a < series_b, n_obs, corr), correlation from
    explicit sums — (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) — so
    the arithmetic is reproducible bit-for-bit against any SQL oracle
    (engine-native ``corr`` uses incremental update formulas that
    drift in the last ulp). NULL when either side is constant.

    Scale shape: one equi-join shuffle on the timestamp, one
    aggregation per pair. Pair cardinality is |series|² — the
    intended regime is the analytics one (dozens-to-thousands of
    series, pre-filtered), not millions; for that, LSH-bucket the
    series embeddings first (``llm.similarity``) and correlate within
    buckets.
    """
    if min_obs < 2:
        raise ValueError(f"min_obs must be >= 2: {min_obs}")
    a = df.select(
        F.col(series_col).alias("series_a"),
        F.col(ts_col).alias("_ts"),
        F.col(value_col).cast("double").alias("_xa"),
    )
    b = df.select(
        F.col(series_col).alias("series_b"),
        F.col(ts_col).alias("_ts"),
        F.col(value_col).cast("double").alias("_xb"),
    )
    j = a.join(b, on="_ts").filter(F.col("series_a") < F.col("series_b"))
    agg = j.groupBy("series_a", "series_b").agg(
        F.count("_xa").cast("double").alias("_n"),
        F.sum("_xa").alias("_sx"),
        F.sum("_xb").alias("_sy"),
        F.sum(F.col("_xa") * F.col("_xa")).alias("_sxx"),
        F.sum(F.col("_xb") * F.col("_xb")).alias("_syy"),
        F.sum(F.col("_xa") * F.col("_xb")).alias("_sxy"),
    )
    n = F.col("_n")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.sqrt(
        (n * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
        * (n * F.col("_syy") - F.col("_sy") * F.col("_sy"))
    )
    return (
        agg.filter(n >= min_obs)
        .select(
            "series_a",
            "series_b",
            n.cast("long").alias("n_obs"),
            F.try_divide(num, den).alias("corr"),
        )
    )


def periodogram(
    df: DataFrame,
    *,
    min_period: int = 2,
    max_period: int = 31,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
) -> DataFrame:
    """Normalized DFT periodogram over a candidate-period grid — the
    spectral companion to the ACF-based `detect_seasonality`: where
    the ACF measures self-similarity at a LAG, the periodogram
    measures energy at a FREQUENCY, and a sharp seasonal line shows
    up at the period AND its harmonics (the diagnostic the ACF
    smears).

    For each candidate period p (ω = 2π/p baked as an identical
    double literal on both engines):

        C_p = Σ_t (y_t − ȳ)·cos(ω·t)     S_p = Σ_t (y_t − ȳ)·sin(ω·t)
        power_p = (C_p² + S_p²) / Σ_t (y_t − ȳ)²

    — the squared sample amplitude NORMALIZED by the series energy,
    so output is scale-free in [0, ~n/2] units of flat-spectrum
    expectation ≈ 1-per-2-dof; peaks ≫ 1 mark concentration. The
    normalization also keeps cross-engine libm cos/sin ulp drift far
    below 6-dp rounding (raw power scales with n·σ² and would not).

    One ordered window pass (time index + mean), ONE aggregation with
    2·P conditional sums, explode to long rows — the `acf` plan shape.
    Output: (series, period, power, n); zero-variance series emit
    NULL power.
    """
    if not 2 <= min_period <= max_period:
        raise ValueError(
            f"need 2 <= min_period <= max_period: ({min_period}, {max_period})"
        )
    series_cols = list(series_cols)
    w = Window.partitionBy(*series_cols)
    wo = w.orderBy(ts_col)
    y = F.col(value_col).cast("double")
    d = (
        df.filter(y.isNotNull())
        .withColumn("_t", (F.row_number().over(wo) - 1).cast("double"))
        .withColumn("_dm", y - F.avg(y).over(w))
    )
    aggs = [
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("_dm") * F.col("_dm")).alias("_sv"),
    ]
    for p in range(min_period, max_period + 1):
        omega = F.lit(2.0 * math.pi / p)
        aggs.append(
            F.sum(F.col("_dm") * F.cos(omega * F.col("_t"))).alias(f"_c{p}")
        )
        aggs.append(
            F.sum(F.col("_dm") * F.sin(omega * F.col("_t"))).alias(f"_s{p}")
        )
    agg = d.groupBy(*series_cols).agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(p).alias("period"),
                F.try_divide(
                    F.col(f"_c{p}") * F.col(f"_c{p}")
                    + F.col(f"_s{p}") * F.col(f"_s{p}"),
                    F.col("_sv"),
                ).alias("power"),
            )
            for p in range(min_period, max_period + 1)
        ]
    )
    return agg.select(
        *series_cols, "n", F.explode(entries).alias("_e")
    ).select(
        *series_cols,
        F.col("_e.period").alias("period"),
        F.col("_e.power").alias("power"),
        "n",
    )


def detect_seasonality(
    df: DataFrame,
    *,
    max_period: int = 31,
    min_period: int = 2,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
) -> DataFrame:
    """Dominant-period detection per series: the lag in
    [min_period, max_period] with the highest autocorrelation, plus
    whether it clears the Bartlett 95% significance band — the
    "should I fit weekly or monthly seasonality?" primitive that
    picks ``period`` for ``forecast_holt_winters`` / ``decompose``.

    Output: (series, period, acf, significant, n). Ties break toward
    the SHORTER period (a harmonic's base frequency), deterministic.

    Same one-groupBy plan as ``acf``: the lag-product sums of each
    series' sorted array, then the argmax over the candidate lags is a
    build-time fold over scalar columns — no second shuffle.
    """
    if not 2 <= min_period <= max_period:
        raise ValueError(
            f"need 2 <= min_period <= max_period: ({min_period}, {max_period})"
        )
    series_cols = list(series_cols)
    agg = _lag_product_sums(
        df,
        lags=max_period,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
    )
    # materialize each rho as a COLUMN first — nesting them inside a
    # when-fold duplicates subtrees exponentially (2^max_period nodes)
    agg = agg.select(
        *series_cols,
        "n",
        *[
            F.try_divide(F.col("_s")[k - 1], F.col("s0")).alias(f"_r{k}")
            for k in range(1, max_period + 1)
        ],
    )
    neg_inf = F.lit(float("-inf"))
    # argmax via array_max on (rho, -lag) structs: max rho wins, ties
    # break toward the shorter period (larger -lag); NULL rho -> -inf
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    F.coalesce(F.col(f"_r{k}"), neg_inf).alias("r"),
                    F.lit(-k).alias("nl"),
                )
                for k in range(min_period, max_period + 1)
            ]
        )
    )
    agg = agg.withColumn("_best", best)
    # Bartlett prefix sums as a linear column chain (no nesting)
    for k in range(0, max_period):
        prev = F.col(f"_acc{k - 1}") if k >= 1 else F.lit(0.0)
        rk = F.coalesce(F.col(f"_r{k}"), F.lit(0.0)) if k >= 1 else F.lit(0.0)
        agg = agg.withColumn(f"_acc{k}", prev + rk * rk)
    bands = F.array(
        *[
            F.sqrt(
                (F.lit(1.0) + F.lit(2.0) * F.col(f"_acc{k - 1}"))
                / F.col("n").cast("double")
            )
            for k in range(1, max_period + 1)
        ]
    )
    from temporal_retriever_spark.stats import norm_ppf

    z = norm_ppf(0.975)
    raw_best = F.col("_best")["r"]
    # all-NULL candidates (series too short for any lag) would surface
    # the -inf sentinel as a statistic; report NULLs instead
    degenerate = raw_best == F.lit(float("-inf"))
    period = F.when(degenerate, F.lit(None)).otherwise(
        -F.col("_best")["nl"]
    )
    rho_best = F.when(degenerate, F.lit(None)).otherwise(raw_best)
    band_at = F.element_at(bands, (-F.col("_best")["nl"]).cast("int"))
    return agg.select(
        *series_cols,
        period.alias("period"),
        rho_best.alias("acf"),
        (F.abs(rho_best) > F.lit(z) * band_at).alias("significant"),
        F.col("n"),
    )


def trend_test(
    df: DataFrame,
    *,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
) -> DataFrame:
    """Theil-Sen robust slope + Mann-Kendall trend test — the
    nonparametric trend pair (Sen 1968; Mann 1945/Kendall): the OLS
    slope a single outlier can hijack, the median-of-pairwise-slopes
    cannot (29.3% breakdown), and MK answers "is there ANY monotonic
    trend" without assuming linearity or normality:

        slope = median{ (y_j − y_i)/(t_j − t_i) : t_i < t_j }
        S     = Σ_{i<j} sign(y_j − y_i)
        Var(S)= [n(n−1)(2n+5) − Σ_t k_t(k_t−1)(2k_t+5)] / 18
        z     = (S ∓ 1)/√Var  (continuity-corrected), two-sided p

    Pairwise enumeration is a per-series SELF-JOIN — O(n²) in the
    series LENGTH, which for bucketed series is bounded by the
    observation window (the usual contract in this module), not the
    raw event count; the join is series-co-partitioned so nothing
    data-sized shuffles. Ties in y get the standard variance
    correction; ties in t are excluded from slopes (undefined).

    Output per series: ``n, slope, s_stat, z_score, p_value``
    (NULL statistic below n = 3 or when Var = 0).
    """
    from temporal_retriever_spark.forecast import _time_index
    from temporal_retriever_spark.inference import _norm_sf_expr

    series_cols = list(series_cols)
    y = F.col(value_col).cast("double")
    d = (
        df.filter(y.isNotNull())
        .select(
            *series_cols,
            _time_index(F.col(ts_col)).alias("_t"),
            y.alias("_y"),
        )
    )
    l, r = d.alias("l"), d.alias("r")
    cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in series_cols]
    cond.append(F.col("l._t") < F.col("r._t"))
    pairs = l.join(r, on=cond)
    slope = (F.col("r._y") - F.col("l._y")) / (
        F.col("r._t") - F.col("l._t")
    )
    sgn = F.signum(F.col("r._y") - F.col("l._y"))
    pa = (
        pairs.select(
            *[F.col(f"l.{c}").alias(c) for c in series_cols],
            slope.alias("_slope"),
            sgn.alias("_sgn"),
        )
        .groupBy(*series_cols)
        .agg(
            F.expr("percentile(_slope, 0.5)").alias("slope"),
            F.sum("_sgn").cast("double").alias("s_stat"),
        )
    )
    # n and the tie correction from the (series, y) counts
    base = d.groupBy(*series_cols).agg(F.count("*").cast("double").alias("_n"))
    ties = (
        d.groupBy(*series_cols, "_y")
        .agg(F.count("*").cast("double").alias("_k"))
        .groupBy(*series_cols)
        .agg(
            F.sum(
                F.col("_k") * (F.col("_k") - 1.0) * (2.0 * F.col("_k") + 5.0)
            ).alias("_tc")
        )
    )
    out = pa.join(base, on=series_cols).join(ties, on=series_cols)
    n = F.col("_n")
    var = (
        n * (n - 1.0) * (2.0 * n + 5.0) - F.col("_tc")
    ) / 18.0
    s = F.col("s_stat")
    zc = F.when(s > 0, s - 1.0).when(s < 0, s + 1.0).otherwise(F.lit(0.0))
    ok = (n >= 3) & (var > 0)
    z = F.when(ok, zc / F.sqrt(var))
    p = F.when(
        ok, F.least(F.lit(1.0), 2.0 * _norm_sf_expr(F.abs(zc / F.sqrt(var))))
    )
    return out.select(
        *series_cols,
        n.cast("long").alias("n"),
        F.when(ok, F.col("slope")).alias("slope"),
        s.alias("s_stat"),
        z.alias("z_score"),
        p.alias("p_value"),
    )


def durbin_watson(
    df: DataFrame,
    *,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "resid",
) -> DataFrame:
    """Durbin-Watson statistic per series — the one-number lag-1
    autocorrelation screen for forecast RESIDUALS (the companion to
    `ljung_box`'s multi-lag portmanteau):

        DW = Σ_t (e_t − e_{t−1})² / Σ_t e_t²       ∈ [0, 4]

    ≈ 2(1 − r₁): 2 means white residuals, → 0 positive
    autocorrelation (the model missed structure), → 4 negative
    (over-differencing). One ordered lag window + ONE aggregation;
    NULL below 2 observations or zero energy.

    Output per series: ``n, dw_stat``.
    """
    series_cols = list(series_cols)
    w = Window.partitionBy(*series_cols).orderBy(ts_col)
    e = F.col(value_col).cast("double")
    d = (
        df.filter(e.isNotNull())
        .withColumn("_diff", e - F.lag(e).over(w))
        .withColumn("_e", e)
    )
    agg = d.groupBy(*series_cols).agg(
        F.count("_e").cast("long").alias("n"),
        F.sum(F.col("_diff") * F.col("_diff")).alias("_num"),
        F.sum(F.col("_e") * F.col("_e")).alias("_den"),
    )
    dw = F.when(
        (F.col("n") >= 2) & (F.col("_den") > 0),
        F.col("_num") / F.col("_den"),
    )
    return agg.select(*series_cols, "n", dw.alias("dw_stat"))


def jarque_bera(
    df: DataFrame,
    *,
    value_col: str = "y",
    keys: list[str] | None = None,
) -> DataFrame:
    """Jarque-Bera normality test per key — are the values (typically
    residuals) compatible with a normal distribution? Skewness and
    excess kurtosis from one moment pass:

        JB = n/6 · (S² + K²/4)       ~  χ²(2)

    with S, K the BIASED (population-moment) sample skewness and
    excess kurtosis — the classical JB convention. χ²(2) survival is
    exactly exp(−JB/2), shared closed-form with the oracle. ONE
    map-side-combined aggregation of four power sums; NULL below
    n = 4 or zero variance.

    Output per key: ``n, skewness, kurtosis, jb_stat, p_value``.
    """
    keys = list(keys or [])
    x = F.col(value_col).cast("double")
    base = df.filter(x.isNotNull())
    agg = base.groupBy(*keys).agg(
        F.count("*").cast("double").alias("_n"),
        F.sum(x).alias("_s1"),
        F.sum(x * x).alias("_s2"),
        F.sum(x * x * x).alias("_s3"),
        F.sum(x * x * x * x).alias("_s4"),
    )
    n = F.col("_n")
    m = F.col("_s1") / n
    # central moments from raw power sums (identical algebra in SQL)
    m2 = F.col("_s2") / n - m * m
    m3 = F.col("_s3") / n - 3.0 * m * F.col("_s2") / n + 2.0 * m * m * m
    m4 = (
        F.col("_s4") / n
        - 4.0 * m * F.col("_s3") / n
        + 6.0 * m * m * F.col("_s2") / n
        - 3.0 * m * m * m * m
    )
    skew = m3 / F.pow(m2, 1.5)
    kurt = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (skew * skew + kurt * kurt / 4.0)
    ok = (n >= 4) & (m2 > 0)
    return agg.select(
        *keys,
        n.cast("long").alias("n"),
        F.when(ok, skew).alias("skewness"),
        F.when(ok, kurt).alias("kurtosis"),
        F.when(ok, jb).alias("jb_stat"),
        F.when(ok, F.exp(-jb / 2.0)).alias("p_value"),
    )


def mann_kendall(
    df: DataFrame,
    *,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
    alpha: float = 0.05,
) -> DataFrame:
    """Mann-Kendall trend test + Sen's slope per series (Mann 1945,
    Kendall 1975, Sen 1968 — the standard nonparametric "is this
    series trending" answer, robust to outliers and needing no
    distributional assumption).

    Per series: ``S = Σ_{i<j} sign(y_j − y_i)``; variance with the
    tie correction ``Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18``
    over groups of tied y values; the continuity-corrected
    ``z = (S∓1)/√Var(S)`` (0 when S = 0); two-sided p via the shared
    A&S 26.2.17 normal tail (`_norm_sf_expr` — same closed form in
    the DuckDB oracle). ``sen_slope`` is the median of the pairwise
    slopes ``(y_j − y_i)/(j − i)`` on the ORDER INDEX (interpolated
    median; for evenly spaced series this is Sen's estimator in
    per-step units). ``trend`` is 'increasing'/'decreasing' when
    p < alpha, else 'no trend'.

    Scale: pairs come from ONE per-series self-join on the rank
    index — O(n²) rows per series, shuffled once on the series keys.
    Intended for BUCKETED series (the repo's daily/hourly rollups:
    n in the hundreds-to-thousands), the same per-series quadratic
    contract as the exact DTW/matrix-profile operators; it is not an
    events-table operator. Output:
    ``(*series_cols, n, s_stat, var_s, z, p_value, sen_slope, trend)``.
    """
    from temporal_retriever_spark.inference import _norm_sf_expr

    keys = list(series_cols)
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(ts_col)
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.row_number().over(w).alias("_idx"),
        F.col(value_col).cast("double").alias("_y"),
    )
    a = base.select(
        *keys, F.col("_idx").alias("_i"), F.col("_y").alias("_yi")
    )
    b = base.select(
        *keys, F.col("_idx").alias("_j"), F.col("_y").alias("_yj")
    )
    pairs = a.join(b, keys).filter(F.col("_i") < F.col("_j"))
    agg = pairs.groupBy(*keys).agg(
        F.sum(F.signum(F.col("_yj") - F.col("_yi")))
        .cast("double")
        .alias("s_stat"),
        F.expr(
            "percentile((_yj - _yi) / (_j - _i), 0.5)"
        ).alias("sen_slope"),
    )
    n_df = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ties = (
        base.groupBy(*keys, "_y")
        .agg(F.count(F.lit(1)).cast("double").alias("_t"))
        .groupBy(*keys)
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("_tie_term")
        )
    )
    nn = F.col("n").cast("double")
    var_s = (
        nn * (nn - 1) * (2 * nn + 5) - F.col("_tie_term")
    ) / F.lit(18.0)
    out = (
        n_df.join(agg, keys)
        .join(ties, keys)
        .withColumn("var_s", var_s)
    )
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt("var_s"))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt("var_s"))
        .otherwise(F.lit(0.0))
    )
    out = out.withColumn(
        "z", F.when(F.col("var_s") > 0, z).otherwise(F.lit(0.0))
    )
    p = F.least(F.lit(1.0), 2.0 * _norm_sf_expr(F.abs(F.col("z"))))
    out = out.withColumn("p_value", p)
    trend = (
        F.when(
            (F.col("p_value") < F.lit(alpha)) & (F.col("s_stat") > 0),
            F.lit("increasing"),
        )
        .when(
            (F.col("p_value") < F.lit(alpha)) & (F.col("s_stat") < 0),
            F.lit("decreasing"),
        )
        .otherwise(F.lit("no trend"))
    )
    return out.select(
        *keys, "n", "s_stat", "var_s", "z", "p_value", "sen_slope",
        trend.alias("trend"),
    )


def seasonal_mann_kendall(
    df: DataFrame,
    *,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    value_col: str = "y",
    season: str = "dow",
    alpha: float = 0.05,
) -> DataFrame:
    """Seasonal Mann-Kendall (Hirsch & Slack 1982): the MK test
    computed WITHIN each season and combined — ``S = Σ_g S_g``,
    ``Var(S) = Σ_g Var(S_g)`` (independent-season form, each with its
    own tie correction) — so a strong weekly/annual cycle cannot
    masquerade as (or mask) a monotone trend: only same-season pairs
    are ever compared.

    ``season``: 'dow' (ISO weekday — compares same weekdays across
    weeks; the right grain for daily series) or 'month' (compares the
    same month across years — the classic hydrology form for monthly
    series). ``sen_slope`` is the interpolated median of the pooled
    within-season pairwise slopes on each season's rank index (Sen in
    per-season-step units). Same z/p/trend conventions and the same
    per-BUCKETED-series quadratic contract as :func:`mann_kendall`;
    extra output column ``n_seasons``.
    """
    from temporal_retriever_spark.inference import _norm_sf_expr

    keys = list(series_cols)
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if season == "dow":
        sea = F.weekday(F.col(ts_col)) + F.lit(1)
    elif season == "month":
        sea = F.month(F.col(ts_col))
    else:
        raise ValueError(f"season must be 'dow' or 'month', got {season!r}")
    gkeys = keys + ["_season"]
    w = Window.partitionBy(*[F.col(k) for k in gkeys]).orderBy("_ts")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        sea.alias("_season"),
        F.col(value_col).cast("double").alias("_y"),
        F.col(ts_col).alias("_ts"),
    ).select(
        *gkeys,
        F.row_number().over(w).alias("_idx"),
        F.col("_y"),
    )
    a = base.select(
        *gkeys, F.col("_idx").alias("_i"), F.col("_y").alias("_yi")
    )
    b = base.select(
        *gkeys, F.col("_idx").alias("_j"), F.col("_y").alias("_yj")
    )
    pairs = a.join(b, gkeys).filter(F.col("_i") < F.col("_j"))
    per_season_s = pairs.groupBy(*gkeys).agg(
        F.sum(F.signum(F.col("_yj") - F.col("_yi")))
        .cast("double")
        .alias("_sg")
    )
    per_season_n = base.groupBy(*gkeys).agg(
        F.count(F.lit(1)).cast("double").alias("_ng")
    )
    per_season_tie = (
        base.groupBy(*gkeys, "_y")
        .agg(F.count(F.lit(1)).cast("double").alias("_t"))
        .groupBy(*gkeys)
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("_tieg")
        )
    )
    per_season = (
        per_season_n.join(per_season_s, gkeys, "left")
        .join(per_season_tie, gkeys)
        .select(
            *gkeys,
            "_ng",
            F.coalesce("_sg", F.lit(0.0)).alias("_sg"),
            (
                (
                    F.col("_ng")
                    * (F.col("_ng") - 1)
                    * (2 * F.col("_ng") + 5)
                    - F.col("_tieg")
                )
                / F.lit(18.0)
            ).alias("_varg"),
        )
    )
    combined = per_season.groupBy(*keys).agg(
        F.sum("_ng").cast("long").alias("n"),
        F.sum("_sg").alias("s_stat"),
        F.sum("_varg").alias("var_s"),
        F.count(F.lit(1)).cast("long").alias("n_seasons"),
    )
    slope = pairs.groupBy(*keys).agg(
        F.expr("percentile((_yj - _yi) / (_j - _i), 0.5)").alias("sen_slope")
    )
    out = combined.join(slope, keys, "left")
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt("var_s"))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt("var_s"))
        .otherwise(F.lit(0.0))
    )
    out = out.withColumn(
        "z", F.when(F.col("var_s") > 0, z).otherwise(F.lit(0.0))
    )
    out = out.withColumn(
        "p_value",
        F.least(F.lit(1.0), 2.0 * _norm_sf_expr(F.abs(F.col("z")))),
    )
    trend = (
        F.when(
            (F.col("p_value") < F.lit(alpha)) & (F.col("s_stat") > 0),
            F.lit("increasing"),
        )
        .when(
            (F.col("p_value") < F.lit(alpha)) & (F.col("s_stat") < 0),
            F.lit("decreasing"),
        )
        .otherwise(F.lit("no trend"))
    )
    return out.select(
        *keys, "n", "n_seasons", "s_stat", "var_s", "z", "p_value",
        "sen_slope", trend.alias("trend"),
    )
