"""Two-sample hypothesis tests as distributed aggregation plans.

Kolmogorov-Smirnov and Mann-Whitney U compare the distribution of a
metric between two populations (an A/B split, two event types, two
corpus sources). Both are classically "sort the pooled sample" tests;
here they compile to plans that survive 100 TB:

1. ``groupBy(value)`` first — one shuffle keyed on the metric VALUE
   collapses the data to per-distinct-value counts ``(d1, d2)``. All
   later work is on the distinct-value table, whose cardinality is
   bounded by the value domain, not the row count.
2. One ordered window over the distinct values computes the empirical
   CDFs (KS) or midrank prefix sums (MWU). With grouping ``keys`` the
   window partitions per key (the scale path); keyless mode is a
   single global ordered partition over DISTINCT values only — far
   smaller than the raw data, but still a one-task sort, so prefer
   per-key tests at scale.
3. A final aggregation reduces to one row per key: the statistic and
   its asymptotic two-sided p-value, computed entirely with native
   expressions (finite Kolmogorov series / Abramowitz-Stegun 26.2.17
   normal-CDF polynomial) so the hot path never leaves the JVM.

Reference parity: the reference engine ships no hypothesis tests
(``/root/reference/temporal_retriever/app.py`` enumerates only
forecast/acf/pacf/granger analyses); these extend the diagnostics
family (``diagnostics.py``) with the standard distribution-shift
checks a training-data pipeline runs between corpus snapshots.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from temporal_retriever_spark.spread import spread_scan

__all__ = [
    "anova_oneway",
    "diff_in_diff",
    "propensity_att",
    "bootstrap_ci",
    "chi2_independence",
    "cohens_kappa",
    "cuped_adjust",
    "cuped_ttest",
    "fdr_bh",
    "fisher_exact",
    "friedman_test",
    "kendall_tau",
    "kruskal_wallis",
    "js_divergence",
    "ks_2sample",
    "mann_whitney_u",
    "mantel_haenszel",
    "spearman_corr",
    "mcnemar_test",
    "poisson_weight_expr",
    "prop_ztest",
    "psi",
    "ratio_ttest",
    "welch_ttest",
    "wilcoxon_signed_rank",
    "woe_iv",
    "iv_2sls",
]

#: Abramowitz & Stegun 26.2.17 coefficients for the standard normal
#: tail probability (|error| < 7.5e-8) — public-domain constants.
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_AS_P = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327


def _norm_sf_expr(z: Column) -> Column:
    """P(Z > z) for z >= 0 via the A&S 26.2.17 polynomial.

    Same closed-form in the DuckDB oracles — identical double
    arithmetic on both engines, so 6-dp rounding is stable.
    """
    t = 1.0 / (1.0 + _AS_P * z)
    poly = (
        _AS_B[0] * t
        + _AS_B[1] * t * t
        + _AS_B[2] * t * t * t
        + _AS_B[3] * t * t * t * t
        + _AS_B[4] * t * t * t * t * t
    )
    return F.exp(-(z * z) / 2.0) * F.lit(_INV_SQRT_2PI) * poly


def _counts_by_value(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    keys: list[str],
) -> DataFrame:
    """Collapse raw rows to per-distinct-value sample counts.

    The ONE row-count-proportional shuffle in either test; everything
    downstream runs on the (keys, value)-distinct table.
    """
    g = F.col(group_col)
    return (
        df.filter(g.isin([group_a, group_b]))
        .filter(F.col(value_col).isNotNull())
        .groupBy(*keys, F.col(value_col).alias("_v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("_d1"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("_d2"),
        )
    )


def ks_2sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    keys: list[str] | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test, fully native.

    Returns one row per key group: ``n_a, n_b, d_stat`` (the supremum
    CDF gap) and the asymptotic two-sided ``p_value`` (Kolmogorov
    distribution with the Stephens small-sample adjustment
    ``lambda = (sqrt(en) + 0.12 + 0.11/sqrt(en)) * D``, en the
    effective sample size; series truncated at 100 terms, far past
    double underflow).

    Ties are handled exactly: the empirical CDFs step at each DISTINCT
    value by its full tie count, so ``D`` is evaluated only where the
    CDFs can differ.
    """
    keys = list(keys or [])
    counts = _counts_by_value(df, value_col, group_col, group_a, group_b, keys)
    part = keys if keys else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy("_v")
    tot = Window.partitionBy(*part)
    cdf = counts.select(
        *keys,
        (F.sum("_d1").over(w) / F.sum("_d1").over(tot)).alias("_f1"),
        (F.sum("_d2").over(w) / F.sum("_d2").over(tot)).alias("_f2"),
        F.sum("_d1").over(tot).alias("_n1"),
        F.sum("_d2").over(tot).alias("_n2"),
    )
    agg = cdf.groupBy(*keys).agg(
        F.max(F.abs(F.col("_f1") - F.col("_f2"))).alias("d_stat"),
        F.first("_n1").alias("n_a"),
        F.first("_n2").alias("n_b"),
    )
    n1 = F.col("n_a").cast("double")
    n2 = F.col("n_b").cast("double")
    en = F.sqrt(n1 * n2 / (n1 + n2))
    lam = (en + 0.12 + 0.11 / en) * F.col("d_stat")
    # p = 2 * sum_{j>=1} (-1)^(j-1) exp(-2 j^2 lam^2), clamped to [0, 1].
    # The alternating series converges within 100 terms only for
    # lam > ~0.2; below that the true survival probability is 1 to
    # <1e-12 (K(0.2) ~ 5e-13), so both engines short-circuit to 1.0
    # rather than evaluate a non-converged partial sum.
    term = F.aggregate(
        F.sequence(F.lit(1), F.lit(100)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.pow(F.lit(-1.0), (j - 1).cast("double"))
        * F.exp(-2.0 * j.cast("double") * j.cast("double") * lam * lam),
    )
    p = F.when(lam <= 0.2, F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), 2.0 * term))
    )
    return agg.select(
        *keys,
        F.col("n_a"),
        F.col("n_b"),
        F.col("d_stat"),
        p.alias("p_value"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    keys: list[str] | None = None,
    continuity: bool = True,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test, fully native.

    Midranks come from the distinct-value prefix sums: a value with
    ``c_before`` pooled observations below it and ``d_t`` ties gets
    midrank ``c_before + (d_t + 1)/2`` — exactly the sorted-sample
    average rank, with zero per-row ranking work. The normal
    approximation uses the standard tie-corrected variance
    ``n1*n2/12 * ((n+1) - sum(d_t^3 - d_t)/(n*(n-1)))`` and an
    optional 0.5 continuity correction (default on, matching common
    practice). Two-sided p via the same A&S normal CDF the oracles use.

    Output per key group: ``n_a, n_b, u_stat`` (U for ``group_a``),
    ``z_score``, ``p_value``.
    """
    keys = list(keys or [])
    counts = _counts_by_value(df, value_col, group_col, group_a, group_b, keys)
    part = keys if keys else [F.lit(1)]
    w_prev = (
        Window.partitionBy(*part)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dt = (F.col("_d1") + F.col("_d2")).cast("double")
    ranked = counts.select(
        *keys,
        F.col("_d1"),
        F.col("_d2"),
        dt.alias("_dt"),
        F.coalesce(F.sum(F.col("_d1") + F.col("_d2")).over(w_prev), F.lit(0)).alias(
            "_before"
        ),
    )
    midrank = F.col("_before").cast("double") + (F.col("_dt") + 1.0) / 2.0
    agg = ranked.groupBy(*keys).agg(
        F.sum("_d1").alias("n_a"),
        F.sum("_d2").alias("n_b"),
        F.sum(F.col("_d1").cast("double") * midrank).alias("_r1"),
        F.sum(F.col("_dt") * F.col("_dt") * F.col("_dt") - F.col("_dt")).alias("_ties"),
    )
    n1 = F.col("n_a").cast("double")
    n2 = F.col("n_b").cast("double")
    n = n1 + n2
    u1 = F.col("_r1") - n1 * (n1 + 1.0) / 2.0
    mu = n1 * n2 / 2.0
    var = n1 * n2 / 12.0 * ((n + 1.0) - F.col("_ties") / (n * (n - 1.0)))
    diff = u1 - mu
    if continuity:
        cc = (
            F.when(diff > 0, -0.5).when(diff < 0, F.lit(0.5)).otherwise(F.lit(0.0))
        )
        diff = diff + cc
    z = F.when(var > 0, diff / F.sqrt(var)).otherwise(F.lit(0.0))
    p = F.least(F.lit(1.0), 2.0 * _norm_sf_expr(F.abs(z)))
    return agg.select(
        *keys,
        F.col("n_a"),
        F.col("n_b"),
        u1.alias("u_stat"),
        z.alias("z_score"),
        p.alias("p_value"),
    )


def chi2_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
    *,
    dof: int | None = None,
) -> DataFrame:
    """Pearson chi-squared test of independence between two
    categorical columns (event type x weekday, source x language...).

    One row-count-proportional shuffle (the ``groupBy(a, b)`` count);
    everything after runs on the r x c contingency table, which is
    categorical-cardinality-sized. The full expected grid comes from
    crossing the row/column marginal tables (broadcast), so cells with
    ZERO observed count still contribute their expected mass — the
    classic groupBy-only mistake drops them and understates chi2.

    ``dof``: pass the known degrees of freedom ``(r-1)*(c-1)`` to get
    the exact finite-series p-value (``diagnostics.chi2_sf_sql``, the
    same engine-neutral string the Ljung-Box test uses). Without it the
    df is computed from the data at runtime and the p-value uses the
    Wilson-Hilferty cube-root normal approximation (documented ~1e-3
    absolute accuracy; identical expression on both engines, so
    cross-engine parity is still exact). A mismatch between a passed
    ``dof`` and the data's actual df raises at collect time via an
    assert column — silent wrong-df p-values are worse than a failure.

    Output (one row): ``n, dof, chi2, cramers_v, p_value``.
    """
    from temporal_retriever_spark.diagnostics import chi2_sf_sql

    a, b = F.col(a_col), F.col(b_col)
    obs = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_a"), b.alias("_b"))
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    ra = obs.groupBy("_a").agg(F.sum("_o").alias("_ra"))
    cb = obs.groupBy("_b").agg(F.sum("_o").alias("_cb"))
    tot = obs.agg(F.sum("_o").alias("_n"))
    cells = (
        ra.crossJoin(F.broadcast(cb))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(obs), ["_a", "_b"], "left")
    )
    e = (
        F.col("_ra").cast("double")
        * F.col("_cb").cast("double")
        / F.col("_n").cast("double")
    )
    o = F.coalesce(F.col("_o"), F.lit(0)).cast("double")
    agg = cells.agg(
        F.first("_n").alias("n"),
        (
            (F.count_distinct(F.col("_a")) - 1)
            * (F.count_distinct(F.col("_b")) - 1)
        ).cast("int").alias("dof"),
        F.sum((o - e) * (o - e) / e).alias("chi2"),
        F.least(
            F.count_distinct(F.col("_a")) - 1, F.count_distinct(F.col("_b")) - 1
        ).cast("double").alias("_mindim"),
    )
    # Cramer's V effect size: chi2 alone scales with n, V in [0, 1]
    # does not — the interpretable strength-of-association companion
    v = F.when(
        F.col("_mindim") > 0,
        F.sqrt(F.col("chi2") / (F.col("n").cast("double") * F.col("_mindim"))),
    ).otherwise(F.lit(0.0))
    if dof is not None:
        p = F.expr(chi2_sf_sql("chi2", int(dof)))
        guard = F.when(
            F.col("dof") == int(dof), p
        ).otherwise(F.assert_true(F.lit(False), F.lit("dof mismatch")).cast("double"))
        return agg.select(
            "n", "dof", "chi2", v.alias("cramers_v"), guard.alias("p_value")
        )
    # Wilson-Hilferty: chi2_sf(x, k) ~ P(Z > ((x/k)^(1/3) - 1 + 2/(9k)) / sqrt(2/(9k)))
    k = F.col("dof").cast("double")
    z = (
        F.pow(F.col("chi2") / k, 1.0 / 3.0) - (1.0 - 2.0 / (9.0 * k))
    ) / F.sqrt(2.0 / (9.0 * k))
    p = F.when(z >= 0, _norm_sf_expr(z)).otherwise(1.0 - _norm_sf_expr(-z))
    return agg.select(
        "n", "dof", "chi2", v.alias("cramers_v"), p.alias("p_value")
    )


def js_divergence(
    df: DataFrame,
    category_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    keys: list[str] | None = None,
) -> DataFrame:
    """Jensen-Shannon divergence between two categorical
    distributions — the standard bounded corpus-drift measure
    (token distribution of snapshot A vs snapshot B, domain mix of
    two sources). Base-2 logs, so the result lives in [0, 1].

    JSD = 0.5*KL(P||M) + 0.5*KL(Q||M), M = (P+Q)/2. Zero-probability
    categories on one side contribute only through the other side's
    term (0*log0 := 0), which the conditional sums encode exactly.

    Plan: one shuffle on (keys, category) for the conditional counts,
    then one aggregation of p*log2(2p/(p+q)) terms per key — the
    category table is vocabulary-sized, never row-count-sized.
    Output per key group: ``n_a, n_b, jsd_bits``.
    """
    keys = list(keys or [])
    counts = _counts_by_value(df, category_col, group_col, group_a, group_b, keys)
    tot = Window.partitionBy(*(keys if keys else [F.lit(1)]))
    withp = counts.select(
        *keys,
        F.col("_d1"),
        F.col("_d2"),
        (F.col("_d1").cast("double") / F.sum("_d1").over(tot).cast("double")).alias(
            "_p"
        ),
        (F.col("_d2").cast("double") / F.sum("_d2").over(tot).cast("double")).alias(
            "_q"
        ),
        F.sum("_d1").over(tot).alias("_n1"),
        F.sum("_d2").over(tot).alias("_n2"),
    )
    ln2 = 0.6931471805599453
    p_, q_ = F.col("_p"), F.col("_q")
    term = (
        F.when(p_ > 0, p_ * F.log(2.0 * p_ / (p_ + q_)) / ln2).otherwise(0.0)
        + F.when(q_ > 0, q_ * F.log(2.0 * q_ / (p_ + q_)) / ln2).otherwise(0.0)
    )
    return withp.groupBy(*keys).agg(
        F.first("_n1").alias("n_a"),
        F.first("_n2").alias("n_b"),
        (0.5 * F.sum(term)).alias("jsd_bits"),
    )


def prop_ztest(
    df: DataFrame,
    success_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    keys: list[str] | None = None,
) -> DataFrame:
    """Two-proportion z-test — the conversion-rate A/B comparison.

    ``success_col`` is boolean or 0/1. Pooled-variance z under H0
    (p1 == p2): z = (p1 - p2) / sqrt(pp*(1-pp)*(1/n1 + 1/n2)),
    two-sided p via the shared A&S 26.2.17 normal CDF. ONE aggregation
    over the raw rows — four conditional sums per key — so the plan is
    a single map-side-combined shuffle of scalar partials regardless
    of row count.

    Output per key group: ``n_a, x_a, n_b, x_b, p_a, p_b, z_score,
    p_value`` (z and p are 0/1 when a variance degenerates).
    """
    keys = list(keys or [])
    g = F.col(group_col)
    s = F.col(success_col).cast("int")
    agg = (
        df.filter(g.isin([group_a, group_b]) & F.col(success_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(g == group_a, s).otherwise(0)).alias("x_a"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("n_b"),
            F.sum(F.when(g == group_b, s).otherwise(0)).alias("x_b"),
        )
    )
    n1 = F.col("n_a").cast("double")
    n2 = F.col("n_b").cast("double")
    p1 = F.col("x_a").cast("double") / n1
    p2 = F.col("x_b").cast("double") / n2
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (n1 + n2)
    var = pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2)
    z = F.when(var > 0, (p1 - p2) / F.sqrt(var)).otherwise(F.lit(0.0))
    p = F.least(F.lit(1.0), 2.0 * _norm_sf_expr(F.abs(z)))
    return agg.select(
        *keys,
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        p1.alias("p_a"),
        p2.alias("p_b"),
        z.alias("z_score"),
        p.alias("p_value"),
    )


def psi(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Population stability index over fixed-width bins — the
    model-monitoring drift score for a CONTINUOUS metric (JSD covers
    the categorical case). PSI = sum (p_a - p_b) * ln(p_a / p_b) with
    the conventional thresholds (<0.1 stable, 0.1-0.25 shifting,
    >0.25 drifted).

    Fixed-width bins over ``[lo, hi]`` (pass them for a stable
    monitoring grid; omitted, they come from the pooled min/max in one
    scalar aggregation broadcast back — deterministic, unlike
    quantile-sketch edges, so the DuckDB oracle reproduces the exact
    binning). Values at/beyond the edges clamp into the boundary bins.
    Zero-count bins use add-half smoothing p = (c + 0.5)/(n + bins/2)
    — keeps the log finite, identical in both engines.

    Plan: (optional) one min/max aggregation, then ONE shuffle of
    (keys, bin) count partials; everything downstream is bins-sized.
    Output per key group: ``n_a, n_b, psi``.
    """
    keys = list(keys or [])
    g = F.col(group_col)
    base = df.filter(
        g.isin([group_a, group_b]) & F.col(value_col).isNotNull()
    )
    v = F.col(value_col).cast("double")
    if lo is None or hi is None:
        rng = base.agg(
            F.min(v).cast("double").alias("_lo"), F.max(v).cast("double").alias("_hi")
        )
        base = base.crossJoin(F.broadcast(rng))
        lo_c, hi_c = F.col("_lo"), F.col("_hi")
    else:
        lo_c, hi_c = F.lit(float(lo)), F.lit(float(hi))
    width = (hi_c - lo_c) / float(bins)
    b = F.when(width > 0,
        F.greatest(
            F.lit(0),
            F.least(F.lit(int(bins) - 1), F.floor((v - lo_c) / width).cast("int")),
        ),
    ).otherwise(F.lit(0))
    counts = base.groupBy(*keys, b.alias("_bin")).agg(
        F.sum(F.when(g == group_a, 1).otherwise(0)).alias("_c1"),
        F.sum(F.when(g == group_b, 1).otherwise(0)).alias("_c2"),
    )
    tot = Window.partitionBy(*(keys if keys else [F.lit(1)]))
    withp = counts.select(
        *keys,
        F.sum("_c1").over(tot).alias("_n1"),
        F.sum("_c2").over(tot).alias("_n2"),
        (
            (F.col("_c1").cast("double") + 0.5)
            / (F.sum("_c1").over(tot).cast("double") + float(bins) / 2.0)
        ).alias("_pa"),
        (
            (F.col("_c2").cast("double") + 0.5)
            / (F.sum("_c2").over(tot).cast("double") + float(bins) / 2.0)
        ).alias("_pb"),
    )
    term = (F.col("_pa") - F.col("_pb")) * F.log(F.col("_pa") / F.col("_pb"))
    agg = withp.groupBy(*keys).agg(
        F.first("_n1").alias("n_a"),
        F.first("_n2").alias("n_b"),
        F.sum(term).alias("_psi_obs"),
        F.count(F.lit(1)).alias("_nbins_obs"),
    )
    # bins with zero counts on BOTH sides never materialize, but their
    # smoothed term is nonzero whenever n_a != n_b; it is the SAME
    # closed-form value for every empty bin, so add it analytically
    # instead of materializing a grid
    pa0 = 0.5 / (F.col("n_a").cast("double") + float(bins) / 2.0)
    pb0 = 0.5 / (F.col("n_b").cast("double") + float(bins) / 2.0)
    empty_term = (pa0 - pb0) * F.log(pa0 / pb0)
    return agg.select(
        *keys,
        "n_a",
        "n_b",
        (
            F.col("_psi_obs")
            + (float(bins) - F.col("_nbins_obs").cast("double")) * empty_term
        ).alias("psi"),
    )


def fdr_bh(
    df: DataFrame,
    p_col: str = "p_value",
    *,
    keys: list[str] | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate adjustment.

    The keyed tests above produce one p-value per key; running many of
    them inflates false positives, and BH is the standard correction:
    sort the m p-values ascending, p_adj(i) = min_{j>=i} (m/j)*p(j),
    clamped to 1. The suffix minimum is a reverse running min — one
    ordered window over the TEST-RESULT table (m rows, never data
    rows), so cost is nil at any corpus scale.

    ``keys`` group independent test families (each adjusted over its
    own m); ``tiebreak`` columns make the within-ties ordering
    deterministic for engine-mirroring (the adjusted values themselves
    are tie-stable — tied p-values share one suffix minimum — but a
    deterministic order keeps intermediate ranks reproducible).

    Output: the input columns plus ``p_adj``.
    """
    keys = list(keys or [])
    order = [F.col(p_col).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
    part = keys if keys else [F.lit(1)]
    w_ord = Window.partitionBy(*part).orderBy(*order)
    w_tot = Window.partitionBy(*part)
    # suffix-min via the REVERSED growing frame: a frame ending at
    # unboundedFollowing is rescanned per row by Spark (O(m^2) per
    # partition). RANGE (not ROWS) over desc(p) makes every p-tie a
    # frame peer, which is exactly the tie-stability the asc suffix
    # had (tied p's share the block's rank-maximal minimum).
    w_suffix = Window.partitionBy(*part).orderBy(F.desc(p_col)).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    val = (
        F.col(p_col)
        * F.count(F.lit(1)).over(w_tot).cast("double")
        / F.row_number().over(w_ord).cast("double")
    )
    return df.withColumn(
        "p_adj", F.least(F.lit(1.0), F.min(val).over(w_suffix))
    )


def welch_ttest(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    keys: list[str] | None = None,
) -> DataFrame:
    """Welch's unequal-variance t-test — ONE aggregation, any scale.

    The entire test is six conditional moments (n, mean, sample var
    per population) from a single ``groupBy(keys)`` pass, so the plan
    is one map-side-combined shuffle regardless of input size — the
    cheapest of the two-sample tests here, and the right first check
    for "did the metric mean move between snapshots".

    Degrees of freedom via Welch-Satterthwaite; the two-sided
    ``p_value`` uses the standard normal in place of Student-t — the
    asymptotic form, indistinguishable for the df this engine runs at
    scale (t_60 already matches N(0,1) to <0.006 in tail mass) and
    shared by the oracle mirror. For tiny fixtures read ``t_stat`` /
    ``df_welch`` directly.

    Output per key: ``n_a, n_b, mean_a, mean_b, t_stat, df_welch,
    p_value`` (p NULL when either side has n < 2 or both variances
    are zero — the test is undefined, not "significant").
    """
    keys = list(keys or [])
    v = F.col(value_col).cast("double")
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    agg = df.filter(in_a | in_b).groupBy(*keys).agg(
        F.count(F.when(in_a, v)).alias("n_a"),
        F.count(F.when(in_b, v)).alias("n_b"),
        F.avg(F.when(in_a, v)).alias("mean_a"),
        F.avg(F.when(in_b, v)).alias("mean_b"),
        F.var_samp(F.when(in_a, v)).alias("_va"),
        F.var_samp(F.when(in_b, v)).alias("_vb"),
    )
    n1 = F.col("n_a").cast("double")
    n2 = F.col("n_b").cast("double")
    se2 = F.col("_va") / n1 + F.col("_vb") / n2
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)
    dfw = (se2 * se2) / (
        (F.col("_va") / n1) * (F.col("_va") / n1) / (n1 - 1.0)
        + (F.col("_vb") / n2) * (F.col("_vb") / n2) / (n2 - 1.0)
    )
    ok = (n1 >= 2) & (n2 >= 2) & (se2 > 0)
    p = F.when(ok, F.least(F.lit(1.0), 2.0 * _norm_sf_expr(F.abs(t))))
    return agg.select(
        *keys,
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        F.when(ok, t).alias("t_stat"),
        F.when(ok, dfw).alias("df_welch"),
        p.alias("p_value"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    keys: list[str] | None = None,
    groups: int | None = None,
) -> DataFrame:
    """Kruskal-Wallis H test (one-way ANOVA on ranks), fully native.

    The k-group generalization of `mann_whitney_u`, on the same
    distinct-value midrank machinery: ``groupBy(value, group)``
    collapses to per-distinct-value per-group counts, one ordered
    window over the distinct values yields midranks, and the tie sum
    folds through the exploded rows as ``c * (d_t^2 - 1)`` (summing
    to the classic ``sum(d^3 - d)`` without a second pass). Every
    stage after the first shuffle is value-domain-sized.

    H is tie-corrected: ``H / (1 - sum(d^3 - d)/(n^3 - n))``. The
    p-value is chi-squared with ``k - 1`` dof — the exact finite
    series when ``groups`` (the known group count) is passed at build
    time, else the Wilson-Hilferty cube-root normal approximation
    (same convention as `chi2_independence`). NULL H when every
    pooled observation is tied (the statistic is undefined).

    Output per key: ``n, k_groups, h_stat, dof, p_value``.
    """
    keys = list(keys or [])
    v = F.col(value_col)
    cnts = df.filter(v.isNotNull()).groupBy(
        *keys, v.alias("_v"), F.col(group_col).alias("_g")
    ).agg(
        F.count("*").alias("_c")
    )
    perv = cnts.groupBy(*keys, "_v").agg(
        F.sum("_c").alias("_dt"),
        F.collect_list(F.struct(F.col("_g"), F.col("_c"))).alias("_entries"),
    )
    part = keys if keys else [F.lit(1)]
    w_prev = (
        Window.partitionBy(*part)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = perv.select(
        *keys,
        F.col("_dt").cast("double").alias("_dt"),
        F.col("_entries"),
        F.coalesce(F.sum("_dt").over(w_prev), F.lit(0)).cast("double").alias(
            "_before"
        ),
    )
    midrank = F.col("_before") + (F.col("_dt") + 1.0) / 2.0
    exploded = ranked.select(
        *keys,
        F.col("_dt"),
        midrank.alias("_mid"),
        F.explode("_entries").alias("_e"),
    ).select(
        *keys,
        F.col("_dt"),
        F.col("_mid"),
        F.col("_e._g").alias("_g"),
        F.col("_e._c").cast("double").alias("_c"),
    )
    per_g = exploded.groupBy(*keys, "_g").agg(
        F.sum("_c").alias("_ng"),
        F.sum(F.col("_c") * F.col("_mid")).alias("_rg"),
        F.sum(F.col("_c") * (F.col("_dt") * F.col("_dt") - 1.0)).alias("_tg"),
    )
    agg = per_g.groupBy(*keys).agg(
        F.sum("_ng").cast("long").alias("n"),
        F.count("*").cast("int").alias("k_groups"),
        F.sum(F.col("_rg") * F.col("_rg") / F.col("_ng")).alias("_s"),
        F.sum("_tg").alias("_ties"),
    )
    n = F.col("n").cast("double")
    h_raw = 12.0 / (n * (n + 1.0)) * F.col("_s") - 3.0 * (n + 1.0)
    corr = 1.0 - F.col("_ties") / (n * n * n - n)
    h = F.when(corr > 0, h_raw / corr)  # all-tied pool -> NULL
    dof = (F.col("k_groups") - 1).cast("int")
    out = agg.select(*keys, "n", "k_groups", h.alias("h_stat"), dof.alias("dof"))
    if groups is not None:
        from temporal_retriever_spark.diagnostics import chi2_sf_sql

        p = F.when(
            F.col("dof") == int(groups) - 1,
            F.expr(chi2_sf_sql("h_stat", int(groups) - 1)),
        ).otherwise(
            F.assert_true(F.lit(False), F.lit("group count mismatch")).cast(
                "double"
            )
        )
    else:
        k = F.col("dof").cast("double")
        z = (
            F.pow(F.col("h_stat") / k, 1.0 / 3.0) - (1.0 - 2.0 / (9.0 * k))
        ) / F.sqrt(2.0 / (9.0 * k))
        p = F.when(z >= 0, _norm_sf_expr(z)).otherwise(
            1.0 - _norm_sf_expr(-z)
        )
    return out.withColumn(
        "p_value", F.when(F.col("h_stat").isNotNull(), p)
    )


def anova_oneway(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    keys: list[str] | None = None,
    groups: int | None = None,
) -> DataFrame:
    """One-way ANOVA F-test — the parametric sibling of
    `kruskal_wallis`, TWO map-side-combined aggregations at any scale.

    Stage 1 collapses to per-(key, group) moments (n, Σy, Σy²) — one
    shuffle sized by key×group cardinality; stage 2 reduces the
    between/within sums of squares per key:

        SSB = Σ_g (Σy_g)²/n_g − G²/N        SSW = Σ_g Σy²_g − Σ_g (Σy_g)²/n_g
        F   = (SSB/(k−1)) / (SSW/(N−k))

    ``eta_sq = SSB/(SSB+SSW)`` is the effect size (share of variance
    explained by the grouping). The F(k−1, N−k) p-value
    (`diagnostics.f_sf_expr`) takes the numerator dof as a literal:
    pass ``groups`` (the known group count, asserted against the data
    like `kruskal_wallis`) to get it;
    without ``groups`` the p_value column is NULL and callers read
    ``f_stat``/dofs directly. F is NULL when k < 2, N ≤ k, or SSW = 0
    (the statistic is undefined, not "significant").

    Output per key: ``n, k_groups, f_stat, df_num, df_den, eta_sq,
    p_value``.
    """
    keys = list(keys or [])
    v = F.col(value_col).cast("double")
    per_g = (
        df.filter(v.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(*keys, F.col(group_col).alias("_g"))
        .agg(
            F.count("*").cast("double").alias("_ng"),
            F.sum(v).alias("_sg"),
            F.sum(v * v).alias("_qg"),
        )
    )
    agg = per_g.groupBy(*keys).agg(
        F.sum("_ng").cast("long").alias("n"),
        F.count("*").cast("int").alias("k_groups"),
        F.sum("_sg").alias("_s"),
        F.sum("_qg").alias("_q"),
        F.sum(F.col("_sg") * F.col("_sg") / F.col("_ng")).alias("_b"),
    )
    n = F.col("n").cast("double")
    k = F.col("k_groups").cast("double")
    ssb = F.col("_b") - F.col("_s") * F.col("_s") / n
    ssw = F.col("_q") - F.col("_b")
    ok = (k >= 2) & (n > k) & (ssw > 0)
    f_stat = F.when(ok, (ssb / (k - 1.0)) / (ssw / (n - k)))
    eta = F.when(ok, ssb / (ssb + ssw))
    out = agg.select(
        *keys,
        "n",
        "k_groups",
        f_stat.alias("f_stat"),
        (F.col("k_groups") - 1).cast("int").alias("df_num"),
        (F.col("n") - F.col("k_groups")).cast("long").alias("df_den"),
        eta.alias("eta_sq"),
    )
    if groups is not None:
        from temporal_retriever_spark.diagnostics import f_sf_expr

        p = F.when(
            F.col("df_num") == int(groups) - 1,
            F.expr(f_sf_expr("f_stat", str(int(groups) - 1), "df_den")),
        ).otherwise(
            F.assert_true(F.lit(False), F.lit("group count mismatch")).cast(
                "double"
            )
        )
    else:
        p = F.lit(None).cast("double")
    return out.withColumn(
        "p_value", F.when(F.col("f_stat").isNotNull(), p)
    )


def ratio_ttest(
    df: DataFrame,
    num_col: str,
    den_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    keys: list[str] | None = None,
) -> DataFrame:
    """Two-sample test on a RATIO metric (CTR = Σclicks/Σviews,
    revenue-per-session, …) with the delta-method variance — the
    experimentation-platform staple (Deng-Knoblich-Lu 2018): a ratio
    of sums is NOT a mean of per-unit ratios, so Welch on
    ``num/den`` is wrong twice (undefined for zero-denominator
    units, and it weights units equally instead of by exposure).

    Per variant, with per-unit moments over n randomization units:

        R = Σnum / Σden
        Var(R) ≈ (s²_num − 2R·s_num,den + R²·s²_den) / (n·mean(den)²)

    z = (R_a − R_b)/√(Va+Vb), two-sided normal p (the same
    asymptotic convention as `welch_ttest`). ONE aggregation of six
    conditional moments per population — any scale.

    Output per key: ``n_a, n_b, ratio_a, ratio_b, diff, z_score,
    p_value`` (NULL when either side has n < 2 or zero denominator
    total or zero variance).
    """
    keys = list(keys or [])
    num = F.col(num_col).cast("double")
    den = F.col(den_col).cast("double")
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    ok_row = num.isNotNull() & den.isNotNull()

    def moments(side, tag):
        cond = side & ok_row
        return [
            F.count(F.when(cond, F.lit(1))).cast("double").alias(f"_n{tag}"),
            F.sum(F.when(cond, num)).alias(f"_sn{tag}"),
            F.sum(F.when(cond, den)).alias(f"_sd{tag}"),
            F.var_samp(F.when(cond, num)).alias(f"_vn{tag}"),
            F.var_samp(F.when(cond, den)).alias(f"_vd{tag}"),
            F.covar_samp(
                F.when(cond, num), F.when(cond, den)
            ).alias(f"_c{tag}"),
        ]

    agg = df.filter(in_a | in_b).groupBy(*keys).agg(
        *moments(in_a, "a"), *moments(in_b, "b")
    )

    def ratio(tag):
        return F.col(f"_sn{tag}") / F.col(f"_sd{tag}")

    def var(tag):
        r = ratio(tag)
        n = F.col(f"_n{tag}")
        dbar = F.col(f"_sd{tag}") / n
        return (
            F.col(f"_vn{tag}")
            - 2.0 * r * F.col(f"_c{tag}")
            + r * r * F.col(f"_vd{tag}")
        ) / (n * dbar * dbar)

    se2 = var("a") + var("b")
    z = (ratio("a") - ratio("b")) / F.sqrt(se2)
    ok = (
        (F.col("_na") >= 2)
        & (F.col("_nb") >= 2)
        & (F.col("_sda") != 0)
        & (F.col("_sdb") != 0)
        & (se2 > 0)
    )
    p = F.when(ok, F.least(F.lit(1.0), 2.0 * _norm_sf_expr(F.abs(z))))
    return agg.select(
        *keys,
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        ratio("a").alias("ratio_a"),
        ratio("b").alias("ratio_b"),
        (ratio("a") - ratio("b")).alias("diff"),
        F.when(ok, z).alias("z_score"),
        p.alias("p_value"),
    )


def _poisson1_thresholds(kmax: int = 10) -> list[float]:
    """CDF(k) of Poisson(1) for k = 0..kmax, as exact double literals.

    Both the Spark expression and the SQL oracle compare the SAME
    literal doubles against the md5-uniform, so the drawn weights are
    engine-identical by construction (no libm involved at runtime).
    """
    import math

    cdf, acc, fact = [], 0.0, 1.0
    e1 = math.exp(-1.0)
    for k in range(kmax + 1):
        if k > 0:
            fact *= k
        acc += e1 / fact
        cdf.append(acc)
    return cdf


def poisson_weight_expr(u: Column, *, kmax: int = 10) -> Column:
    """Poisson(1) draw from a uniform by inverse CDF, natively.

    ``w = #{k : u > CDF(k)}`` — a fixed chain of literal comparisons
    (truncated at ``kmax``; P(X > 10) ≈ 1e-8). Deterministic given
    ``u``, identical on any engine.
    """
    w = F.lit(0)
    for t in _poisson1_thresholds(kmax):
        w = w + F.when(u > t, 1).otherwise(0)
    return w


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    *,
    id_col: str,
    keys: list[str] | None = None,
    n_boot: int = 200,
    alpha: float = 0.05,
    salt: str = "boot",
) -> DataFrame:
    """Percentile bootstrap CI for the mean via the Poisson bootstrap.

    The multinomial bootstrap needs the full sample per replicate —
    impossible distributed. The Poisson bootstrap (Chamandy et al.
    2012, "Estimating Uncertainty for Massive Data Streams") replaces
    each row's resample count with an independent Poisson(1) weight,
    making every replicate a SINGLE PASS: explode each row into
    ``n_boot`` (replicate, weight) pairs, map-side partial-aggregate,
    and shuffle only ``keys × n_boot`` partial sums — at 100 TB the
    shuffle is replicate-table-sized, not data-sized.

    Weights are md5-deterministic (``salt:id:replicate``), so the CI
    is bit-reproducible across runs, engines, and partitionings.
    Output per key: ``n, est`` (full-sample mean), ``ci_lo, ci_hi``
    (percentile bootstrap at ``alpha/2`` and ``1 - alpha/2``),
    ``n_boot``. Replicates whose total weight is zero (only possible
    for tiny groups) drop out of the percentile.
    """
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if n_boot < 2:
        raise ValueError(f"n_boot must be >= 2, got {n_boot}")
    keys = list(keys or [])
    v = F.col(value_col).cast("double")
    rows = df.filter(v.isNotNull()).select(
        *keys,
        v.alias("_x"),
        F.col(id_col).cast("string").alias("_id"),
    )
    # the ×n_boot explode and the md5 weight draws below are per-row
    # compute: spread an under-partitioned scan before multiplying it
    # (weights are keyed on (salt, id, replicate), so the result is
    # partitioning-independent)
    rows = spread_scan(rows)
    exploded = rows.select(
        *keys,
        "_x",
        F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("_b"),
        "_id",
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.lit(salt), F.col("_id"), F.col("_b"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(float(1 << 32))
    w = poisson_weight_expr(u).cast("double")
    rep = exploded.groupBy(*keys, "_b").agg(
        F.sum(w * F.col("_x")).alias("_wx"),
        F.sum(w).alias("_w"),
    )
    rep_means = rep.filter(F.col("_w") > 0).select(
        *keys, (F.col("_wx") / F.col("_w")).alias("_m")
    )
    ci = rep_means.groupBy(*keys).agg(
        F.percentile("_m", F.lit(alpha / 2)).alias("ci_lo"),
        F.percentile("_m", F.lit(1 - alpha / 2)).alias("ci_hi"),
        F.count("*").cast("int").alias("n_boot"),
    )
    base = rows.groupBy(*keys).agg(
        F.count("*").alias("n"), F.avg("_x").alias("est")
    )
    if keys:
        out = base.join(ci, on=keys)
    else:
        out = base.crossJoin(ci)
    return out.select(*keys, "n", "est", "ci_lo", "ci_hi", "n_boot")


def cuped_adjust(
    df: DataFrame,
    y_col: str,
    x_col: str,
    *,
    keys: list[str] | None = None,
    out_col: str = "y_cv",
) -> DataFrame:
    """CUPED covariate adjustment (Deng et al. 2013, WSDM).

    ``y_cv = y − θ·(x − E[x])`` with ``θ = cov(x, y)/var(x)`` from the
    pooled sample (per key): the standard pre-experiment-covariate
    variance reduction, cutting metric variance by corr(x, y)² while
    leaving every group's expected mean intact (the adjustment is
    mean-zero by construction, so it cannot move a true effect).

    Two passes: ONE tiny aggregation for (θ, E[x]) per key, broadcast
    back, then the adjusted column — no data-sized shuffle beyond the
    θ aggregation itself. Rows with NULL x/y keep NULL ``out_col``.
    Zero-variance x yields θ = 0 (adjustment is a no-op, not a NaN).
    """
    keys = list(keys or [])
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    stats = df.groupBy(*keys).agg(
        F.covar_samp(x, y).alias("_cxy"),
        F.var_samp(x).alias("_vx"),
        F.avg(x).alias("_mx"),
    )
    theta = F.when(
        F.col("_vx") > 0, F.col("_cxy") / F.col("_vx")
    ).otherwise(F.lit(0.0))
    stats = stats.select(*keys, theta.alias("_theta"), "_mx")
    joined = (
        df.join(F.broadcast(stats), on=keys)
        if keys
        else df.crossJoin(F.broadcast(stats))
    )
    return joined.withColumn(
        out_col, y - F.col("_theta") * (x - F.col("_mx"))
    ).drop("_theta", "_mx")


def cuped_ttest(
    df: DataFrame,
    y_col: str,
    x_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    *,
    keys: list[str] | None = None,
) -> DataFrame:
    """Welch t-test on the CUPED-adjusted metric, plus the reduction.

    θ comes from the pooled (both-variant) sample — the unbiased
    choice; per-variant θ would leak the treatment effect into the
    adjustment. Output adds ``theta`` and ``var_reduction``
    (1 − var(y_cv)/var(y), pooled) to the `welch_ttest` columns, so
    the report shows how much the covariate actually bought.
    """
    keys = list(keys or [])
    sub = df.filter(F.col(group_col).isin([group_a, group_b]))
    adj = cuped_adjust(sub, y_col, x_col, keys=keys, out_col="_ycv")
    test = welch_ttest(adj, "_ycv", group_col, group_a, group_b, keys=keys)
    pooled = adj.groupBy(*keys).agg(
        F.var_samp(F.col(y_col).cast("double")).alias("_vy"),
        F.var_samp("_ycv").alias("_vycv"),
        F.covar_samp(
            F.col(x_col).cast("double"), F.col(y_col).cast("double")
        ).alias("_cxy"),
        F.var_samp(F.col(x_col).cast("double")).alias("_vx"),
    )
    theta = F.when(
        F.col("_vx") > 0, F.col("_cxy") / F.col("_vx")
    ).otherwise(F.lit(0.0))
    red = F.when(
        F.col("_vy") > 0, F.lit(1.0) - F.col("_vycv") / F.col("_vy")
    ).otherwise(F.lit(0.0))
    extra = pooled.select(*keys, theta.alias("theta"), red.alias("var_reduction"))
    out = (
        test.join(F.broadcast(extra), on=keys)
        if keys
        else test.crossJoin(F.broadcast(extra))
    )
    return out


def cohens_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
    *,
    keys: list[str] | None = None,
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement of two labelers.

    The label-QC staple (annotator vs annotator, model vs gold):
    ``kappa = (p_o − p_e) / (1 − p_e)`` with observed agreement p_o
    and chance agreement ``p_e = Σ_k (row_k/n)·(col_k/n)`` over ALL
    labels k — including labels one side never assigns to the same
    row (their marginal product still contributes, the classic
    diagonal-only mistake). ONE data-sized ``groupBy(a, b)`` count
    shuffle (label-cardinality-bounded, like `chi2_independence`);
    the marginal tables and their join are category-sized. Rows with
    a NULL on either side are excluded (no-label is not a label).

    Output per key: ``n, p_observed, p_expected, kappa`` (kappa NULL
    when p_e == 1 — both labelers constant — where the statistic is
    undefined).
    """
    keys = list(keys or [])
    a, b = F.col(a_col), F.col(b_col)
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(*keys, a.alias("_a"), b.alias("_b"))
        .agg(F.count("*").alias("_c"))
    )
    totals = cells.groupBy(*keys).agg(
        F.sum("_c").cast("long").alias("n"),
        F.sum(
            F.when(F.col("_a") == F.col("_b"), F.col("_c")).otherwise(0)
        ).cast("long").alias("_agree"),
    )
    row_m = cells.groupBy(*keys, F.col("_a").alias("_k")).agg(
        F.sum("_c").alias("_ra")
    )
    col_m = cells.groupBy(*keys, F.col("_b").alias("_k")).agg(
        F.sum("_c").alias("_cb")
    )
    pe_tab = row_m.join(col_m, on=[*keys, "_k"]).groupBy(*keys).agg(
        F.sum(F.col("_ra").cast("double") * F.col("_cb")).alias("_pe_num")
    )
    joined = (
        totals.join(pe_tab, on=keys, how="left")
        if keys
        else totals.crossJoin(pe_tab)
    )
    n = F.col("n").cast("double")
    po = F.col("_agree") / n
    pe = F.coalesce(F.col("_pe_num"), F.lit(0.0)) / (n * n)
    kappa = F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe))
    return joined.select(
        *keys,
        "n",
        po.alias("p_observed"),
        pe.alias("p_expected"),
        kappa.alias("kappa"),
    )


def propensity_att(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    feature_cols: list[str],
    *,
    caliper: float | None = None,
    lr: float = 0.5,
    iterations: int = 6,
) -> DataFrame:
    """Average treatment effect on the treated by propensity-score
    matching (Rosenbaum & Rubin 1983): fit P(treat | x) with the
    in-engine logistic trainer, then match every treated unit to its
    NEAREST control on the propensity score (1-NN with replacement)
    and average the outcome differences.

    Matching is sort-based, not a quadratic join: one global window
    ordered by (score, treat, id-order) carries the last-preceding
    and first-following CONTROL (score, outcome) past every treated
    row — two `last_value(ignorenulls)` frames — and the closer side
    wins (ties → the preceding control; all tie rules deterministic,
    replayed verbatim by the oracle). ``caliper`` drops matches with
    |Δscore| above it. The propensity fit is the
    ``llm.classify.logreg_train`` contract (one aggregation per
    fixed GD round).

    Output: one row — n_treated, n_matched, att (matched mean
    difference), naive_diff (the unadjusted group difference, for
    contrast). At 100 TB the sort is one range exchange; the window
    is the same single-ordering caveat as keyless as-of (partition by
    strata upstream to parallelize).
    """
    from temporal_retriever_spark.llm.classify import (
        logreg_score,
        logreg_train,
    )

    if caliper is not None and caliper <= 0:
        raise ValueError(f"caliper must be > 0, got {caliper}")
    base = df.select(
        F.col(treat_col).cast("int").alias("_tr"),
        F.col(outcome_col).cast("double").alias("_y"),
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
    )
    w = logreg_train(
        base, feature_cols, "_tr", lr=lr, iterations=iterations
    )
    scored = logreg_score(base, w, feature_cols, prob_col="_ps").select(
        "_tr", "_y", "_ps"
    )
    # order by (score, treat) so equal-score controls sort BEFORE the
    # treated rows they serve — "preceding control" then includes
    # exact-score ties, mirroring the SQL frame exactly
    ws = Window.orderBy("_ps", "_tr", "_y").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # first-following == last-preceding under the REVERSED total order.
    # Never frame to unboundedFollowing: Spark evaluates shrinking
    # frames by rescanning the remainder per row — O(n^2) per
    # partition (measured: 24s vs 0.4s at 40k rows; hours at 1M).
    # Rows tied on all three sort keys are interchangeable (the
    # carried values ARE the keys), so reversing is value-exact.
    wf = Window.orderBy(
        F.desc("_ps"), F.desc("_tr"), F.desc("_y")
    ).rowsBetween(Window.unboundedPreceding, -1)
    cs = F.when(F.col("_tr") == 0, F.col("_ps"))
    cy = F.when(F.col("_tr") == 0, F.col("_y"))
    m = scored.withColumn(
        "_ps_prev", F.last(cs, ignorenulls=True).over(ws)
    ).withColumn(
        "_y_prev", F.last(cy, ignorenulls=True).over(ws)
    ).withColumn(
        "_ps_next", F.last(cs, ignorenulls=True).over(wf)
    ).withColumn(
        "_y_next", F.last(cy, ignorenulls=True).over(wf)
    )
    d_prev = F.abs(F.col("_ps") - F.col("_ps_prev"))
    d_next = F.abs(F.col("_ps_next") - F.col("_ps"))
    use_prev = F.col("_ps_prev").isNotNull() & (
        F.col("_ps_next").isNull() | (d_prev <= d_next)
    )
    matched_y = F.when(use_prev, F.col("_y_prev")).otherwise(
        F.col("_y_next")
    )
    matched_d = F.when(use_prev, d_prev).otherwise(d_next)
    t = m.filter(F.col("_tr") == 1).select(
        "_y", matched_y.alias("_my"), matched_d.alias("_md")
    )
    if caliper is not None:
        ok = F.col("_my").isNotNull() & (F.col("_md") <= F.lit(caliper))
    else:
        ok = F.col("_my").isNotNull()
    naive = scored.groupBy().agg(
        F.avg(F.when(F.col("_tr") == 1, F.col("_y"))).alias("_mt"),
        F.avg(F.when(F.col("_tr") == 0, F.col("_y"))).alias("_mc"),
    )
    return (
        t.groupBy()
        .agg(
            F.count("*").cast("long").alias("n_treated"),
            F.count(F.when(ok, F.lit(1))).cast("long").alias("n_matched"),
            F.avg(F.when(ok, F.col("_y") - F.col("_my"))).alias("att"),
        )
        .crossJoin(naive)
        .select(
            "n_treated",
            "n_matched",
            "att",
            (F.col("_mt") - F.col("_mc")).alias("naive_diff"),
        )
    )


def diff_in_diff(
    df: DataFrame,
    *,
    group_col: str,
    period_col: str,
    outcome_col: str,
) -> DataFrame:
    """Two-group × two-period difference-in-differences: the
    parallel-trends causal workhorse. ``group_col``/``period_col``
    are 0/1 indicators (control/treated, pre/post);

    DiD = (ȳ₁₁ − ȳ₁₀) − (ȳ₀₁ − ȳ₀₀),

    with the delta-method standard error Σ s²gp/ngp over the four
    independent cells, a normal z, and the same A&S closed-form
    p-value every other test in this module shares with its oracle.
    ONE aggregation (eight conditional moments), then scalar
    projections — the plan is a single map-side-combined
    HashAggregate at any scale.
    """
    g = F.col(group_col).cast("int")
    p = F.col(period_col).cast("int")
    y = F.col(outcome_col).cast("double")
    aggs = []
    for gv in (0, 1):
        for pv in (0, 1):
            cell = (g == gv) & (p == pv)
            aggs.append(
                F.count(F.when(cell, 1)).cast("double").alias(f"n{gv}{pv}")
            )
            aggs.append(F.avg(F.when(cell, y)).alias(f"m{gv}{pv}"))
            aggs.append(
                F.var_samp(F.when(cell, y)).alias(f"v{gv}{pv}")
            )
    out = df.agg(*aggs)
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    var = (
        F.col("v00") / F.col("n00")
        + F.col("v01") / F.col("n01")
        + F.col("v10") / F.col("n10")
        + F.col("v11") / F.col("n11")
    )
    se = F.sqrt(var)
    z = F.abs(did / se)
    return out.select(
        (F.col("n00") + F.col("n01") + F.col("n10") + F.col("n11"))
        .cast("long")
        .alias("n"),
        "m00",
        "m01",
        "m10",
        "m11",
        did.alias("did"),
        se.alias("se"),
        (did / se).alias("z"),
        (F.lit(2.0) * _norm_sf_expr(z)).alias("p_value"),
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    col_a: str,
    col_b: str,
    *,
    keys: list[str] | None = None,
    continuity: bool = True,
) -> DataFrame:
    """Wilcoxon signed-rank test — the PAIRED member of the
    nonparametric family (`mann_whitney_u` is its unpaired sibling):
    did the metric move between two measurements of the SAME unit
    (before/after, variant-on/variant-off), without assuming
    normality of the differences?

    Standard treatment: zero differences are dropped (Wilcoxon's
    convention), |d| midranks come from the distinct-value prefix-sum
    machinery (one shuffle keyed on |d|, everything after is
    value-domain-sized), W⁺ = Σ ranks of positive differences, and
    the tie-corrected normal approximation

        μ = n(n+1)/4      σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48

    with the optional 0.5 continuity correction gives the two-sided
    p (the same A&S closed form as the rest of the family). NULL
    below n = 2 or zero variance.

    Output per key: ``n, w_stat, z_score, p_value``.
    """
    keys = list(keys or [])
    d = (F.col(col_a).cast("double") - F.col(col_b).cast("double")).alias("_d")
    base = (
        df.select(*keys, d)
        .filter(F.col("_d").isNotNull() & (F.col("_d") != 0))
        .select(
            *keys,
            F.abs(F.col("_d")).alias("_ad"),
            (F.col("_d") > 0).cast("double").alias("_pos"),
        )
    )
    cnts = base.groupBy(*keys, "_ad").agg(
        F.count("*").cast("double").alias("_dt"),
        F.sum("_pos").alias("_np"),
    )
    part = keys if keys else [F.lit(1)]
    w_prev = (
        Window.partitionBy(*part)
        .orderBy("_ad")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = cnts.withColumn(
        "_before", F.coalesce(F.sum("_dt").over(w_prev), F.lit(0.0))
    ).withColumn("_mid", F.col("_before") + (F.col("_dt") + 1.0) / 2.0)
    agg = ranked.groupBy(*keys).agg(
        F.sum("_dt").alias("_n"),
        F.sum(F.col("_np") * F.col("_mid")).alias("w_stat"),
        F.sum(
            F.col("_dt") * F.col("_dt") * F.col("_dt") - F.col("_dt")
        ).alias("_ties"),
    )
    n = F.col("_n")
    mean = n * (n + 1.0) / 4.0
    var = n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 - F.col("_ties") / 48.0
    diff = F.col("w_stat") - mean
    cc = (
        F.when(diff > 0, -0.5).when(diff < 0, F.lit(0.5)).otherwise(F.lit(0.0))
        if continuity
        else F.lit(0.0)
    )
    ok = (n >= 2) & (var > 0)
    z = F.when(ok, (diff + cc) / F.sqrt(var))
    p = F.when(
        ok,
        F.least(F.lit(1.0), 2.0 * _norm_sf_expr(F.abs((diff + cc) / F.sqrt(var)))),
    )
    return agg.select(
        *keys,
        n.cast("long").alias("n"),
        F.col("w_stat"),
        z.alias("z_score"),
        p.alias("p_value"),
    )


def mantel_haenszel(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    strata_col: str,
    *,
    keys: list[str] | None = None,
    continuity: bool = True,
) -> DataFrame:
    """Mantel-Haenszel stratified 2×2 analysis — the confounder-safe
    effect estimate: pooling exposure×outcome tables ACROSS strata
    (weekday, country, cohort) dodges Simpson's paradox where the
    marginal odds ratio lies. Per stratum i with the classic cells
    (a=exposed-outcome, b=exposed-no, c=unexposed-outcome, d=neither):

        OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ)
        CMH   = (|Σaᵢ − ΣEᵢ| − ½)² / ΣVᵢ   ~  χ²(1)
        Eᵢ = r1ᵢ·c1ᵢ/nᵢ    Vᵢ = r1ᵢr2ᵢc1ᵢc2ᵢ / (nᵢ²(nᵢ−1))

    (continuity-corrected by default). Exposure/outcome are evaluated
    as booleans. Plan: ONE (key, stratum) aggregation of four
    conditional counts, then a key-sized reduction — strata never
    leave the aggregate. Exact dof-1 chi-square p via the
    engine-neutral string. NULL when every stratum is degenerate.

    Output per key: ``n, n_strata, or_mh, cmh_stat, p_value``.
    """
    keys = list(keys or [])
    ex = F.col(exposure_col).cast("boolean")
    oc = F.col(outcome_col).cast("boolean")
    base = df.filter(ex.isNotNull() & oc.isNotNull())
    per_s = base.groupBy(*keys, F.col(strata_col).alias("_s")).agg(
        F.count(F.when(ex & oc, 1)).cast("double").alias("_a"),
        F.count(F.when(ex & ~oc, 1)).cast("double").alias("_b"),
        F.count(F.when(~ex & oc, 1)).cast("double").alias("_c"),
        F.count(F.when(~ex & ~oc, 1)).cast("double").alias("_d"),
    )
    n_i = F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")
    r1 = F.col("_a") + F.col("_b")
    r2 = F.col("_c") + F.col("_d")
    c1 = F.col("_a") + F.col("_c")
    c2 = F.col("_b") + F.col("_d")
    e_i = r1 * c1 / n_i
    v_i = F.when(
        n_i > 1, r1 * r2 * c1 * c2 / (n_i * n_i * (n_i - 1.0))
    ).otherwise(F.lit(0.0))
    agg = per_s.groupBy(*keys).agg(
        F.sum(n_i).cast("long").alias("n"),
        F.count("*").cast("long").alias("n_strata"),
        F.sum(F.col("_a") * F.col("_d") / n_i).alias("_num"),
        F.sum(F.col("_b") * F.col("_c") / n_i).alias("_den"),
        F.sum(F.col("_a")).alias("_sa"),
        F.sum(e_i).alias("_se"),
        F.sum(v_i).alias("_sv"),
    )
    or_mh = F.when(F.col("_den") > 0, F.col("_num") / F.col("_den"))
    dev = F.abs(F.col("_sa") - F.col("_se")) - (
        F.lit(0.5) if continuity else F.lit(0.0)
    )
    dev = F.greatest(dev, F.lit(0.0))
    cmh = F.when(F.col("_sv") > 0, dev * dev / F.col("_sv"))
    from temporal_retriever_spark.diagnostics import chi2_sf_sql

    out = agg.select(
        *keys, "n", "n_strata", or_mh.alias("or_mh"), cmh.alias("cmh_stat")
    )
    return out.withColumn(
        "p_value",
        F.when(
            F.col("cmh_stat").isNotNull(),
            F.expr(chi2_sf_sql("cmh_stat", 1)),
        ),
    )


def mcnemar_test(
    df: DataFrame,
    col_a: str,
    col_b: str,
    *,
    keys: list[str] | None = None,
    continuity: bool = True,
) -> DataFrame:
    """McNemar's test — the PAIRED binary sibling of
    `wilcoxon_signed_rank`: did a binary property flip between two
    measurements of the same unit (model A right / model B wrong —
    THE test for comparing two classifiers on one eval set)? Only
    discordant pairs carry information:

        χ² = (|b − c| − 1)² / (b + c)        (dof 1, corrected)

    with b = A-only successes, c = B-only. ONE aggregation of two
    conditional counts; exact dof-1 chi-square p via the
    engine-neutral string. NULL when b + c = 0 (no discordance — the
    test is undefined, not "no effect").

    Output per key: ``n, b_only, c_only, chi2_stat, p_value``.
    """
    keys = list(keys or [])
    a = F.col(col_a).cast("boolean")
    b = F.col(col_b).cast("boolean")
    base = df.filter(a.isNotNull() & b.isNotNull())
    agg = base.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n"),
        F.count(F.when(a & ~b, 1)).cast("long").alias("b_only"),
        F.count(F.when(~a & b, 1)).cast("long").alias("c_only"),
    )
    bb = F.col("b_only").cast("double")
    cc = F.col("c_only").cast("double")
    dev = F.abs(bb - cc) - (F.lit(1.0) if continuity else F.lit(0.0))
    dev = F.greatest(dev, F.lit(0.0))
    chi2 = F.when(bb + cc > 0, dev * dev / (bb + cc))
    from temporal_retriever_spark.diagnostics import chi2_sf_sql

    out = agg.withColumn("chi2_stat", chi2)
    return out.withColumn(
        "p_value",
        F.when(
            F.col("chi2_stat").isNotNull(),
            F.expr(chi2_sf_sql("chi2_stat", 1)),
        ),
    )


def spearman_corr(
    df: DataFrame,
    col_x: str,
    col_y: str,
    *,
    keys: list[str] | None = None,
) -> DataFrame:
    """Spearman rank correlation — Pearson on midranks: the monotone-
    association measure that ignores the marginal distributions
    (`series_corr_matrix` is Pearson and a single outlier owns it).

    Midranks come from TWO distinct-value prefix-sum passes (one per
    column — the `mann_whitney_u` machinery, shuffles keyed on the
    value domain), joined back onto the rows; the correlation is then
    one moment aggregation. Tie-exact: midranks ARE the tie
    correction, so this matches scipy's tie-aware Spearman. The
    asymptotic p uses the t-approximation via the normal closed form
    on √(n−1)·ρ (Fisher) — the same A&S convention as the family.

    Output per key: ``n, rho, p_value`` (NULL below n = 3 or zero
    rank variance).
    """
    keys = list(keys or [])
    x = F.col(col_x).cast("double")
    y = F.col(col_y).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        *keys, x.alias("_x"), y.alias("_y")
    )

    def midranks(col: str, out: str) -> DataFrame:
        cnt = base.groupBy(*keys, F.col(col)).agg(
            F.count("*").cast("double").alias("_c")
        )
        part = keys if keys else [F.lit(1)]
        w = (
            Window.partitionBy(*part)
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return cnt.select(
            *keys,
            F.col(col),
            (
                F.coalesce(F.sum("_c").over(w), F.lit(0.0))
                + (F.col("_c") + 1.0) / 2.0
            ).alias(out),
        )
    rx = midranks("_x", "_rx")
    ry = midranks("_y", "_ry")
    j = base.join(rx, on=[*keys, "_x"]).join(ry, on=[*keys, "_y"])
    # explicit moments + try_divide: Spark 4's corr aggregate raises
    # DIVIDE_BY_ZERO under ANSI when either rank column is constant;
    # the contract here is NULL
    agg = j.groupBy(*keys).agg(
        F.count("*").cast("double").alias("_n"),
        F.sum("_rx").alias("_sx"),
        F.sum("_ry").alias("_sy"),
        F.sum(F.col("_rx") * F.col("_rx")).alias("_sxx"),
        F.sum(F.col("_ry") * F.col("_ry")).alias("_syy"),
        F.sum(F.col("_rx") * F.col("_ry")).alias("_sxy"),
    )
    _n = F.col("_n")
    cov = F.col("_sxy") - F.col("_sx") * F.col("_sy") / _n
    vx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / _n
    vy = F.col("_syy") - F.col("_sy") * F.col("_sy") / _n
    agg = agg.withColumn(
        "rho",
        F.try_divide(cov, F.sqrt(vx * vy)),
    )
    n = F.col("_n")
    z = F.sqrt(n - 1.0) * F.col("rho")
    ok = (n >= 3) & F.col("rho").isNotNull()
    p = F.when(ok, F.least(F.lit(1.0), 2.0 * _norm_sf_expr(F.abs(z))))
    return agg.select(
        *keys,
        n.cast("long").alias("n"),
        F.when(ok, F.col("rho")).alias("rho"),
        p.alias("p_value"),
    )


def kendall_tau(
    df: DataFrame,
    col_x: str,
    col_y: str,
    *,
    keys: list[str] | None = None,
) -> DataFrame:
    """Kendall's τ-b rank correlation — the concordance view of
    monotone association (`spearman_corr` is the midrank view; τ has
    the cleaner probabilistic reading P(concordant) − P(discordant)
    and degrades more gracefully under heavy ties):

        τ_b = (C − D) / √((n₀ − n₁)(n₀ − n₂))

    with C/D the concordant/discordant pair counts, n₀ = n(n−1)/2 and
    n₁/n₂ the tie-pair counts in x/y. Asymptotic two-sided p via
    z = 3τ√(n(n−1)) / √(2(2n+5)) (the no-tie variance — the standard
    first-order approximation; read τ_b itself under extreme ties).

    Pairwise self-join per key — O(n²) in the GROUP size, the same
    bounded-group contract as `diagnostics.trend_test`; the join is
    key-co-partitioned so nothing data-sized shuffles. Deterministic
    pair order via a row index. NULL below n = 2 or all-tied margins.

    Output per key: ``n, tau_b, p_value``.
    """
    keys = list(keys or [])
    x = F.col(col_x).cast("double")
    y = F.col(col_y).cast("double")
    part = keys if keys else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy("_x", "_y")
    base = (
        df.filter(x.isNotNull() & y.isNotNull())
        .select(*keys, x.alias("_x"), y.alias("_y"))
        .withColumn("_i", F.row_number().over(w))
    )
    l, r = base.alias("l"), base.alias("r")
    cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in keys]
    cond.append(F.col("l._i") < F.col("r._i"))
    pairs = l.join(r, on=cond)
    sx = F.signum(F.col("r._x") - F.col("l._x"))
    sy = F.signum(F.col("r._y") - F.col("l._y"))
    agg = pairs.groupBy(
        *[F.col(f"l.{c}").alias(c) for c in keys]
    ).agg(
        F.count("*").cast("double").alias("_n0"),
        F.sum(
            F.when(sx * sy > 0, 1.0).otherwise(0.0)
        ).alias("_c"),
        F.sum(
            F.when(sx * sy < 0, 1.0).otherwise(0.0)
        ).alias("_d"),
        F.sum(F.when(sx == 0, 1.0).otherwise(0.0)).alias("_tx"),
        F.sum(F.when(sy == 0, 1.0).otherwise(0.0)).alias("_ty"),
    )
    cnt = base.groupBy(*keys).agg(F.count("*").cast("double").alias("_n"))
    j = agg.join(cnt, on=keys) if keys else agg.crossJoin(F.broadcast(cnt))
    den = F.sqrt(
        (F.col("_n0") - F.col("_tx")) * (F.col("_n0") - F.col("_ty"))
    )
    tau = F.try_divide(F.col("_c") - F.col("_d"), den)
    n = F.col("_n")
    z = 3.0 * tau * F.sqrt(n * (n - 1.0)) / F.sqrt(2.0 * (2.0 * n + 5.0))
    ok = (n >= 2) & tau.isNotNull()
    p = F.when(ok, F.least(F.lit(1.0), 2.0 * _norm_sf_expr(F.abs(z))))
    return j.select(
        *keys,
        n.cast("long").alias("n"),
        F.when(ok, tau).alias("tau_b"),
        p.alias("p_value"),
    )


def woe_iv(
    df: DataFrame,
    category_col: str,
    target_col: str,
    *,
    keys: list[str] | None = None,
    smoothing: float = 0.5,
) -> DataFrame:
    """Weight of Evidence / Information Value of a categorical feature
    against a binary target — THE credit-scoring feature screen
    (Siddiqi 2006): WOE_c = ln(P(c|y=1)/P(c|y=0)) per category, and
    IV = Σ_c (P(c|1) − P(c|0))·WOE_c grades the whole feature
    (<0.02 useless, 0.1-0.3 medium, >0.5 suspicious).

    ``smoothing`` (default the classic half-count adjustment) is
    added to every events/non-events cell so empty cells get finite
    WOE instead of ±inf — the shares are computed against the
    smoothed totals, so they still sum to 1 per class.

    Output per (key, category): ``category, n, n_events, woe,
    iv_term, iv`` — ``iv`` is the feature-level total repeated on
    each of its category rows. One row-count-proportional aggregation
    (groupBy key+category), then category-cardinality-sized joins
    with broadcast per-key totals.
    """
    keys = list(keys or [])
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    t = F.col(target_col).cast("double")
    base = df.filter(t.isNotNull()).select(
        *keys,
        F.col(category_col).alias("category"),
        F.when(t != 0, 1.0).otherwise(0.0).alias("_t"),
    )
    cells = base.groupBy(*keys, "category").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_t").alias("_e"),
    )
    tot = cells.groupBy(*keys).agg(
        F.sum("_e").alias("_te"),
        F.sum(F.col("n") - F.col("_e")).alias("_tn"),
        F.count("*").cast("double").alias("_k"),
    )
    j = (
        cells.join(tot, keys)
        if keys
        else cells.crossJoin(F.broadcast(tot))
    )
    s = F.lit(float(smoothing))
    ge = (F.col("_e") + s) / (F.col("_te") + s * F.col("_k"))
    gn = (F.col("n") - F.col("_e") + s) / (F.col("_tn") + s * F.col("_k"))
    woe = F.log(ge / gn)
    term = (ge - gn) * woe
    withw = j.select(
        *keys,
        "category",
        "n",
        F.col("_e").cast("long").alias("n_events"),
        woe.alias("woe"),
        term.alias("iv_term"),
    )
    iv = withw.groupBy(*keys).agg(F.sum("iv_term").alias("iv"))
    return (
        withw.join(iv, keys)
        if keys
        else withw.crossJoin(F.broadcast(iv))
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    group_col: str,
    value_col: str,
    *,
    keys: list[str] | None = None,
    groups: int | None = None,
) -> DataFrame:
    """Friedman rank test for k related samples (Friedman 1937) — the
    repeated-measures sibling of `kruskal_wallis`: blocks (users,
    days) each rank the same k treatments, removing between-block
    level differences that would swamp a pooled rank test.

    Cells with multiple observations are averaged first (documented
    determinism choice); blocks missing any treatment are dropped
    (the test requires complete blocks). Ranks within a block are
    midranks. The tie-corrected statistic (Conover's form) is
    Q = n(k−1)(B − C)/(A − C) with A = Σr², B = ΣR_j²/n,
    C = nk(k+1)²/4; p is chi-squared with k−1 dof — exact finite
    series when ``groups`` is pinned at build time, else the
    Wilson-Hilferty approximation (`chi2_independence` convention).

    Scale: one (key, block, group) aggregation, one per-block rank
    window (k-sized partitions), one key reduction. Nothing is
    global; the block window is the only sort and it is k rows wide.

    Output per key: ``n_blocks, k_groups, q_stat, dof, p_value``.
    """
    from temporal_retriever_spark.diagnostics import chi2_sf_sql

    keys = list(keys or [])
    v = F.col(value_col)
    cell = df.filter(v.isNotNull()).groupBy(
        *keys, F.col(block_col).alias("_b"), F.col(group_col).alias("_g")
    ).agg(F.avg(v).alias("_v"))
    kobs = cell.groupBy(*keys).agg(
        F.countDistinct("_g").cast("double").alias("_k")
    )
    per_block = cell.groupBy(*keys, "_b").agg(
        F.count("*").cast("double").alias("_bk")
    )
    complete = (
        cell.join(per_block, [*keys, "_b"])
        .join(kobs, keys)
        if keys
        else cell.join(per_block, ["_b"]).crossJoin(F.broadcast(kobs))
    ).filter(F.col("_bk") == F.col("_k"))
    w_blk = Window.partitionBy(*keys, "_b")
    rnk = complete.select(
        *keys,
        "_b",
        "_g",
        "_k",
        # midrank within the block: (min rank of the tie group - 1)
        # + (ties + 1)/2; RANGE 0..0 counts the equal-value peers
        (
            F.rank().over(w_blk.orderBy("_v"))
            - 1.0
            + (
                F.count("*").over(
                    w_blk.orderBy("_v").rangeBetween(0, 0)
                )
                + 1.0
            )
            / 2.0
        ).alias("_r"),
    )
    per_group = rnk.groupBy(*keys, "_g").agg(
        F.sum("_r").alias("_rj"),
        F.sum(F.col("_r") * F.col("_r")).alias("_rsq"),
        F.count("*").cast("double").alias("_n"),
        F.max("_k").alias("_k"),
    )
    agg = per_group.groupBy(*keys).agg(
        F.max("_n").alias("_n"),
        F.max("_k").alias("_k"),
        F.sum(F.col("_rj") * F.col("_rj")).alias("_sumrj2"),
        F.sum("_rsq").alias("_a"),
    )
    n, k = F.col("_n"), F.col("_k")
    c = n * k * (k + 1) * (k + 1) / 4.0
    b = F.col("_sumrj2") / n
    q = F.when(
        (n >= 2) & (F.col("_a") - c > 0),
        n * (k - 1) * (b - c) / (F.col("_a") - c),
    )
    out = agg.select(
        *keys,
        n.cast("long").alias("n_blocks"),
        k.cast("long").alias("k_groups"),
        q.alias("q_stat"),
        (k - 1).cast("long").alias("dof"),
    )
    if groups is not None:
        p = F.when(
            F.col("q_stat").isNotNull(),
            F.expr(chi2_sf_sql("q_stat", groups - 1)),
        )
    else:
        # Wilson-Hilferty cube-root normal approximation
        d = (F.col("k_groups") - 1).cast("double")
        zz = (
            F.pow(F.col("q_stat") / d, F.lit(1.0 / 3.0))
            - (1.0 - 2.0 / (9.0 * d))
        ) / F.sqrt(2.0 / (9.0 * d))
        p = F.when(F.col("q_stat").isNotNull(), _norm_sf_expr(zz))
    return out.withColumn("p_value", p)


def fisher_exact(
    df: DataFrame,
    group_col: str,
    outcome_col: str,
    *,
    keys: list[str] | None = None,
    rel_eps: float = 1e-7,
) -> DataFrame:
    """Fisher's exact test on a 2×2 table — the small-cell replacement
    for `chi2_independence` / `prop_ztest` when expected counts are
    tiny and the chi-square approximation lies.

    ``group_col`` and ``outcome_col`` are boolean-ish (non-zero =
    true). Two-sided p sums the hypergeometric probabilities of every
    table (same margins) no more likely than the observed one, with
    R's relative tolerance (tables within ``1+rel_eps`` of the
    observed probability count as ties — the standard guard against
    float equality).

    Fully relational: log-factorials are ONE cumulative window over a
    0..n integer range (both engines sum the identical logs in the
    identical ascending order), the candidate tables are an exploded
    k-range joined (broadcast) against that table, and p is one
    conditional sum of exps. Scale: the k-range is ≤ min(row margin,
    column margin) rows per key — bounded by the rarer class, not the
    data.

    Output per key: ``n, a, b, c, d, odds_ratio, p_value`` (cells:
    a = group∧outcome, b = group∧¬outcome, c = ¬group∧outcome,
    d = rest; odds ratio NULL when any of b·c is zero).
    """
    keys = list(keys or [])
    g = F.col(group_col).cast("double")
    o = F.col(outcome_col).cast("double")
    base = df.filter(g.isNotNull() & o.isNotNull()).select(
        *keys,
        (g != 0).cast("int").alias("_g"),
        (o != 0).cast("int").alias("_o"),
    )
    cells = base.groupBy(*keys).agg(
        F.count("*").cast("long").alias("_n"),
        F.sum(F.col("_g") * F.col("_o")).cast("long").alias("_a"),
        F.sum(F.col("_g") * (1 - F.col("_o"))).cast("long").alias("_b"),
        F.sum((1 - F.col("_g")) * F.col("_o")).cast("long").alias("_c"),
        F.sum((1 - F.col("_g")) * (1 - F.col("_o"))).cast("long").alias("_d"),
    )
    # log-factorial table 0..max(n): lf(j) = sum_{i<=j} ln(i), lf(0)=0
    spark = df.sparkSession
    nmax = cells.agg(F.max("_n")).collect()[0][0] or 1
    rng = spark.range(0, int(nmax) + 1).select(F.col("id").alias("_j"))
    w_lf = Window.orderBy("_j").rowsBetween(Window.unboundedPreceding, 0)
    lf = rng.select(
        "_j",
        F.sum(
            F.when(F.col("_j") >= 1, F.log(F.col("_j").cast("double")))
            .otherwise(F.lit(0.0))
        ).over(w_lf).alias("_lf"),
    )

    def lfj(col: Column) -> Column:
        return F.element_at(F.col("_lfs"), col.cast("int") + 1)

    lfs = lf.agg(F.array_sort(F.collect_list(F.struct("_j", "_lf"))).alias("_s")) \
        .select(F.transform(F.col("_s"), lambda s: s["_lf"]).alias("_lfs"))
    withlf = cells.crossJoin(F.broadcast(lfs))
    r1 = F.col("_a") + F.col("_b")
    r2 = F.col("_c") + F.col("_d")
    c1 = F.col("_a") + F.col("_c")
    c2 = F.col("_b") + F.col("_d")
    nn = F.col("_n")

    def logp(kc: Column) -> Column:
        return (
            lfj(r1)
            + lfj(r2)
            + lfj(c1)
            + lfj(c2)
            - lfj(nn)
            - lfj(kc)
            - lfj(r1 - kc)
            - lfj(c1 - kc)
            - lfj(r2 - c1 + kc)
        )

    klo = F.greatest(F.lit(0).cast("long"), c1 - r2)
    khi = F.least(r1, c1)
    tables = withlf.select(
        *keys,
        "_n",
        "_a",
        "_b",
        "_c",
        "_d",
        "_lfs",
        logp(F.col("_a")).alias("_lp_obs"),
        F.explode(F.sequence(klo, khi)).alias("_k"),
    )
    eps = float(math.log1p(rel_eps))
    contrib = F.when(
        logp(F.col("_k")) <= F.col("_lp_obs") + F.lit(eps),
        F.exp(logp(F.col("_k"))),
    ).otherwise(F.lit(0.0))
    res = tables.groupBy(*keys, "_n", "_a", "_b", "_c", "_d").agg(
        F.least(F.sum(contrib), F.lit(1.0)).alias("p_value")
    )
    orat = F.when(
        (F.col("_b") > 0) & (F.col("_c") > 0),
        (F.col("_a").cast("double") * F.col("_d"))
        / (F.col("_b").cast("double") * F.col("_c")),
    )
    return res.select(
        *keys,
        F.col("_n").alias("n"),
        F.col("_a").alias("a"),
        F.col("_b").alias("b"),
        F.col("_c").alias("c"),
        F.col("_d").alias("d"),
        orat.alias("odds_ratio"),
        "p_value",
    )


def iv_2sls(
    df: DataFrame,
    y_col: str,
    x_col: str,
    z_col: str,
    *,
    keys: list[str] | None = None,
) -> DataFrame:
    """Instrumental-variables estimate (single endogenous regressor,
    single instrument — the just-identified Wald/2SLS case): when x is
    endogenous (reverse causation, confounding), OLS of y on x is
    biased; with an instrument z (relevant, exogenous), β_IV =
    cov(z,y)/cov(z,x) recovers the causal slope.

    Reported per key: ``n, beta, intercept, se, t_stat, p_value,
    first_stage_f`` — the homoskedastic 2SLS standard error
    (σ̂²·S_zz/S_zx², residual dof n−2) and the first-stage F
    (=(n−2)·r²_zx/(1−r²_zx)), the standard weak-instrument screen
    (rule of thumb: F < 10 means don't trust the estimate; reported,
    never silently ignored).

    ONE aggregation of 9 moments; everything after is key-sized
    arithmetic. NULL estimate when cov(z,x) is zero (irrelevant
    instrument) or n < 3.
    """
    keys = list(keys or [])
    y = F.col(y_col).cast("double")
    x = F.col(x_col).cast("double")
    z = F.col(z_col).cast("double")
    base = df.filter(
        y.isNotNull() & x.isNotNull() & z.isNotNull()
    ).select(*keys, y.alias("_y"), x.alias("_x"), z.alias("_z"))
    g = base.groupBy(*keys) if keys else base.groupBy()
    m = g.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_y").alias("_sy"),
        F.sum("_x").alias("_sx"),
        F.sum("_z").alias("_sz"),
        F.sum(F.col("_z") * F.col("_y")).alias("_szy"),
        F.sum(F.col("_z") * F.col("_x")).alias("_szx"),
        F.sum(F.col("_z") * F.col("_z")).alias("_szz"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    n = F.col("_n")
    szy = F.col("_szy") - F.col("_sz") * F.col("_sy") / n
    szx = F.col("_szx") - F.col("_sz") * F.col("_sx") / n
    szz = F.col("_szz") - F.col("_sz") * F.col("_sz") / n
    sxx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    syy = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
    sxy = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    ok = (n >= 3) & (F.abs(szx) > 0) & (szz > 0)
    beta = F.when(ok, szy / szx)
    alpha = (F.col("_sy") - beta * F.col("_sx")) / n
    # residual SS of y - alpha - beta*x expanded in moments
    rss = syy - 2 * beta * sxy + beta * beta * sxx
    sigma2 = F.when(rss > 0, rss / (n - 2)).otherwise(F.lit(0.0))
    var_beta = sigma2 * szz / (szx * szx)
    se = F.when(ok & (var_beta > 0), F.sqrt(var_beta))
    t = F.when(se.isNotNull(), beta / se)
    p = F.when(
        t.isNotNull(),
        F.least(F.lit(1.0), 2.0 * _norm_sf_expr(F.abs(t))),
    )
    r2zx = F.when((szz > 0) & (sxx > 0), szx * szx / (szz * sxx))
    fstat = F.when(
        r2zx.isNotNull() & (r2zx < 1.0), (n - 2) * r2zx / (1.0 - r2zx)
    )
    return m.select(
        *keys,
        n.cast("long").alias("n"),
        beta.alias("beta"),
        F.when(ok, alpha).alias("intercept"),
        se.alias("se"),
        t.alias("t_stat"),
        p.alias("p_value"),
        fstat.alias("first_stage_f"),
    )
