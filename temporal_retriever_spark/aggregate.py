"""Aggregation operators A1-A5.

Reference: the dedup-agg ``df.groupby(ds).agg({y: agg})`` (app.py:89,
390-395), date bounds (app.py:122, 366-370), sample std (app.py:362) and
floor/ceiling scalars (app.py:354-364).

Spark-first notes:

* A1 is a plain ``groupBy().agg()`` — Catalyst gives partial (map-side)
  + final hash aggregation automatically; one shuffle on the bucket key.
* ``median`` is Spark's exact ``F.median`` (matches pandas/DuckDB
  interpolation). At 100 TB, exact median forces a sort per group —
  ``approx=True`` switches to ``percentile_approx`` which stays in the
  hash aggregate (documented scale path, SURVEY §2.4 A1).
* The reference accepts the typo alias ``"meadian"`` (app.py:44-48) as
  part of its API surface — so do we.
* std is **sample** std (pandas default ddof=1, app.py:362) →
  ``F.stddev_samp``.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from temporal_retriever_spark.grains import bucket_expr, normalize_grain

AGGREGATIONS = ("sum", "min", "max", "mean", "median")

_AGG_ALIASES = {
    "sum": "sum",
    "min": "min",
    "max": "max",
    "mean": "mean",
    "avg": "mean",
    "average": "mean",
    "median": "median",
    "meadian": "median",  # accepted typo alias, reference app.py:44-48
}


def normalize_aggregation(agg: str) -> str:
    try:
        return _AGG_ALIASES[agg.strip().lower()]
    except (KeyError, AttributeError):
        raise ValueError(f"unsupported aggregation: {agg!r}") from None


def agg_expr(value: Column | str, agg: str, *, approx_median: bool = False) -> Column:
    col = F.col(value) if isinstance(value, str) else value
    agg = normalize_aggregation(agg)
    if agg == "sum":
        return F.sum(col)
    if agg == "min":
        return F.min(col)
    if agg == "max":
        return F.max(col)
    if agg == "mean":
        return F.avg(col)
    if agg == "median":
        if approx_median:
            return F.percentile_approx(col, 0.5)
        return F.median(col)
    raise ValueError(f"unsupported aggregation: {agg!r}")  # pragma: no cover


def bucket_aggregate(
    df: DataFrame,
    *,
    ts_col: str = "ds",
    value_col: str = "y",
    grain: str = "D",
    agg: str = "sum",
    series_cols: Iterable[str] = (),
    extra_aggs: dict[str, tuple[str, str]] | None = None,
    approx_median: bool = False,
) -> DataFrame:
    """A1: bucket ``ts_col`` to ``grain`` and collapse duplicate keys.

    Reference ``prepare_dataset`` (app.py:70-93): parse → bucket →
    ``groupby(ds).agg({y: agg})``. Generalized over many series at once:
    ``series_cols`` joins the grouping key, so a 100-TB table with
    millions of series aggregates in ONE shuffle instead of a driver loop
    (the reference loops correlations in Python, app.py:102).

    ``extra_aggs`` maps output column -> (input column, agg name) for the
    bundle's two-column aggregation (app.py:390-395).
    """
    out_bucket = bucket_expr(ts_col, grain).alias(ts_col)
    keys = [*series_cols, ts_col]
    aggs = [agg_expr(value_col, agg, approx_median=approx_median).alias(value_col)]
    for out_name, (in_col, in_agg) in (extra_aggs or {}).items():
        aggs.append(agg_expr(in_col, in_agg, approx_median=approx_median).alias(out_name))
    return (
        df.withColumn(ts_col, out_bucket)
        .groupBy(*keys)
        .agg(*aggs)
    )


def salted_aggregate(
    df: DataFrame,
    *,
    keys: Iterable[str],
    value_col: str = "y",
    agg: str = "sum",
    salt_buckets: int = 16,
) -> DataFrame:
    """A1 for pathologically skewed keys: two-phase salted aggregation.

    Phase 1 groups by (keys, random salt) — the hot key's rows spread
    over ``salt_buckets`` reducers; phase 2 combines the partials. Only
    algebraic aggregations decompose (sum/min/max/mean-as-sum÷count);
    median must go through ``bucket_aggregate`` (AQE skew hints) instead.

    Note: AQE's skew-join/partition splitting usually makes manual
    salting unnecessary for *joins*; this helper is for single-key
    aggregation skew (e.g. one series holding 30% of a 100 TB table),
    where AQE cannot split a single hash-aggregation key.
    """
    keys = list(keys)
    agg = normalize_aggregation(agg)
    if agg == "median":
        raise ValueError("median does not decompose; use bucket_aggregate")
    salt = (F.rand(seed=42) * salt_buckets).cast("int").alias("_salt")
    phase1_aggs = {
        "sum": [F.sum(value_col).alias("_p")],
        "min": [F.min(value_col).alias("_p")],
        "max": [F.max(value_col).alias("_p")],
        "mean": [F.sum(value_col).alias("_p"), F.count(value_col).alias("_pc")],
    }[agg]
    partial = df.select(*keys, value_col, salt).groupBy(*keys, "_salt").agg(
        *phase1_aggs
    )
    if agg == "sum":
        final = F.sum("_p")
    elif agg == "min":
        final = F.min("_p")
    elif agg == "max":
        final = F.max("_p")
    else:  # mean
        final = F.sum("_p") / F.sum("_pc")
    return partial.groupBy(*keys).agg(final.alias(value_col))


def date_bounds(
    df: DataFrame, *, ts_col: str = "ds", series_cols: Iterable[str] = ()
) -> DataFrame:
    """A2: (min ds, max ds) — per series when ``series_cols`` given.

    Reference: ``(df.ds.min(), df.ds.max())`` (app.py:122, 167, 366-370).
    """
    aggs = [F.min(ts_col).alias("min_ds"), F.max(ts_col).alias("max_ds")]
    series_cols = list(series_cols)
    if series_cols:
        return df.groupBy(*series_cols).agg(*aggs)
    return df.agg(*aggs)


def floor_ceiling(
    df: DataFrame,
    *,
    value_col: str = "y",
    series_cols: Iterable[str] = (),
    user_floor: float | None = 0.0,
    user_ceiling: float | None = None,
) -> DataFrame:
    """A3+A4: saturating-growth floor/cap scalars, per series.

    Reference (app.py:354-364):
      floor   = min(user_floor, min(y))          [Cap.floor defaults to 0,
                                                  app.py:253-255]
      ceiling = max(user_ceiling, max(y)); when user_ceiling is falsy
                (None or 0 — the reference's `ceiling or ...` check,
                app.py:359-364) it defaults to max(y) + 3 * std(y)
                [sample std, ddof=1]
    """
    series_cols = list(series_cols)
    aggs = floor_ceiling_aggs(value_col, user_floor, user_ceiling)
    if series_cols:
        return df.groupBy(*series_cols).agg(*aggs)
    return df.agg(*aggs)


def floor_ceiling_aggs(
    value_col: str, user_floor: float | None, user_ceiling: float | None
) -> list[Column]:
    """``floor_ceiling``'s aggregate columns, in this order: floor, cap,
    min_y, max_y, std_y — for callers that fold them into their own
    aggregation."""
    mn, mx = F.min(value_col), F.max(value_col)
    # Spark's stddev_samp updates central moments, as accurate as
    # pandas' two-pass std(); the closed form over Σy and Σy² cancels
    # for a large mean with a small spread. NULL below two values.
    sd = F.stddev_samp(value_col)
    default_ceiling = mx + F.lit(3.0) * F.coalesce(sd, F.lit(0.0))
    if user_floor is None:
        floor = mn
    else:
        floor = F.least(F.lit(float(user_floor)), mn)
    if not user_ceiling:
        ceiling = F.greatest(default_ceiling, mx)
    else:
        ceiling = F.greatest(F.lit(float(user_ceiling)), mx)
    return [
        floor.alias("floor"),
        ceiling.alias("cap"),
        mn.alias("min_y"),
        mx.alias("max_y"),
        sd.alias("std_y"),
    ]


def bucket_count(
    df: DataFrame, *, ts_col: str = "ds", series_cols: Iterable[str] = ()
) -> DataFrame:
    """A5: post-agg bucket count — the default forecast horizon.

    The reference is inconsistent (post-agg at app.py:91, pre-agg at
    app.py:333); SURVEY §2.4 standardizes on post-agg bucket count.
    Callers pass the already-bucketed frame.
    """
    series_cols = list(series_cols)
    agg = F.count(ts_col).alias("n_buckets")
    if series_cols:
        return df.groupBy(*series_cols).agg(agg)
    return df.agg(agg)


def bucket_aggregate_multi(
    df: DataFrame,
    *,
    ts_col: str = "ds",
    value_col: str = "y",
    grains: Iterable[str] = ("D", "W", "M"),
    aggs: Iterable[str] = ("sum",),
    series_cols: Iterable[str] = (),
    approx_median: bool = False,
) -> DataFrame:
    """A1 at every grain of a rollup hierarchy in ONE scan + ONE
    shuffle, via GROUPING SETS.

    The naive multi-grain loop (one ``bucket_aggregate`` per grain —
    the reference's only option, app.py:70-93 is called per request)
    costs |grains| scans and |grains| shuffles of the SAME input. Here
    every grain's bucket label is a projection on the single scan and
    Catalyst plans Scan → Expand(×|grains|) → partial HashAggregate →
    ONE shuffle → final aggregate: the input is read once, and the
    Expand duplication is collapsed by the map-side partial before
    anything moves — the shuffle carries each partition's distinct
    (set, key) rows, roughly the union of what the per-grain plans
    would each have shuffled, in a single exchange.

    Output: ``(*series_cols, grain, ds, {value_col}_{agg}...)`` with
    ``ds`` cast to timestamp so calendar grains (D/W/M: dates) and
    clock grains (H/min: timestamps) can share the column.
    """
    gs = [normalize_grain(g) for g in grains]
    if len(set(gs)) != len(gs):
        raise ValueError(f"duplicate grains after normalization: {gs}")
    if not gs:
        raise ValueError("grains must be non-empty")
    normalized_aggs = [normalize_aggregation(a) for a in aggs]
    if len(set(normalized_aggs)) != len(normalized_aggs):
        raise ValueError(f"duplicate aggs after normalization: {normalized_aggs}")
    bcols = {g: f"_bucket_{g}" for g in gs}
    out = df
    for g in gs:
        out = out.withColumn(
            bcols[g], bucket_expr(ts_col, g).cast("timestamp")
        )
    sets = [[*series_cols, bcols[g]] for g in gs]
    agg_exprs = [
        agg_expr(value_col, a, approx_median=approx_median).alias(
            f"{value_col}_{a}"
        )
        for a in normalized_aggs
    ]
    # grouping() indicators are only legal inside the aggregate list
    gflags = [F.grouping(bcols[g]).alias(f"_grouped_{g}") for g in gs]
    grouped = out.groupingSets(
        sets, *series_cols, *[bcols[g] for g in gs]
    ).agg(*gflags, *agg_exprs)
    grain_label = None
    for g in gs:
        cond = F.col(f"_grouped_{g}") == 0
        grain_label = (
            F.when(cond, F.lit(g))
            if grain_label is None
            else grain_label.when(cond, F.lit(g))
        )
    return grouped.select(
        *series_cols,
        grain_label.alias("grain"),
        F.coalesce(*[F.col(bcols[g]) for g in gs]).alias(ts_col),
        *[F.col(f"{value_col}_{a}") for a in normalized_aggs],
    )


def abc_classification(
    df: DataFrame,
    *,
    key_col: str,
    value_col: str,
    a_share: float = 0.8,
    b_share: float = 0.95,
) -> DataFrame:
    """ABC / Pareto classification — the inventory-analytics classic:
    rank keys by total value, take the cumulative share of the grand
    total, and band A (top ~80% of value), B (to ~95%), C (tail).
    The "which 20% of SKUs carry 80% of revenue" primitive that
    drives stocking policy, and for a corpus: which sources carry the
    token mass (the `gini_concentration` report's actionable cousin).

    Band rule (standard): a key is A if the cumulative share INCLUDING
    it is ≤ a_share, or if it is the first key (a single dominant key
    is always A); B up to b_share; else C. Ties in total value order
    by key ascending — deterministic cumulative sums cross-engine.

    Plan: one aggregation per key, one global ordered window over the
    KEY table (key-cardinality-sized, not data-sized — same safety
    argument as the KM duration table), zero Python.

    Output: (key, total, share, cum_share, abc_class) ordered by rank.
    """
    if not 0.0 < a_share < b_share <= 1.0:
        raise ValueError(
            f"need 0 < a_share < b_share <= 1: ({a_share}, {b_share})"
        )
    totals = df.groupBy(F.col(key_col)).agg(
        F.sum(F.col(value_col).cast("double")).alias("total")
    )
    w = Window.orderBy(F.col("total").desc(), F.col(key_col).asc())
    grand = Window.partitionBy()
    d = totals.withColumn("_rank", F.row_number().over(w)).withColumn(
        "_cum", F.sum("total").over(
            Window.orderBy(F.col("total").desc(), F.col(key_col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    ).withColumn("_g", F.sum("total").over(grand))
    cum_share = F.col("_cum") / F.col("_g")
    cls = (
        F.when((cum_share <= F.lit(float(a_share))) | (F.col("_rank") == 1), "A")
        .when(cum_share <= F.lit(float(b_share)), "B")
        .otherwise("C")
    )
    return d.select(
        F.col(key_col),
        "total",
        (F.col("total") / F.col("_g")).alias("share"),
        cum_share.alias("cum_share"),
        cls.alias("abc_class"),
    )
