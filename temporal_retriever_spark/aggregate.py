"""Aggregation operators A1-A5.

Reference: the dedup-agg ``df.groupby(ds).agg({y: agg})`` (app.py:89,
390-395), date bounds (app.py:122, 366-370), sample std (app.py:362) and
floor/ceiling scalars (app.py:354-364).

Spark-first notes:

* A1 is a plain ``groupBy().agg()`` — Catalyst gives partial (map-side)
  + final hash aggregation automatically; one shuffle on the bucket key.
* ``median`` is Spark's exact ``F.median`` (matches pandas/DuckDB
  interpolation). Its buffer holds every value of a bucket: memory per
  bucket is bounded by the bucket's row count. ``bucket_aggregate_multi``
  keeps that bound with one sorted array per bucket (its docstring).
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


def agg_expr(value: Column | str, agg: str) -> Column:
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
    aggs = [agg_expr(value_col, agg).alias(value_col)]
    for out_name, (in_col, in_agg) in (extra_aggs or {}).items():
        aggs.append(agg_expr(in_col, in_agg).alias(out_name))
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


#: grains that tile every coarser grain, finest first; W and M alone
#: roll up from D
_FINE_GRAINS = ("min", "H", "D")


def _sorted_median(values: Column) -> Column:
    """Exact median of a sorted double array, by Spark ``Percentile``'s
    own rule: position ``0.5 * (n - 1)``, the element there when it is
    whole, else ``(hi - pos) * a[lo] + (pos - lo) * a[hi]``. NULL for an
    empty array."""
    pos = (F.size(values) - 1) * F.lit(0.5)
    lo, hi = F.floor(pos), F.ceil(pos)
    a_lo, a_hi = F.get(values, lo.cast("int")), F.get(values, hi.cast("int"))
    return (
        F.when(F.size(values) == 0, F.lit(None).cast("double"))
        .when(lo == hi, a_lo)
        .otherwise((hi - pos) * a_lo + (pos - lo) * a_hi)
    )


def bucket_aggregate_multi(
    df: DataFrame,
    *,
    ts_col: str = "ds",
    value_col: str = "y",
    grains: Iterable[str] = ("D", "W", "M"),
    aggs: Iterable[str] = ("sum",),
    series_cols: Iterable[str] = (),
) -> DataFrame:
    """A1 at every grain of a rollup hierarchy in one scan, rolled up
    from the finest grain (Gray et al., "Data Cube", 1997).

    Level 1 groups the input once by ``(*series_cols, fine bucket)``,
    where the fine grain is the finest requested one of min < H < D
    (D when only W and/or M are asked for): every supported grain is a
    union of fine buckets in the session time zone. It keeps per fine
    bucket ``sum``, ``min``, ``max`` and ``count`` of ``value_col`` and,
    for ``median``, the bucket's values as one sorted array. Level 2 is
    GROUPING SETS over those bucket rows, one set per grain, each coarse
    label being ``bucket_expr`` of the fine label; its ``Expand``
    multiplies bucket rows, not input rows. It combines the partials:
    sum of sums, min of mins, max of maxes, mean = sum of sums / sum of
    counts (NULL for an all-NULL bucket, as ``avg``), and the median
    from the sorted concatenation of the fine arrays with
    ``Percentile``'s interpolation, so it equals ``F.median``. Plan:
    Scan → HashAggregate → exchange → HashAggregate → Expand(×|grains|)
    → HashAggregate → exchange → HashAggregate; no ``percentile``.

    Memory: with ``median``, one array of the bucket's values per coarse
    bucket, the same bound as ``percentile``'s buffer (one map entry
    per value); without it, the aggregates are fixed-size.

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
    series_cols = list(series_cols)
    fine = next((g for g in _FINE_GRAINS if g in gs), "D")
    y = F.col(value_col)
    partials = {
        "_sum": F.sum(y),
        "_min": F.min(y),
        "_max": F.max(y),
        "_n": F.count(y),
    }
    if "median" in normalized_aggs:
        partials["_values"] = F.array_sort(F.collect_list(y.cast("double")))
    fine_rows = df.groupBy(
        *series_cols, bucket_expr(ts_col, fine).alias("_fine")
    ).agg(*[c.alias(name) for name, c in partials.items()])

    bcols = {g: f"_bucket_{g}" for g in gs}
    labelled = fine_rows.select(
        *series_cols,
        *[
            bucket_expr("_fine", g).cast("timestamp").alias(bcols[g])
            for g in gs
        ],
        *partials,
    )
    combine = {
        "sum": F.sum("_sum"),
        "min": F.min("_min"),
        "max": F.max("_max"),
        "mean": F.try_divide(F.sum("_sum"), F.sum("_n")),
        "median": F.array_sort(F.flatten(F.collect_list("_values"))),
    }
    # grouping() indicators are only legal inside the aggregate list
    gflags = [F.grouping(bcols[g]).alias(f"_grouped_{g}") for g in gs]
    grouped = labelled.groupingSets(
        [[*series_cols, bcols[g]] for g in gs],
        *series_cols,
        *bcols.values(),
    ).agg(*gflags, *[combine[a].alias(f"{value_col}_{a}") for a in normalized_aggs])
    grain_label = None
    for g in gs:
        cond = F.col(f"_grouped_{g}") == 0
        grain_label = (
            F.when(cond, F.lit(g))
            if grain_label is None
            else grain_label.when(cond, F.lit(g))
        )
    out_cols = {a: F.col(f"{value_col}_{a}") for a in normalized_aggs}
    if "median" in out_cols:
        out_cols["median"] = _sorted_median(out_cols["median"])
    return grouped.select(
        *series_cols,
        grain_label.alias("grain"),
        F.coalesce(*[F.col(c) for c in bcols.values()]).alias(ts_col),
        *[c.alias(f"{value_col}_{a}") for a, c in out_cols.items()],
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
