"""Series alignment: joins J1-J3, coalesce P7, future grid W6, split W7.

Reference joins are all equi-joins on the time key ``ds`` via pandas
``merge`` (app.py:144-149, 169, 180-188, 456-482); the future grid is
Prophet's ``make_future_dataframe`` (app.py:132-134); the
historical/future split partitions predictions at the max historical
``ds`` (app.py:201-209, 397-415).

Scale design (SURVEY §2.5): per-request these are one-series joins →
Catalyst broadcasts the small side. Across millions of series they are
equi-joins on ``(series_id, ds)`` — a single shuffle each, AQE handles
skew. The future grid is generated natively with ``sequence`` +
``explode`` from the per-series bounds, so grid construction is
distributed and never touches the driver.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from temporal_retriever_spark.grains import grain_interval, normalize_grain


def coalesce_actuals(
    predictions: DataFrame,
    actuals: DataFrame,
    *,
    on: Iterable[str] = ("ds",),
    pred_col: str = "yhat",
    actual_col: str = "y",
    out_col: str = "y",
) -> DataFrame:
    """J1+P7: actuals override forecasts where known.

    Reference: ``covariate_predictions.merge(covariates, how="left",
    on="ds")`` then ``y.combine_first(yhat)`` (app.py:144-151, 478-483).
    """
    on = list(on)
    joined = predictions.join(actuals.select(*on, actual_col), on=on, how="left")
    value = F.coalesce(F.col(actual_col), F.col(pred_col)).alias(out_col)
    keep = [c for c in predictions.columns if c not in (pred_col, actual_col, out_col)]
    return joined.select(*keep, value)


def align_series(
    target: DataFrame,
    covariate: DataFrame,
    *,
    on: Iterable[str] = ("ds",),
    how: str = "left",
    cov_cols: Iterable[str] | None = None,
    drop_null_cov: bool = False,
) -> DataFrame:
    """J2/J3: join target series with covariate series on the time key.

    ``how="left"`` + ``drop_null_cov=True`` reproduces the reference's
    left-merge-then-dropna (app.py:180-188), which is semantically an
    inner join — Catalyst rewrites it as such once the null filter lands.
    """
    on = list(on)
    if cov_cols is not None:
        covariate = covariate.select(*on, *cov_cols)
    out = target.join(covariate, on=on, how=how)
    if drop_null_cov:
        cov_value_cols = [c for c in covariate.columns if c not in on]
        out = out.na.drop(subset=cov_value_cols)
    return out


def future_grid(
    bounds: DataFrame,
    *,
    grain: str,
    horizon: int | Column,
    include_history_max: bool = False,
    series_cols: Iterable[str] = ("series_id",),
    max_col: str = "max_ds",
    out_col: str = "ds",
) -> DataFrame:
    """W6: per-series future time grid, natively.

    Reference: ``model.make_future_dataframe(periods, freq=grain)``
    (app.py:132-134, 463-465) builds history ∪ next ``periods`` ticks.
    Here the *future* ticks come from ``sequence(max_ds + 1·step,
    max_ds + horizon·step, step)`` + ``explode`` over the per-series
    bounds frame — distributed, no driver loop; callers union the
    historical bucket dates when they need the full grid.

    ``horizon`` may be a per-series Column (the A5 default horizon =
    bucket count) or a global int.
    """
    n = horizon if isinstance(horizon, Column) else F.lit(int(horizon))
    start_idx = F.lit(0) if include_history_max else F.lit(1)
    maxc = F.col(max_col)
    # sequence over integers then add k*step: INTERVAL MONTH is variable
    # width, so sequence(ts, ts+n*step, step) would mis-step across month
    # ends; integer indexing is exact for every grain.
    # cast: count-derived horizons are BIGINT, date_add/add_months need INT.
    # Guard horizon < start: sequence(1, 0) would step DOWN to [1, 0];
    # an empty array explodes to zero rows instead.
    n_int = n.cast("int")
    seq = F.when(n_int >= start_idx, F.sequence(start_idx, n_int)).otherwise(
        F.array().cast("array<int>")
    )
    idx = F.explode(seq).alias("_k")
    grid = bounds.select(*series_cols, maxc.alias("_max"), idx)
    tick = F.expr(grid_tick_sql(grain, "_max", "_k"))
    return grid.select(*series_cols, tick.alias(out_col))


def grid_tick_sql(grain: str, max_sql: str, k_sql: str) -> str:
    """SQL for the ``k``-th bucket after ``max_sql`` at ``grain``.

    Shared by ``future_grid`` and the per-series array forecasts, which
    build the same ticks inside ``transform``.
    """
    grain = normalize_grain(grain)
    if grain in ("D", "W"):
        days = {"D": 1, "W": 7}[grain]
        return f"date_add(CAST({max_sql} AS DATE), {k_sql} * {days})"
    if grain == "M":
        # month grain: buckets are last-days; stepping k months from the
        # last day keeps last-day-ness via last_day()
        return f"last_day(add_months(CAST({max_sql} AS DATE), {k_sql}))"
    return f"{max_sql} + {k_sql} * {grain_interval(grain)}"


def split_forecasts(
    predictions: DataFrame,
    bounds: DataFrame,
    *,
    series_cols: Iterable[str] = ("series_id",),
    ts_col: str = "ds",
    max_col: str = "max_ds",
) -> tuple[DataFrame, DataFrame]:
    """W7: (historical, future) partition of predictions at max history ds.

    Reference: membership filter on historical dates (app.py:201-209) /
    range predicate (app.py:400, 410). SURVEY P5 prefers the range form —
    same semantics, no dates list, pushes down as a comparison.
    """
    series_cols = list(series_cols)
    joined = predictions.join(
        F.broadcast(bounds.select(*series_cols, max_col)), on=series_cols, how="inner"
    )
    hist = joined.filter(F.col(ts_col) <= F.col(max_col)).drop(max_col)
    future = joined.filter(F.col(ts_col) > F.col(max_col)).drop(max_col)
    return hist, future
