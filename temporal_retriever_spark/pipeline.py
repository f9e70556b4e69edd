"""End-to-end analysis pipelines — the reference's three endpoints
re-expressed over the Spark engine.

Reference lifecycles (SURVEY §3): ``/analyze`` (app.py:96-250),
``/saturating-growth`` (app.py:490-559), ``/saturating-growth/single``
(app.py:562-609).

Documented divergences implemented as *intent* (SURVEY §3.1/§3.2):

* ALL correlations are processed — the reference returns from inside
  its loop (app.py:250) so only the first ever ran.
* ``grain``/``aggregation`` are actually applied on the saturating
  endpoints — the reference extracts then drops them (app.py:497-498).
* grain ``"min"`` is accepted (the reference's bucketer only matched
  "m", core.py:34, so the enum's "min" 500'd).
* day-grain bucketing works in the saturating path (the reference's
  bundle variant crashes, app.py:430).
* forecasts use the native deterministic linear+seasonal model
  (forecast.py) — Prophet isn't installed here; with prophet present
  ``backend="prophet"`` restores library parity.

Each correlation is independent; the engine runs them as ONE Spark
plan per stage over all series (series_id keyed), not a Python loop per
correlation — the loop here only assembles per-correlation response
dicts from already-distributed computations. Where the reference
prepares each correlation's series with its own ``prepare_dataset``
call (app.py:70-93, 102), one scan of the request documents and one
aggregation bucket every distinct leg of a request (``_prepared_legs``).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import partial
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from temporal_retriever_spark.aggregate import (
    agg_expr,
    bucket_aggregate,
    date_bounds,
    normalize_aggregation,
)
from temporal_retriever_spark.align import split_forecasts
from temporal_retriever_spark.api.models import AnalyzeRequest, Correlation
from temporal_retriever_spark.diagnostics import (
    acf_pacf,
    default_nlags,
    describe,
    granger_native,
)
from temporal_retriever_spark.forecast import (
    forecast_covariate_chain,
    forecast_linear_seasonal,
)
from temporal_retriever_spark.grains import bucket_expr, normalize_grain
from temporal_retriever_spark.ingest import documents_df, dot_path_expr, extract_series
from temporal_retriever_spark.timeparse import parse_timestamp

#: hinge count for the piecewise trend when ChangePointPriorScale is
#: provided (Prophet defaults to 25 over much longer histories; 10 keeps
#: the ridge fold's Gram matrix at 13×13 per series with the covariate)
N_CHANGEPOINTS = 10

ACF_DESCRIPTION = (
    "Autocorrelation measures the correlation between a time series and "
    "its lagged values over successive intervals; coefficients range "
    "from -1 to +1."
)
PACF_DESCRIPTION = (
    "Partial autocorrelation measures the direct correlation between a "
    "time series and a specific lagged value, removing the effect of "
    "intermediate lags."
)


# Request-latency vs throughput seam: a typical API request carries a
# few thousand observations, where 32-partition scheduling overhead
# dominates every stage — collapsing the prepared series to ONE
# partition is the fast path. But a request carrying millions of
# observations must NOT serialize stats/ACF/forecast onto one core, so
# past this threshold we keep the aggregation's natural partitioning
# and let AQE coalesce small shuffles. The gate is free: request
# documents are an in-memory dict, so the row count is known
# driver-side without a Spark action.
SMALL_REQUEST_ROWS = 100_000


def _request_rows(documents: dict) -> int:
    return sum(
        len(doc.get("data", []))
        for doc in documents.values()
        if isinstance(doc, dict)
    )


def _size_gated(prepared: DataFrame, n_input_rows: int) -> DataFrame:
    if n_input_rows <= SMALL_REQUEST_ROWS:
        prepared = prepared.coalesce(1)
    return prepared.cache()


def _records(df: DataFrame) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


_RENAMES = {
    "ds": "date",
    "yhat": "prediction",
    "yhat_lower": "prediction_lower_bound",
    "yhat_upper": "prediction_upper_bound",
}


def _no_bounds(corr: Correlation) -> bool:
    """Prophet's uncertainty_samples=0 omits the interval columns; the
    reference forwards the knob (app.py:124-131)."""
    opts = corr.forecast_options
    return opts is not None and opts.uncertainty_samples == 0


def _to_record(row, no_bounds: bool) -> dict:
    """A forecast row as a reply record under the response's names,
    without the series id and the coefficient, and without the interval
    columns when ``no_bounds``."""
    d = row.asDict()
    d.pop("series_id", None)
    d.pop("coef", None)
    if no_bounds:
        d.pop("yhat_lower", None)
        d.pop("yhat_upper", None)
    return {_RENAMES.get(k, k): v for k, v in d.items()}


def _rename_predictions(df: DataFrame) -> DataFrame:
    cols = [
        F.col(c).alias(_RENAMES.get(c, c)) for c in df.columns if c != "series_id"
    ]
    return df.select(*cols)


def _leg_key(corr: Correlation, *, cov: bool) -> tuple[str, str, str, str]:
    """(dataset, index, grain, agg) of a correlation's covariate
    (``cov=True``) or target leg."""
    ds_name, idx = (
        (corr.from_data, corr.from_index) if cov else (corr.to_data, corr.to_index)
    )
    return (
        ds_name,
        idx,
        normalize_grain(corr.grain),
        normalize_aggregation(corr.aggregation),
    )


def _leg_sid(leg_sids: dict[tuple, str], corr: Correlation, *, cov: bool) -> str:
    return leg_sids[_leg_key(corr, cov=cov)]


@contextmanager
def _prepared_legs(spark: SparkSession, request: AnalyzeRequest):
    """Stage 1 of both covariate endpoints: every distinct prepared
    series from ONE scan of the request documents, cached for the
    request. Yields ``(leg_sids, prepared)`` and releases the cached
    frame on exit.

    Distinct (dataset, index, grain, agg) legs share a series id, so
    e.g. three correlations against the same target prepare it once.
    One projection turns each observation into one row per distinct dot
    path of its dataset, and a map constant fans each of those out to
    one row per leg on that path: ``ds`` is parsed once per observation
    and each path read once, however many legs (grains, aggregations)
    share it. One ``groupBy(series_id, ds)`` then buckets and
    aggregates every leg, the truncation unit and the aggregate picked
    per row from map constants, so the plan's shape depends only on
    which grains and aggregations the request holds. ``ds`` is a date when every leg is
    D, W or M and a timestamp otherwise.
    """
    leg_sids: dict[tuple, str] = {}
    for corr in request.correlations:
        for cov in (True, False):
            key = _leg_key(corr, cov=cov)
            leg_sids.setdefault(key, "{}.{}|{}|{}".format(*key))
    sids_by_path: dict[tuple[str, str], list[str]] = {}
    for (ds_name, idx, _, _), sid in leg_sids.items():
        sids_by_path.setdefault((ds_name, idx), []).append(sid)
    paths_by_dataset: dict[str, list[Column]] = {}
    for i, (ds_name, idx) in enumerate(sids_by_path):
        paths_by_dataset.setdefault(ds_name, []).append(
            F.struct(
                F.lit(i).alias("path"),
                dot_path_expr("obs", idx).cast("double").alias("y"),
            )
        )
    sids = F.create_map(
        *(
            e
            for i, ids in enumerate(sids_by_path.values())
            for e in (F.lit(i), F.array(*map(F.lit, ids)))
        )
    )
    rows = (
        documents_df(spark, request.documents)
        .select(
            "series_id",
            "obs",
            parse_timestamp(dot_path_expr("obs", "date")).alias("ts"),
        )
        .filter(F.col("ts").isNotNull())
        .select(
            "ts",
            F.inline(
                _case(
                    (F.col("series_id") == ds_name, F.array(*paths))
                    for ds_name, paths in paths_by_dataset.items()
                )
            ),
        )
        .select("ts", F.explode(sids[F.col("path")]).alias("series_id"), "y")
    )
    grain = _by_id({sid: g for (_, _, g, _), sid in leg_sids.items()})
    agg = _by_id({sid: a for (_, _, _, a), sid in leg_sids.items()})
    grains = sorted({g for _, _, g, _ in leg_sids})
    clock = not set(grains) <= {"D", "W", "M"}
    bucket = _case(
        (grain == g, bucket_expr("ts", g).cast("timestamp" if clock else "date"))
        for g in grains
    )
    # each aggregate sees only its own legs' values
    value = _case(
        (agg == a, agg_expr(F.when(agg == a, F.col("y")), a))
        for a in sorted({a for _, _, _, a in leg_sids})
    )
    prepared = _size_gated(
        rows.groupBy("series_id", bucket.alias("ds")).agg(value.alias("y")),
        _request_rows(request.documents),
    )
    try:
        yield leg_sids, prepared
    finally:
        prepared.unpersist()


def _leg_stats(
    prepared: DataFrame, leg_sids: dict[tuple, str], *extra: Column
) -> dict[str, Any]:
    """ONE stats action over all series (plus ``extra`` aggregates),
    keyed by series id; fails when a leg produced no observations."""
    stats = {
        r["series_id"]: r
        for r in prepared.groupBy("series_id")
        .agg(
            F.min("ds").alias("min_ds"),
            F.max("ds").alias("max_ds"),
            F.count("y").alias("n"),
            *extra,
        )
        .collect()
    }
    for (ds_name, idx, _, _), sid in leg_sids.items():
        if sid not in stats:
            raise ValueError(
                f"dataset {ds_name!r} / index {idx!r} produced no observations"
            )
    return stats


def _case(branches) -> Column:
    """``CASE WHEN c1 THEN v1 WHEN c2 THEN v2 ... END`` of (c, v) pairs."""
    out = None
    for cond, value in branches:
        out = (F.when if out is None else out.when)(cond, value)
    return out


def _by_id(values: dict[str, Any]) -> Column:
    """``values[series_id]``, null for ids not in ``values``.

    A map of literals folds into one map constant, which generated code
    reads by reference. Int and double literals (e.g. a CASE per id) are
    written into the generated source, so requests that differ only in
    horizons or caps would compile new classes and miss the codegen
    cache.
    """
    return F.create_map(
        *(e for k, v in values.items() for e in (F.lit(k), F.lit(v)))
    )[F.col("series_id")]


def _horizon_by_id(values: dict[str, int]) -> Column:
    """Per-correlation horizon, keyed by ``series_id``."""
    return F.coalesce(
        _by_id({k: int(h) for k, h in values.items()}), F.col("n_buckets")
    )


def _rekey(
    prepared: DataFrame,
    leg_sids: dict[tuple, str],
    corrs: list[Correlation],
    *,
    cov: bool,
) -> DataFrame:
    """prepared series -> correlation-keyed ``(series_id, ds, y)``.

    One map expression (leg id -> array of correlation ids) exploded per
    row, so the rekeyed frame adds no relation and no join and scans
    only the cached ``prepared`` relation in the JVM (a mapping frame
    built from a Python list runs Python tasks in every job that scans
    it). A leg shared by several correlations yields one row per
    correlation.
    """
    ids_by_sid: dict[str, list[str]] = {}
    for c in corrs:
        ids_by_sid.setdefault(_leg_sid(leg_sids, c, cov=cov), []).append(c.id)
    id_map = F.create_map(
        *(
            e
            for sid, ids in ids_by_sid.items()
            for e in (F.lit(sid), F.array(*map(F.lit, ids)))
        )
    )
    return prepared.filter(F.col("series_id").isin(list(ids_by_sid))).select(
        F.explode(id_map[F.col("series_id")]).alias("series_id"), "ds", "y"
    )


def _fold_args(
    stats: dict[str, Any],
    leg_sids: dict[tuple, str],
    corrs: list[Correlation],
    cps: float | None,
) -> dict[str, Any]:
    """``forecast_covariate_chain``'s per-correlation grain and horizons
    (the reference default horizon is the leg's bucket count) and the
    fold's changepoint trend."""

    def horizons(cov: bool) -> Column:
        return _horizon_by_id(
            {
                c.id: c.prediction_horizon or stats[_leg_sid(leg_sids, c, cov=cov)]["n"]
                for c in corrs
            }
        )

    return {
        "grain": _by_id({c.id: normalize_grain(c.grain) for c in corrs}),
        "horizon": horizons(cov=False),
        "cov_horizon": horizons(cov=True),
        "changepoint_prior_scale": cps,
        "n_changepoints": N_CHANGEPOINTS,
    }


def _series_ds(row) -> tuple:
    """Sort key of a fold's collected rows. They are sorted on the
    driver: an ``orderBy`` would add a range-partition exchange to the
    fold's plan."""
    return row["series_id"], row["ds"]


def analyze(
    spark: SparkSession, request: AnalyzeRequest, *, lags: int | None = None
) -> dict:
    """``/analyze`` semantics: covariate-driven forecast per correlation.

    Returns {"correlations": {id: {diagnostics, autocorrelations,
    partialAutocorrelations, regressorCoefficients, predictions}}} —
    the reference's response shape (app.py:211-248, responses.py).

    After the shared preparation and one stats action, the request runs
    independent job chains concurrently: one ACF/PACF plan over all
    series, one ``forecast_covariate_chain`` program per changepoint
    setting for every prophet correlation whatever its grain (the
    covariate forecast, its actuals override and the covariate
    regression in one per-series program), one Granger plan and, when
    asked, one describe.
    """
    output: dict[str, Any] = {"correlations": {}}
    with _prepared_legs(spark, request) as (leg_sids, prepared):
        # ---- stage 2: one stats action over all series -------------------
        stats = _leg_stats(prepared, leg_sids)
        leg_sid = partial(_leg_sid, leg_sids)
        rekey = partial(_rekey, prepared, leg_sids)

        # ---- stage 3: ONE fused ACF+PACF job over all series -------------
        # both derive from the same lag-product sums; acf_pacf collects
        # each series' sorted array once and emits both columns in a
        # single action
        if lags is not None:
            k_by_sid = {sid: lags for sid in stats}
        else:
            k_by_sid = {sid: default_nlags(stats[sid]["n"]) for sid in stats}
        k_max = max(max(k_by_sid.values()), 1)

        def run_diagnostics() -> list:
            return acf_pacf(
                prepared, lags=k_max, series_cols=("series_id",)
            ).collect()

        # ---- stage 4+5: all forecasts in one program per fold ------------
        # both legs are rekeyed to the correlation id (shared PREP is one
        # plan, but each correlation keeps its own horizons and grain —
        # the reference forecasts each correlation's covariate with that
        # correlation's horizon, app.py:122-134); one
        # forecast_covariate_chain call per fold forecasts every
        # covariate, overrides it with its actuals and regresses every
        # pairing, whatever the grains
        prophet_corrs = [c for c in request.correlations if c.type == "prophet"]
        granger_corrs = [c for c in request.correlations if c.type == "granger"]

        # fold key: the changepoint scale or None. Correlations that
        # provide ChangePointPriorScale get the piecewise changepoint
        # trend (README DIVERGENCES #9); the rest share the plain linear
        # program. Distinct scales fold into distinct programs.
        def fold_key(c: Correlation) -> float | None:
            return c.changepoint_prior_scale if c.changepoint_prior_scale_provided else None

        fold_keys = {fold_key(c) for c in prophet_corrs}

        def run_fold(cps) -> list:
            corrs_f = [c for c in prophet_corrs if fold_key(c) == cps]
            pred = forecast_covariate_chain(
                rekey(corrs_f, cov=False),
                rekey(corrs_f, cov=True),
                **_fold_args(stats, leg_sids, corrs_f, cps),
            )
            return sorted(pred.collect(), key=_series_ds)

        # ---- granger correlations: aligned pairs, ONE array program ------
        # type="granger" is declared in the reference enum (app.py:33) but
        # never implemented there; semantics follow the notebook prototype
        # (Untitled.ipynb cell 12): detrended ssr F-tests per lag.
        def run_granger() -> list:
            tgt = rekey(granger_corrs, cov=False)
            cov_leg = rekey(granger_corrs, cov=True).withColumnRenamed("y", "x")
            pair = tgt.join(cov_leg, on=["series_id", "ds"], how="inner")
            return granger_native(
                pair, maxlag=14, series_cols=("series_id",)
            ).collect()

        # ---- assembly (driver-side, no further actions) ------------------
        def lags_for(rows, sid, col, kk):
            # constant series => zero variance => NULL acf; surface NaN
            # like statsmodels rather than crashing on float(None)
            return {
                "lags": {
                    int(r["lag"]): (
                        float(r[col]) if r[col] is not None else float("nan")
                    )
                    for r in sorted(rows, key=lambda r: r["lag"])
                    if r["series_id"] == sid and r["lag"] <= kk
                }
            }

        # univariateStatistics correlations need quantile describes — one
        # extra plan only when such correlations exist
        stats_corrs = [
            c for c in request.correlations if c.type == "univariateStatistics"
        ]

        def run_describe() -> dict:
            wanted = {
                leg_sid(c, cov=cov) for c in stats_corrs for cov in (True, False)
            }
            return {
                r["series_id"]: r
                for r in describe(
                    prepared.filter(F.col("series_id").isin(list(wanted))),
                    series_cols=("series_id",),
                ).collect()
            }

        # ---- concurrent fan-out: the stage chains above are independent
        # Spark jobs over the (already materialized by the stats action)
        # cached `prepared` frame, so they submit from separate driver
        # threads and the scheduler runs them simultaneously — the wall
        # clock is the longest chain (the covariate forecast), not the
        # sum. Plan construction (py4j-bound) overlaps with execution of
        # the other chains for free.
        with ThreadPoolExecutor(
            max_workers=3 + max(len(fold_keys), 1)
        ) as pool:
            f_diag = pool.submit(run_diagnostics)
            f_folds = [pool.submit(run_fold, cps) for cps in fold_keys]
            f_granger = pool.submit(run_granger) if granger_corrs else None
            f_describe = pool.submit(run_describe) if stats_corrs else None
            diag_rows = f_diag.result()
            pred_rows: list = []
            for f in f_folds:
                pred_rows.extend(f.result())
            granger_rows: list = f_granger.result() if f_granger else []
            describe_by_sid: dict[str, Any] = (
                f_describe.result() if f_describe else {}
            )
        acf_rows = pacf_rows = diag_rows

        for corr in request.correlations:
            cov_sid = leg_sid(corr, cov=True)
            tgt_sid = leg_sid(corr, cov=False)
            cov_stats, tgt_stats = stats[cov_sid], stats[tgt_sid]
            cov_horizon = corr.prediction_horizon or cov_stats["n"]
            tgt_horizon = corr.prediction_horizon or tgt_stats["n"]
            k = k_by_sid[tgt_sid]
            k_cov = k_by_sid[cov_sid]
            entry: dict[str, Any] = {
                # reference seeds each correlation with its type (app.py:100)
                "type": corr.type,
                "diagnostics": {
                    "units": corr.grain,
                    "from": {
                        "data": corr.from_data,
                        "index": corr.from_index,
                        "minDate": cov_stats["min_ds"],
                        "maxDate": cov_stats["max_ds"],
                        "unitsForecasted": cov_horizon,
                    },
                    "to": {
                        "data": corr.to_data,
                        "index": corr.to_index,
                        "minDate": tgt_stats["min_ds"],
                        "maxDate": tgt_stats["max_ds"],
                        "unitsForecasted": tgt_horizon,
                    },
                },
                "autocorrelations": {
                    "description": ACF_DESCRIPTION,
                    "from": lags_for(acf_rows, cov_sid, "acf", k_cov),
                    "to": lags_for(acf_rows, tgt_sid, "acf", k),
                },
                "partialAutocorrelations": {
                    "description": PACF_DESCRIPTION,
                    "from": lags_for(pacf_rows, cov_sid, "pacf", k_cov),
                    "to": lags_for(pacf_rows, tgt_sid, "pacf", k),
                },
            }
            if corr.type == "prophet":
                rows_c = [r for r in pred_rows if r["series_id"] == corr.id]
                coef = rows_c[0]["coef"] if rows_c else None
                max_hist = tgt_stats["max_ds"]
                no_bounds = _no_bounds(corr)
                entry["regressorCoefficients"] = [
                    {"regressor": f"{corr.from_data}.{corr.from_index}", "coef": coef}
                ]
                entry["predictions"] = {
                    "historicalForecasts": [
                        _to_record(r, no_bounds) for r in rows_c if r["ds"] <= max_hist
                    ],
                    "futureForecasts": [
                        _to_record(r, no_bounds) for r in rows_c if r["ds"] > max_hist
                    ],
                }
            elif corr.type == "granger":
                rows_c = [r for r in granger_rows if r["series_id"] == corr.id]
                entry["grangerCausality"] = [
                    {
                        "lag": r["lag"],
                        "fStat": r["f_stat"],
                        "pValue": r["p_value"],
                        "dfNum": r["df_num"],
                        "dfDen": r["df_den"],
                        "nObs": r["n_obs"],
                    }
                    for r in sorted(rows_c, key=lambda r: r["lag"])
                ]
            else:  # univariateStatistics
                def describe_dict(sid: str) -> dict:
                    r = describe_by_sid.get(sid)
                    if r is None:
                        return {}
                    return {
                        key: r[key]
                        for key in ("n", "mean", "std", "min", "q25", "median", "q75", "max")
                    }

                entry["univariateStatistics"] = {
                    "from": describe_dict(cov_sid),
                    "to": describe_dict(tgt_sid),
                }
            output["correlations"][corr.id] = entry
    return output


def _caps(s, user_floor, user_ceiling) -> tuple[float, float]:
    """A4 (floor, cap) of one leg from its stats row (app.py:354-364).

    ``std_y`` is Spark's ``stddev_samp``, which updates central moments
    and so stays as accurate as pandas' two-pass ``std()`` (app.py:362);
    the closed form over the sums of y and y² cancels for legs with a
    large mean and a small spread. It is NULL for fewer than two
    observations, which counts as no spread.
    """
    std = s["std_y"] if s["std_y"] is not None else 0.0
    floor = s["min_y"] if user_floor is None else min(user_floor, s["min_y"])
    default_ceiling = s["max_y"] + 3.0 * std
    # falsy check matches the reference's `ceiling or (max + 3*std)`
    # (app.py:359-364): an explicit 0 ceiling auto-derives the cap
    ceiling = (
        max(default_ceiling, s["max_y"])
        if not user_ceiling
        else max(user_ceiling, s["max_y"])
    )
    return float(floor), float(ceiling)


def saturating_growth(spark: SparkSession, request: AnalyzeRequest) -> dict:
    """``/saturating-growth`` semantics (app.py:490-559), intent version.

    Covariate and target both forecast with floor/cap clamping (W5);
    the covariate's actuals override its predictions before the target
    leg consumes it (app.py:478-483). Folded like ``analyze``: shared
    series prep, ONE stats action (which also carries the min/max/std
    scalars the A4 caps need — floor/cap per correlation become
    constant maps keyed by correlation id), one forecast program per
    changepoint setting whatever the grains, one collect each.
    """
    output: dict[str, Any] = {"correlations": {}}
    with _prepared_legs(spark, request) as (leg_sids, prepared):
        stats = _leg_stats(
            prepared,
            leg_sids,
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            F.stddev_samp("y").alias("std_y"),
        )
        leg_sid = partial(_leg_sid, leg_sids)
        rekey = partial(_rekey, prepared, leg_sids)

        def corr_cps(c) -> float | None:
            o = c.forecast_options
            if o is not None and o.changepoint_prior_scale_provided:
                return o.changepoint_prior_scale
            return None

        fold_keys = {corr_cps(c) for c in request.correlations}

        def caps_by_id(caps: dict[str, tuple[float, float]]) -> tuple[Column, Column]:
            return (
                _by_id({cid: cap[0] for cid, cap in caps.items()}),
                _by_id({cid: cap[1] for cid, cap in caps.items()}),
            )

        def run_fold(cps) -> list:
            corrs_f = [c for c in request.correlations if corr_cps(c) == cps]
            cov_caps: dict[str, tuple[float, float]] = {}
            tgt_caps: dict[str, tuple[float, float]] = {}
            for corr in corrs_f:
                opts = corr.forecast_options
                from_cap = opts.from_cap if opts else None
                to_cap = opts.to_cap if opts else None
                cov_caps[corr.id] = _caps(
                    stats[leg_sid(corr, cov=True)],
                    from_cap.floor if from_cap else 0.0,
                    from_cap.ceiling if from_cap else None,
                )
                tgt_caps[corr.id] = _caps(
                    stats[leg_sid(corr, cov=False)],
                    to_cap.floor if to_cap else 0.0,
                    to_cap.ceiling if to_cap else None,
                )
            # the reference's saturating response carries Prophet's
            # interval columns clamped into the same envelope
            # (app.py:336-352)
            pred = forecast_covariate_chain(
                rekey(corrs_f, cov=False),
                rekey(corrs_f, cov=True),
                caps=caps_by_id(tgt_caps),
                cov_caps=caps_by_id(cov_caps),
                **_fold_args(stats, leg_sids, corrs_f, cps),
            )
            return sorted(pred.collect(), key=_series_ds)

        # folds are independent job chains over the cached `prepared`
        # frame (materialized by the stats action) — submit them
        # concurrently, same as `analyze`
        pred_rows: list = []
        with ThreadPoolExecutor(max_workers=max(len(fold_keys), 1)) as pool:
            for f in [pool.submit(run_fold, cps) for cps in fold_keys]:
                pred_rows.extend(f.result())

        for corr in request.correlations:
            max_hist = stats[leg_sid(corr, cov=False)]["max_ds"]
            rows_c = [r for r in pred_rows if r["series_id"] == corr.id]
            no_bounds = _no_bounds(corr)
            # response wrapper per app.py:594-607: model/growth/observed
            # bounds alongside the forecast records
            opts = corr.forecast_options
            tgt_stats = stats[leg_sid(corr, cov=False)]
            output["correlations"][corr.id] = {
                "type": {
                    "model": corr.type,
                    "growth": opts.growth if opts is not None else "logistic",
                    "bounds": {
                        "min": tgt_stats["min_ds"],
                        "max": tgt_stats["max_ds"],
                    },
                },
                "predictions": {
                    "historicalForecasts": [
                        _to_record(r, no_bounds) for r in rows_c if r["ds"] <= max_hist
                    ],
                    "futureForecasts": [
                        _to_record(r, no_bounds) for r in rows_c if r["ds"] > max_hist
                    ],
                },
            }
    return output


def saturating_growth_single(
    spark: SparkSession,
    documents: dict,
    *,
    dataset: str,
    index: str,
    grain: str = "D",
    aggregation: str = "sum",
    horizon: int | None = None,
    floor: float | None = 0.0,
    ceiling: float | None = None,
) -> dict:
    """``/saturating-growth/single`` (app.py:562-609): univariate leg only."""
    raw = documents_df(spark, documents)
    series = extract_series(raw, dataset=dataset, index_path=index)
    bucketed = bucket_aggregate(
        series.filter(F.col("ds").isNotNull()),
        grain=grain,
        agg=aggregation,
        series_cols=("series_id",),
    )
    pred = forecast_linear_seasonal(
        bucketed,
        grain=grain,
        horizon=horizon,
        saturating=True,
        user_floor=floor,
        user_ceiling=ceiling,
    )
    hist, future = split_forecasts(
        pred,
        date_bounds(bucketed, series_cols=("series_id",)),
        series_cols=("series_id",),
    )
    return {
        "historicalForecasts": _records(_rename_predictions(hist.orderBy("ds"))),
        "futureForecasts": _records(_rename_predictions(future.orderBy("ds"))),
    }
