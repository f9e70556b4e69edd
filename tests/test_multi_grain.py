"""Two-level multi-grain rollup: per-grain equivalence (edge cases
included), plan shape (fine buckets, then GROUPING SETS over them),
mixed calendar/clock grains, validation."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from temporal_retriever_spark.aggregate import (
    bucket_aggregate,
    bucket_aggregate_multi,
)
@pytest.fixture(scope="module")
def events(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumnRenamed("ts", "ds")
        .withColumnRenamed("value", "y")
        .select("event_type", "ds", "y")
        .cache()
    )
    df.count()
    return df


AGGS = ("sum", "min", "max", "mean", "median")

# (sid, ds, y): even and odd bucket sizes at every grain, NULL y, NaN,
# single-value buckets, NULL ds, week and month edges; the 02:00 hour
# of "a" and all of "z" hold only NULL y
_EDGE_ROWS = [
    ("a", "2024-01-01 00:10:00", 1.0),
    ("a", "2024-01-01 00:20:00", 2.0),
    ("a", "2024-01-01 00:50:00", 4.0),
    ("a", "2024-01-01 01:05:00", 3.0),
    ("a", "2024-01-01 01:05:30", 5.0),
    ("a", "2024-01-01 01:30:00", 7.0),
    ("a", "2024-01-01 01:40:00", 10.0),
    ("a", "2024-01-01 02:00:00", None),
    ("a", "2024-01-01 02:00:10", None),
    ("a", "2024-01-02 03:00:00", 1.5),
    ("a", "2024-01-02 03:00:00", None),
    ("a", "2024-01-09 12:00:00", float("nan")),
    ("a", "2024-01-09 12:00:00", 2.0),
    ("a", "2024-01-09 12:30:00", 8.0),
    ("a", "2024-02-15 06:00:00", 42.0),
    ("a", None, 9.0),
    ("a", None, 11.0),
    ("b", "2024-01-07 23:00:00", 3.0),
    ("b", "2024-01-08 00:00:00", 6.0),
    ("b", "2024-01-31 23:59:00", 2.25),
    ("b", "2024-02-01 00:00:00", -1.0),
    ("c", "2024-01-03 05:00:00", 0.1),
    ("c", "2024-01-03 05:10:00", 0.2),
    ("c", "2024-01-03 05:20:00", 0.7),
    ("c", "2024-01-04 05:00:00", 0.3),
    ("z", "2024-03-03 10:00:00", None),
]


def _same(got, want, exact: bool) -> bool:
    if got is None or want is None:
        return got is None and want is None
    if math.isnan(want):
        return math.isnan(got)
    if exact:
        return got == want
    return got == pytest.approx(want, rel=1e-12)


def _assert_matches_per_grain(df, grains, series_col):
    got = bucket_aggregate_multi(
        df, grains=grains, aggs=AGGS, series_cols=(series_col,)
    ).collect()
    for grain in grains:
        have = {
            (r[series_col], r["ds"]): r for r in got if r["grain"] == grain
        }
        want = (
            bucket_aggregate(
                df,
                grain=grain,
                agg="sum",
                series_cols=(series_col,),
                extra_aggs={f"y_{a}": ("y", a) for a in AGGS},
            )
            .withColumn("ds", F.col("ds").cast("timestamp"))
            .collect()
        )
        assert len(have) == len(want), grain
        for w in want:
            h = have[(w[series_col], w["ds"])]
            for a in AGGS:
                exact = a in ("min", "max", "median")
                assert _same(h[f"y_{a}"], w[f"y_{a}"], exact), (grain, w, a)


def test_matches_per_grain_aggregates(spark, events):
    # medians, mins and maxes equal the per-grain aggregate exactly;
    # sums and means may differ by their summation order only
    _assert_matches_per_grain(events, ("D", "W", "M"), "event_type")
    edge = spark.createDataFrame(
        _EDGE_ROWS, "sid string, ds string, y double"
    ).withColumn("ds", F.col("ds").cast("timestamp"))
    for grains in (("D", "W", "M"), ("W", "M"), ("H", "D", "M"), ("min", "H")):
        _assert_matches_per_grain(edge, grains, "sid")
    nulls = bucket_aggregate_multi(
        edge.filter(F.col("sid") == "z"), grains=("D", "W", "M"), aggs=AGGS,
        series_cols=("sid",),
    ).collect()
    assert len(nulls) == 3
    assert all(r[f"y_{a}"] is None for r in nulls for a in AGGS)


def test_rollup_plan_shape(events):
    got = bucket_aggregate_multi(
        events, grains=("D", "W", "M"), aggs=AGGS,
        series_cols=("event_type",),
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    # one exchange per level; the Expand multiplies level-1 bucket rows
    assert plan.count("Exchange hashpartitioning") == 2, plan
    lines = [line.lstrip(" +-:") for line in plan.splitlines()]
    expands = [i for i, line in enumerate(lines) if line.startswith("Expand")]
    assert len(expands) == 1, plan
    assert "HashAggregate" in lines[expands[0] + 1].split("(")[0], plan
    assert "percentile" not in plan
    assert "Window" not in plan
    assert "Python" not in plan


def test_mixed_calendar_and_clock_grains(events):
    got = bucket_aggregate_multi(
        events.filter(F.col("event_type") == "click"),
        grains=("H", "D"),
        aggs=("sum",),
    )
    rows = got.collect()
    grains = {r["grain"] for r in rows}
    assert grains == {"H", "D"}
    d_sum = sum(r["y_sum"] for r in rows if r["grain"] == "D")
    h_sum = sum(r["y_sum"] for r in rows if r["grain"] == "H")
    assert d_sum == pytest.approx(h_sum, rel=1e-9)


def test_grain_alias_and_errors(events):
    got = bucket_aggregate_multi(events.limit(10), grains=("day",), aggs=("avg",))
    assert {r["grain"] for r in got.collect()} == {"D"}
    assert "y_mean" in got.columns
    with pytest.raises(ValueError, match="duplicate grains"):
        bucket_aggregate_multi(events, grains=("D", "day"))
    with pytest.raises(ValueError, match="non-empty"):
        bucket_aggregate_multi(events, grains=())
    with pytest.raises(ValueError, match="duplicate aggs"):
        bucket_aggregate_multi(events, grains=("D",), aggs=("avg", "mean"))
