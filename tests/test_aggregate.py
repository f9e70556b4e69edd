from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from temporal_retriever_spark.aggregate import (
    bucket_aggregate,
    bucket_count,
    date_bounds,
    floor_ceiling,
    normalize_aggregation,
)
from tests.conftest import assert_matches_oracle


def test_normalize_aggregation_aliases():
    assert normalize_aggregation("sum") == "sum"
    assert normalize_aggregation("avg") == "mean"
    # "meadian" typo is part of the accepted reference surface (app.py:44-48)
    assert normalize_aggregation("meadian") == "median"
    with pytest.raises(ValueError):
        normalize_aggregation("mode")


AGG_SQL = {"sum": "SUM", "min": "MIN", "max": "MAX", "mean": "AVG", "median": "MEDIAN"}


@pytest.mark.parametrize("agg", ["sum", "min", "max", "mean", "median"])
def test_bucket_aggregate_hourly_per_series(tables, duck, agg):
    got = bucket_aggregate(
        tables["events"].withColumnRenamed("ts", "ds").withColumnRenamed("value", "y"),
        grain="H",
        agg=agg,
        series_cols=("event_type",),
    )
    sql = f"""
        SELECT event_type, date_trunc('hour', ts) AS ds, {AGG_SQL[agg]}(value) AS y
        FROM events GROUP BY 1, 2
    """
    assert_matches_oracle(got, duck, sql)


@pytest.mark.parametrize("grain,bucket_sql", [
    ("D", "CAST(o_orderdate AS DATE)"),
    ("W", "CAST(date_trunc('week', o_orderdate) AS DATE) + 6"),
    ("M", "last_day(CAST(o_orderdate AS DATE))"),
])
def test_bucket_aggregate_orders_grains(tables, duck, grain, bucket_sql):
    got = bucket_aggregate(
        tables["orders"]
        .withColumnRenamed("o_orderdate", "ds")
        .withColumnRenamed("o_totalprice", "y"),
        grain=grain,
        agg="sum",
    )
    sql = f"SELECT {bucket_sql} AS ds, SUM(o_totalprice) AS y FROM orders GROUP BY 1"
    assert_matches_oracle(got, duck, sql)


def test_extra_aggs_two_columns(tables, duck):
    # bundle-style aggregation of both y and a named column (app.py:390-395)
    got = bucket_aggregate(
        tables["events"].withColumnRenamed("ts", "ds").withColumnRenamed("value", "y"),
        grain="D",
        agg="sum",
        series_cols=("event_type",),
        extra_aggs={"y_max": ("y", "max"), "n_users": ("user_id", "max")},
    )
    sql = """
        SELECT event_type, CAST(ts AS DATE) AS ds, SUM(value) AS y,
               MAX(value) AS y_max, MAX(user_id) AS n_users
        FROM events GROUP BY 1, 2
    """
    assert_matches_oracle(got, duck, sql)


def test_date_bounds_per_series(tables, duck):
    got = date_bounds(
        tables["events"].withColumnRenamed("ts", "ds"), series_cols=("event_type",)
    )
    sql = "SELECT event_type, MIN(ts) AS min_ds, MAX(ts) AS max_ds FROM events GROUP BY 1"
    assert_matches_oracle(got, duck, sql)


def test_floor_ceiling_defaults(tables, duck):
    # floor = min(0, min(y)); ceiling = max(max+3*stddev_samp, max)  (app.py:354-364)
    got = floor_ceiling(
        tables["events"].withColumnRenamed("value", "y"), series_cols=("event_type",)
    )
    sql = """
        SELECT event_type,
               LEAST(0.0, MIN(value)) AS floor,
               GREATEST(MAX(value) + 3 * COALESCE(STDDEV_SAMP(value), 0), MAX(value)) AS cap,
               MIN(value) AS min_y, MAX(value) AS max_y, STDDEV_SAMP(value) AS std_y
        FROM events GROUP BY 1
    """
    assert_matches_oracle(got, duck, sql)


def test_floor_ceiling_user_values(spark):
    df = spark.createDataFrame([(5.0,), (10.0,)], "y double")
    row = floor_ceiling(df, user_floor=7.0, user_ceiling=8.0).collect()[0]
    assert row["floor"] == 5.0  # min(user_floor=7, min=5)
    assert row["cap"] == 10.0  # max(user_ceiling=8, max=10)


def test_floor_ceiling_zero_ceiling_auto_derives(spark):
    # the reference's `ceiling or (max + 3*std)` treats an explicit 0 as
    # unset (app.py:359-364) — cap must be the derived max+3*std, not max
    df = spark.createDataFrame([(5.0,), (10.0,)], "y double")
    row = floor_ceiling(df, user_ceiling=0.0).collect()[0]
    derived = floor_ceiling(df, user_ceiling=None).collect()[0]
    assert row["cap"] == derived["cap"]
    assert row["cap"] > 10.0


def test_floor_ceiling_std_survives_a_large_mean(spark):
    """The default cap is max + 3·(sample std); a series at 1e9 ± 1 must
    not lose its spread to the cancellation of Σy² − (Σy)²/n."""
    import math

    import numpy as np

    values = 1e9 + np.random.default_rng(3).uniform(-1.0, 1.0, 60)
    df = spark.createDataFrame([(float(v),) for v in values], "y double")
    row = floor_ceiling(df).collect()[0]
    std = np.std(values, ddof=1)
    assert math.isclose(row["cap"], values.max() + 3 * std, rel_tol=1e-9)
    assert math.isclose(row["std_y"], std, rel_tol=1e-6)


def test_bucket_count(tables, duck):
    bucketed = bucket_aggregate(
        tables["events"].withColumnRenamed("ts", "ds").withColumnRenamed("value", "y"),
        grain="D",
        agg="sum",
        series_cols=("event_type",),
    )
    got = bucket_count(bucketed, series_cols=("event_type",))
    sql = """
        SELECT event_type, COUNT(*) AS n_buckets FROM (
            SELECT event_type, CAST(ts AS DATE) AS d FROM events GROUP BY 1, 2
        ) GROUP BY 1
    """
    assert_matches_oracle(got, duck, sql)


class TestAbcClassification:
    def test_bands_and_shares(self, spark):
        from temporal_retriever_spark.aggregate import abc_classification

        rows = [("a", 50.0), ("b", 30.0), ("c", 10.0), ("d", 6.0), ("e", 4.0)]
        df = spark.createDataFrame(rows, "k string, v double")
        got = {r["k"]: r for r in abc_classification(
            df, key_col="k", value_col="v"
        ).collect()}
        # cum shares: a .5, b .8, c .9, d .96, e 1.0
        assert got["a"]["abc_class"] == "A"
        assert got["b"]["abc_class"] == "A"  # cum exactly 0.8 <= 0.8
        assert got["c"]["abc_class"] == "B"
        assert got["d"]["abc_class"] == "C"
        assert got["e"]["abc_class"] == "C"
        import math
        assert math.isclose(got["b"]["cum_share"], 0.8)
        assert math.isclose(got["e"]["share"], 0.04)

    def test_dominant_single_key_is_a(self, spark):
        from temporal_retriever_spark.aggregate import abc_classification

        df = spark.createDataFrame(
            [("big", 99.0), ("tiny", 1.0)], "k string, v double"
        )
        got = {r["k"]: r["abc_class"] for r in abc_classification(
            df, key_col="k", value_col="v"
        ).collect()}
        # cum share of 'big' is 0.99 > 0.8 but rank-1 is always A
        assert got["big"] == "A"
        assert got["tiny"] == "C"

    def test_aggregates_duplicate_keys_and_validation(self, spark):
        from temporal_retriever_spark.aggregate import abc_classification

        df = spark.createDataFrame(
            [("a", 10.0), ("a", 15.0), ("b", 5.0)], "k string, v double"
        )
        got = {r["k"]: r for r in abc_classification(
            df, key_col="k", value_col="v"
        ).collect()}
        assert got["a"]["total"] == 25.0
        import pytest as _pt

        with _pt.raises(ValueError):
            abc_classification(df, key_col="k", value_col="v", a_share=0.9,
                               b_share=0.8)
