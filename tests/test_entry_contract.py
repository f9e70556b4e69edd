"""Mirror the driver's verify: every queries() entry vs its oracle_sql()."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import assert_matches_oracle

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["event_type", "ds", "y"]


def test_every_query_has_callable():
    assert QUERIES, "queries() must not be empty"
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_oracle_keys_subset_of_queries():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracle_sql keys without queries: {missing}"


# Cross-family fast subset kept in the DEFAULT run (sub-2s rows at
# sf0.001 spanning buckets/rolling/forecast/LLM-text/dedup/similarity/
# sampling/CDC, plus the four r9 float-wobble rows as regression
# sentinels for the r10 deterministic-order Gram fix). The other ~200
# rows run under -m slow: the round driver independently verifies every
# declared query against its oracle, so the exhaustive pytest mirror is
# round-end evidence, not the gate (VERDICT r9 item 1 / r10 item 3).
FAST_ORACLE_SUBSET = {
    "acf_daily", "align_covariate_inner", "align_covariate_left",
    "anomaly_zscore_daily",
    "bootstrap_ci_value", "bucket_counts", "bucket_day_all_aggs",
    "bucket_day_mean", "bucket_hour_sum", "bucket_minute_sum",
    "bucket_month_median", "bucket_week_sum", "c4_clean", "cdc_user_state",
    "coalesce_actuals", "conformal_daily", "contamination_5gram",
    "corpus_sample_k", "corpus_sample_stratified", "corpus_sample_uniform",
    "corpus_split", "dedup_exact_groups", "describe_series", "doc_chunks",
    "doc_fingerprints", "dup_clusters", "embedding_near_dups",
    "event_transitions", "ewma_daily", "floor_cap",
    "forecast_ensemble_daily", "forecast_linear_daily",
    "forecast_theta_daily", "future_grid_day", "future_grid_month",
    "gopher_filter", "html_extract", "interval_scorecard",
    "json_extract_props", "kpss_daily", "lang_id", "lineitem_returnflag_week",
    "ljung_box_daily",
    "lm_perplexity", "mcnemar_user_halves", "media_probe",
    "minhash_near_dups", "nb_classify_lang", "normalize_docs", "pacf_daily",
    "pii_scrub",
    "revenue_by_nation_month", "rolling_daily", "rolling_origin_daily",
    "rolling_quantile_daily", "rolling_time_window", "scd2_order_status",
    "series_bounds", "sessions_2h", "split_future", "split_historical",
    "text_stats", "token_topk",
}


@pytest.mark.parametrize(
    "name",
    [
        n if n in FAST_ORACLE_SUBSET else pytest.param(n, marks=pytest.mark.slow)
        for n in sorted(ORACLES)
    ],
)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    got = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(got, duck, ORACLES[name])
