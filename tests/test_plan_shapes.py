"""Physical-plan regression tests: the scale claims in PLANS.md/
COVERAGE.md pinned as assertions, so a refactor that silently
de-optimizes a plan (extra exchange, lost WindowGroupLimit, Python in
a native path) fails CI instead of surfacing at 100 TB."""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> int:
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"alpha beta gamma doc {i} " * 5, f"s{i % 3}") for i in range(30)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


@pytest.fixture(scope="module")
def daily(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(1)
    frames = [
        pd.DataFrame(
            {
                "series_id": s,
                "ds": pd.date_range("2024-01-01", periods=90),
                "y": rng.normal(size=90),
            }
        )
        for s in ("a", "b")
    ]
    return spark.createDataFrame(pd.concat(frames))


def test_chunking_is_shuffle_free(spark, docs):
    from temporal_retriever_spark.llm.chunking import chunk_documents

    plan = _plan(chunk_documents(docs, chunk_tokens=8, overlap=2))
    assert _exchanges(plan) == 0
    assert "Generate" in plan  # the posexplode
    assert "Python" not in plan


def test_train_test_split_is_shuffle_free(spark, docs):
    from temporal_retriever_spark.llm.corpus import train_test_split

    plan = _plan(train_test_split(docs, {"train": 0.9, "test": 0.1}))
    assert _exchanges(plan) == 0
    assert "Python" not in plan


def test_concat_packing_is_one_exchange_no_python(spark, docs):
    from temporal_retriever_spark.llm.chunking import pack_sequences

    plan = _plan(pack_sequences(docs, capacity=64, buckets=4, mode="concat"))
    assert _exchanges(plan) == 1
    assert "Python" not in plan


def test_sample_k_has_partial_window_group_limit(spark, docs):
    from temporal_retriever_spark.llm.corpus import sample_k_per_group

    plan = _plan(sample_k_per_group(docs, 3))
    # partial (pre-shuffle) + final: map tasks trim to local top-k
    assert plan.count("WindowGroupLimit") == 2
    assert _exchanges(plan) == 1


def test_ljung_box_single_aggregation_no_python(spark, daily):
    from temporal_retriever_spark.diagnostics import ljung_box

    plan = _plan(ljung_box(daily, lags=5))
    assert _exchanges(plan) == 1  # one series-key shuffle for window+agg
    assert "Python" not in plan


def test_lag_products_share_one_window(spark, daily):
    # every lag product is projected in one select: the analyzed plan
    # holds the mean's Window and one Window for all 36 lags, not a
    # Window (and an analysis) per lag
    import re

    from temporal_retriever_spark.diagnostics import acf_pacf

    plan = acf_pacf(daily, lags=36)._jdf.queryExecution().analyzed().toString()
    assert len(re.findall(r"^[\s:+|-]*Window ", plan, re.M)) <= 2, plan


@pytest.mark.parametrize("op", ["pacf", "acf_pacf"])
def test_pacf_family_native_at_high_lags(spark, daily, op):
    # the Durbin-Levinson fold keeps PACF in the aggregate's own plan at
    # any lag count: no Python operator, one series-key shuffle
    from temporal_retriever_spark import diagnostics

    plan = _plan(getattr(diagnostics, op)(daily, lags=36))
    for node in ("Python", "ArrowEval", "MapInPandas"):
        assert node not in plan
    assert _exchanges(plan) == 1


def test_adf_native_no_python(spark, daily):
    from temporal_retriever_spark.diagnostics import adf

    plan = _plan(adf(daily, maxlag=2))
    assert "Python" not in plan
    assert _exchanges(plan) <= 2


def test_quality_prune_scores_ride_the_scan(spark, docs):
    from temporal_retriever_spark.llm.corpus import quality_prune

    plan = _plan(quality_prune(docs, keep_frac=0.5))
    assert _exchanges(plan) == 1  # the single group-key window shuffle
    assert "Python" not in plan


@pytest.mark.parametrize(
    "op",
    [
        "linear", "covariate", "changepoint", "covariate_changepoint",
        "linear_chain", "changepoint_chain",
    ],
)
def test_native_forecast_is_one_array_program(spark, daily, op):
    # one groupBy(series) collects the rows; the fit (the changepoint
    # ridge solve included), seasonal means, quantiles, future grid and
    # (covariate) joins are array functions over that row, so the
    # collect shuffle is the only exchange. The chains forecast the
    # covariate, override it with its actuals and regress the target in
    # that one row too, the changepoint one with a per-series grain.
    from temporal_retriever_spark import forecast as fc

    cov = daily.select("series_id", "ds", (F.col("y") * 2.0).alias("cov"))
    hist = cov.withColumnRenamed("cov", "y")
    got = {
        "linear": lambda: fc.forecast_linear_seasonal(daily, grain="D", horizon=7),
        "covariate": lambda: fc.forecast_with_covariate(daily, cov, grain="D", horizon=7),
        "changepoint": lambda: fc.forecast_changepoint(daily, grain="D", horizon=7),
        "covariate_changepoint": lambda: fc.forecast_covariate_changepoint(
            daily, cov, grain="D", horizon=7
        ),
        "linear_chain": lambda: fc.forecast_covariate_chain(
            daily, hist, grain="D", horizon=7, cov_horizon=7
        ),
        "changepoint_chain": lambda: fc.forecast_covariate_chain(
            daily, hist, grain=F.lit("D"), horizon=7, cov_horizon=7, changepoint_prior_scale=0.5
        ),
    }[op]()
    plan = _plan(got)
    assert _exchanges(plan) == 1
    for node in ("Window", "Python", "Join", "CartesianProduct"):
        assert node not in plan


def test_granger_native_plan_is_the_same_at_every_maxlag(spark, daily):
    # one collect, a few projections over the series row and one
    # inline: the lags are array elements, so the optimized plan has the
    # same nodes and the same text (expression ids and the maxlag
    # literal masked) at any maxlag, with no Window and no Python node
    import re

    from temporal_retriever_spark.diagnostics import granger_native

    pair = daily.select("series_id", "ds", "y", (F.col("y") * 2.0).alias("x"))
    shapes = set()
    for maxlag in (3, 6, 14, 24):
        got = granger_native(pair, maxlag=maxlag)
        text = got._jdf.queryExecution().optimizedPlan().toString()
        shapes.add((len(text.splitlines()), len(re.sub(r"\d+", "0", text))))
        executed = _plan(got)
        for node in ("Window", "Python", "ArrowEval", "MapInPandas"):
            assert node not in executed, node
        assert _exchanges(executed) == 1
    assert len(shapes) == 1, shapes


def test_theta_and_baselines_no_python(spark, daily):
    from temporal_retriever_spark.forecast import forecast_baseline, forecast_theta

    assert "Python" not in _plan(forecast_theta(daily, horizon=3))
    assert "Python" not in _plan(forecast_baseline(daily, method="drift", horizon=3))


def test_embedding_outliers_broadcast_and_group_limit(spark):
    from temporal_retriever_spark.llm.similarity import embedding_group_outliers

    df = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(20)],
        "vec_id long, embedding array<double>, label int",
    )
    plan = _plan(embedding_group_outliers(df, k=2))
    assert "BroadcastExchange" in plan  # centroids broadcast back
    assert plan.count("WindowGroupLimit") == 2  # partial + final bottom-k
    assert "Python" not in plan


def test_lm_training_is_one_exchange_no_python(spark, docs):
    from temporal_retriever_spark.llm.lm import train_ngram_lm

    plan = _plan(train_ngram_lm(docs, n=3))
    assert _exchanges(plan) == 1  # the single ngram-count aggregation
    assert "Python" not in plan
    assert "Generate" in plan  # native explode, not a UDF


def test_lm_scoring_stays_jvm_side(spark, docs):
    from temporal_retriever_spark.llm.lm import score_ngram_lm, train_ngram_lm

    model = train_ngram_lm(docs, n=3)
    plan = _plan(score_ngram_lm(docs, model, n=3))
    assert "Python" not in plan  # ln/exp/joins all native
    # doc text is consumed by the first narrow explode; only
    # (id, ngram, occ) scalars reach the joins and final agg
    assert "BroadcastExchange" in plan or "Exchange hashpartitioning" in plan


def test_kn_training_is_one_corpus_pass(spark, docs):
    from temporal_retriever_spark.llm.lm import train_kn_lm

    plan = _plan(train_kn_lm(docs, n=3))
    # all orders ride ONE projection over ONE scan of the docs; the
    # only exchange is the (order, gram) count aggregation
    assert _exchanges(plan) == 1
    assert "Python" not in plan
    assert "Generate" in plan


def test_kn_scoring_stays_jvm_side(spark, docs):
    from temporal_retriever_spark.llm.lm import score_kn_lm, train_kn_lm

    model = train_kn_lm(docs, n=3)
    plan = _plan(score_kn_lm(docs, model, n=3))
    # greatest/ln/exp and every per-order lookup join are native
    assert "Python" not in plan
    assert "Generate" in plan  # the one narrow doc explode


def test_bpe_encode_is_single_arrow_pass_no_shuffle(spark, docs):
    from temporal_retriever_spark.llm.bpe import bpe_encode

    plan = _plan(bpe_encode(docs, [("a", "b")]))
    assert _exchanges(plan) == 0
    assert plan.count("MapInPandas") == 1  # one Arrow stage, no per-row UDF


def test_semantic_dedup_vectors_shuffle_once(spark):
    from temporal_retriever_spark.llm.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(i, [float(i % 5), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    plan = _plan(
        semantic_dedup(df, threshold=0.99, centroids=[[1.0, 0.0], [0.0, 1.0]])
    )
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    # nested-loop joins appear ONLY as the k-row broadcast-centroid
    # assignment crossJoin (the assignment subtree shows once per
    # self-join branch pre-AQE; ReuseExchange / caller persist dedupes
    # at runtime — documented in the operator); the PAIR join itself
    # must be cluster-keyed, never nested-loop
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight, Cross" in line  # the centroid crossJoin
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)


def test_kalman_filter_single_grouped_arrow_pass(spark, daily):
    from temporal_retriever_spark.statespace import kalman_local_level

    plan = _plan(kalman_local_level(daily, q=1.0, r=1.0))
    assert _exchanges(plan) == 1  # the groupBy(series) exchange
    assert plan.count("FlatMapGroupsInPandas") == 1


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=16).tolist()) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_sq8_encode_is_shuffle_free_projection(spark, vectors):
    from temporal_retriever_spark.llm.pq import sq8_encode, sq8_train

    ranges = sq8_train(vectors)
    plan = _plan(sq8_encode(vectors, ranges))
    assert _exchanges(plan) == 0
    assert "Python" not in plan


def test_pq_adc_no_python_and_prepartition_topk(spark, vectors):
    from temporal_retriever_spark.llm.pq import pq_topk, pq_train

    books = pq_train(vectors, m=4, n_codes=8, max_iter=1)
    queries = vectors.filter(F.col("vec_id") < 3).selectExpr(
        "vec_id as query_id", "embedding"
    )
    plan = _plan(pq_topk(vectors, queries, books, k=3))
    assert "Python" not in plan
    # ADC scan side broadcasts the per-query LUTs, never shuffles codes
    # before the top-k rank window's partial limit
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan


def test_nb_scoring_broadcasts_model(spark, docs):
    from temporal_retriever_spark.llm.classify import NBModel, nb_score, nb_train

    # materialize the model as standalone tables (the production shape:
    # trained once, stored) so the plan shows the SCORING side only
    trained = nb_train(docs, label_col="source")
    model = NBModel(
        spark.createDataFrame(trained.token_counts.collect()),
        spark.createDataFrame(trained.label_stats.collect()),
    )
    plan = _plan(nb_score(docs, model))
    assert "Python" not in plan
    assert "BroadcastExchange" in plan
    # doc text rides one narrow scan; corpus-side shuffles are the
    # (id, token) pre-agg + the final (id, label) agg; the remaining
    # exchanges aggregate the model-sized tables (V, priors)
    assert plan.count("Scan ExistingRDD[doc_id") == 1
    assert _exchanges(plan) <= 5


def test_bm25_broadcasts_queries_and_prelimits_topk(spark, docs):
    from temporal_retriever_spark.llm.retrieval import bm25_topk

    queries = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma doc")],
        "query_id long, query_text string",
    )
    plan = _plan(bm25_topk(docs, queries, k=5))
    assert "Python" not in plan
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan


def test_multi_grain_rollup_single_exchange_with_expand(spark, daily):
    from temporal_retriever_spark.aggregate import bucket_aggregate_multi

    plan = _plan(
        bucket_aggregate_multi(
            daily, grains=("D", "W", "M"), aggs=("sum", "mean"),
            series_cols=("series_id",),
        )
    )
    assert "Expand" in plan
    assert _exchanges(plan) == 1
    assert "Python" not in plan


def test_garch_single_grouped_arrow_pass(spark, daily):
    from temporal_retriever_spark.statespace import garch_volatility

    plan = _plan(
        garch_volatility(daily, alpha=0.1, beta=0.8, omega=0.1)
    )
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert _exchanges(plan) == 1


def test_c4_clean_is_shuffle_free(spark, docs):
    from temporal_retriever_spark.llm.filters import c4_clean

    plan = _plan(c4_clean(docs))
    assert _exchanges(plan) == 0
    assert "Python" not in plan


def test_dsir_select_is_take_ordered(spark, docs):
    from temporal_retriever_spark.llm.dsir import dsir_select
    from temporal_retriever_spark.llm.lm import train_ngram_lm

    target = train_ngram_lm(docs.filter(F.col("source") == "s0"), n=2)
    raw = train_ngram_lm(docs, n=2)
    plan = _plan(dsir_select(docs, target, raw, n_select=5, n=2))
    # top-k via per-partition heaps + driver merge, not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


@pytest.fixture(scope="module")
def user_events(spark):
    from datetime import datetime, timedelta

    rows = [
        (u, datetime(2024, 1, 1) + timedelta(hours=u * 7 + i),
         ["click", "view", "purchase"][i % 3])
        for u in range(20)
        for i in range(6)
    ]
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )


def test_funnel_single_exchange_no_python(spark, user_events):
    from temporal_retriever_spark.funnel import funnel

    plan = _plan(funnel(user_events, ["click", "view", "purchase"]))
    assert _exchanges(plan) == 1
    assert "Python" not in plan


def test_scd2_single_window_exchange(spark, user_events):
    from temporal_retriever_spark.history import scd2_history

    plan = _plan(
        scd2_history(
            user_events, key_cols=["user_id"], ts_col="ts",
            attr_cols=["event_type"],
        )
    )
    assert _exchanges(plan) == 1
    assert "Python" not in plan


def test_fuzzy_join_no_python_native_levenshtein(spark, docs):
    from temporal_retriever_spark.fuzzy import fuzzy_join

    plan = _plan(
        fuzzy_join(
            docs, docs.selectExpr("source as source_r"),
            left_col="source", right_col="source_r", max_distance=1, q=2,
        )
    )
    assert "Python" not in plan
    assert "levenshtein" in plan


def test_transition_matrix_two_exchanges(spark, user_events):
    from temporal_retriever_spark.funnel import transition_matrix

    plan = _plan(transition_matrix(user_events))
    assert _exchanges(plan) <= 3  # lag window + count agg (+ tiny normalize)
    assert "Python" not in plan


def test_lag_features_single_window_exchange(spark, daily):
    from temporal_retriever_spark.features import make_lag_features

    plan = _plan(
        make_lag_features(daily, lags=(1, 7), roll_windows=(7, 28))
    )
    # every lag and roll shares ONE (series, order) window exchange
    assert _exchanges(plan) == 1
    assert "Python" not in plan


def test_rolling_distinct_sketch_is_two_stage(spark, user_events):
    from temporal_retriever_spark.rolling import rolling_distinct

    plan = _plan(
        rolling_distinct(
            user_events.withColumnRenamed("ts", "ds"),
            entity_col="event_type",
            series_cols=("user_id",),
            window_buckets=3,
        )
    )
    # per-bucket sketch agg + the range-window merge; ids never
    # reshuffle raw (only sketches move after the first aggregation)
    assert _exchanges(plan) <= 2
    assert "Python" not in plan


# --- B-suite headline invariants (VERDICT r5 item 8): the bench
# protocol's own queries, pinned so a de-optimization fails CI
# instead of waiting for a judge bench run ---------------------------


@pytest.fixture(scope="module")
def bench_queries(spark):
    import bench

    bench.SF_DIR = "/root/testdata/sf0.001"
    return bench.build_queries(spark)


def test_b6_covariate_forecast_plan(bench_queries):
    plan = _plan(bench_queries["B6_forecast_covariate"]())
    # no Python in the hot path and no join: the history and future-grid
    # covariate joins run inside the per-series array program. After
    # the covariate checkpoint two exchanges remain: the target's daily
    # buckets and the forecast's one collect
    assert "Python" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert _exchanges(plan) <= 2


@contextmanager
def _job_group(spark):
    """Tags the jobs launched inside the block with a fresh job group;
    yields its id. The listener bus is drained on exit, so the status
    tracker has seen every job."""
    sc = spark.sparkContext
    group = f"stages-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()


def _stages_run(spark, build) -> int:
    """Stages that ran tasks while ``build()`` made its frame (eager
    checkpoints included) and the noop sink wrote it."""
    with _job_group(spark) as group:
        build().write.format("noop").mode("overwrite").save()
    tracker = spark.sparkContext.statusTracker()
    stage_ids = {
        s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds
    }
    infos = [tracker.getStageInfo(s) for s in stage_ids]
    return sum(1 for i in infos if i is not None and i.numCompletedTasks > 0)


def test_request_prep_and_stats_run_three_jobs(spark):
    """One scan buckets every leg of a request: preparing the
    electricity request's five legs (hourly mean and daily sum) and
    its stats action launch the aggregation's map stage, the stats
    map stage and the stats result, not a job per leg."""
    from temporal_retriever_spark import pipeline as P
    from temporal_retriever_spark.api.models import parse_analyze_request
    from tests.fixture_requests import electricity_body

    req = parse_analyze_request(electricity_body())
    with _job_group(spark) as group:
        with P._prepared_legs(spark, req) as (leg_sids, prepared):
            P._leg_stats(prepared, leg_sids)
    assert len(leg_sids) == 5
    assert len(spark.sparkContext.statusTracker().getJobIdsForGroup(group)) <= 3


@pytest.mark.parametrize(
    "name, ceiling", [("B5_forecast_univariate", 6), ("B6_forecast_covariate", 12)]
)
def test_forecast_bench_stage_counts(spark, bench_queries, name, ceiling):
    # stages launched while building and writing each bench row, the B6
    # covariate checkpoint included
    assert _stages_run(spark, bench_queries[name]) <= ceiling


def test_b9_minhash_plan(bench_queries):
    plan = _plan(bench_queries["B9_minhash_neardup"]())
    # ONE signature aggregation, band-bucket join, no Python row path
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert _exchanges(plan) <= 4


def test_b11_star_join_plan(bench_queries):
    plan = _plan(bench_queries["B11_star_join_month"]())
    # both dims broadcast: the fact table shuffles exactly once (the
    # month aggregation), never for the joins
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan
    assert _exchanges(plan) == 1
    assert "Python" not in plan


# --- round-6 operators ------------------------------------------------


def test_hll_build_single_exchange(spark, docs):
    from temporal_retriever_spark.llm.sketch import hll_build

    plan = _plan(hll_build(docs, "doc_id", p=8, key_cols=("source",)))
    # ONE bounded-cardinality aggregation: map-side partials collapse
    # each input partition to <= 2^p rows before the shuffle
    assert _exchanges(plan) == 1
    assert "Python" not in plan


def test_hist_sketch_single_exchange_and_quantiles_sketch_only(spark, docs):
    from temporal_retriever_spark.llm.sketch import hist_build, hist_quantiles

    sk = hist_build(
        docs.withColumn("v", F.length("text").cast("double")),
        "v",
        lo=0.0,
        hi=1000.0,
        bins=32,
    )
    assert _exchanges(_plan(sk)) == 1
    q = hist_quantiles(sk, (0.5, 0.9), lo=0.0, hi=1000.0, bins=32)
    plan = _plan(q)
    # quantiles touch only the <=bins-row sketch: window + min_by agg
    assert _exchanges(plan) <= 3
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_profile_table_one_agg_with_expand(spark, docs):
    from temporal_retriever_spark.quality import profile_table

    plan = _plan(profile_table(docs))
    # the whole census is ONE aggregation; exact multi-distinct
    # compiles to the Expand strategy (documented cost)
    assert _exchanges(plan) == 1
    assert "Expand" in plan
    assert "Python" not in plan


def test_calendar_features_shuffle_free(spark, daily):
    from temporal_retriever_spark.features import calendar_features

    plan = _plan(
        calendar_features(
            daily, ts_col="ds", fourier_weekly=(1, 2), fourier_yearly=(1,)
        )
    )
    assert _exchanges(plan) == 0
    assert "Python" not in plan


def test_mann_kendall_no_python_no_cartesian(spark, daily):
    from temporal_retriever_spark.diagnostics import mann_kendall

    plan = _plan(mann_kendall(daily, series_cols=("series_id",)))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    # per-series pair grid + three keyed joins: bounded exchange count
    assert _exchanges(plan) <= 9


def test_anchored_exact_pairs_plan(spark, docs):
    """The sampled-recall baseline (r7 gate contracts): anchor set is
    broadcast into the shingle restriction, no CartesianProduct, no
    Python — the whole baseline must stay a broadcast-semi + keyed
    joins so it is linear in corpus size at any SF."""
    from temporal_retriever_spark.llm.dedup import anchored_exact_pairs

    anchors = docs.select("doc_id").limit(5)
    plan = _plan(anchored_exact_pairs(docs, anchors, n=3, threshold=0.2))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_embedding_probe_exact_is_broadcast_not_cartesian(spark):
    """probe-restricted exact pairs: the fixed-size probe side must be
    the broadcast side of a nested-loop join (linear scan of the
    corpus), never a CartesianProduct shuffle."""
    import numpy as np

    from temporal_retriever_spark.llm.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    probe = emb.select("vec_id").limit(4)
    plan = _plan(
        embedding_near_dup_pairs(
            emb, threshold=0.5, method="exact", probe_ids=probe
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Python" not in plan


def test_cdc_flatten_pre_shuffle_window_group_limit(spark, user_events):
    from temporal_retriever_spark.history import apply_cdc

    changelog = user_events.select(
        "user_id",
        "ts",
        F.monotonically_increasing_id().alias("event_id"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.lit(1.0).alias("value"),
    )
    plan = _plan(apply_cdc(changelog, keys=["user_id"], ts_col="ts",
                           seq_col="event_id"))
    # last-writer-wins = rank-1 per key: partial (map-side) + final
    # WindowGroupLimit so only ~|keys| rows cross the single exchange —
    # the property that keeps a 100 TB changelog flatten shuffle-light
    assert plan.count("WindowGroupLimit") == 2
    assert _exchanges(plan) == 1
    assert "Python" not in plan


def test_streaming_bucket_aggregate_stateful_replay_parity(spark):
    """Replay-parity pin for the bucket_hour_streamed contract row: the
    chunked replay must run a StateStoreSave stateful aggregation (state
    merges buckets straddling micro-batch boundaries), terminate inside
    the cap (fail-loud, never a partial sink), and hash-match batch."""
    import shutil
    import tempfile
    import uuid

    from temporal_retriever_spark.aggregate import bucket_aggregate
    from temporal_retriever_spark.streaming import streaming_bucket_aggregate

    d = tempfile.mkdtemp(prefix="trs-bstream-pin-")
    try:
        rows = [
            ("click", f"2024-01-01 0{h}:{m:02d}:00", float(h * 60 + m))
            for h in range(4)
            for m in (1, 31, 59)
        ]
        ev = spark.createDataFrame(
            rows, "event_type string, ds string, y double"
        ).select("event_type", F.col("ds").cast("timestamp").alias("ds"), "y")
        a, b = ev.randomSplit([0.5, 0.5], seed=7)
        a.write.parquet(f"{d}/in/chunk=0")
        b.write.parquet(f"{d}/in/chunk=1")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/in/chunk=*")
        )
        agged = streaming_bucket_aggregate(
            stream, grain="H", agg="sum", series_cols=("event_type",),
            watermark="3650 days",
        )
        qname = f"pin_bstream_{uuid.uuid4().hex[:8]}"
        q = (
            agged.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
        assert q.exception() is None
        assert finished, "replay did not terminate: partial sink"
        progress = q.lastProgress
        ops = [s["operatorName"] for s in progress["stateOperators"]]
        assert "stateStoreSave" in ops, ops
        got = {
            (r["event_type"], str(r["ds"])): r["y"]
            for r in spark.table(qname).collect()
        }
        want = {
            (r["event_type"], str(r["ds"])): r["y"]
            for r in bucket_aggregate(
                ev, grain="H", agg="sum", series_cols=("event_type",)
            ).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _formatted_exchanges(df) -> list[str]:
    """Formatted-explain Exchange blocks (each lists its Input columns)."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    s = df._jdf.queryExecution().explainString(mode)
    return [
        b for b in s.split("\n\n")
        if b.strip().startswith("(") and "Exchange" in b.splitlines()[0]
    ]


def test_embedding_probe_paths_never_shuffle_wide_pairs(spark):
    """The r8 sf10 disk-full root cause, pinned: in both probe-anchored
    paths of embedding_near_dup_pairs, no exchange may carry PAIR rows
    with vector payloads — candidates shuffle as two thin ids, the
    corpus vector attaches in the reduce stage, the probe vector comes
    from a broadcast, and cosine+threshold filter before the dedup. The
    only exchange allowed to contain a vector column is the linear
    corpus-side attach (one id + one vector)."""
    import random

    from temporal_retriever_spark.llm.similarity import embedding_near_dup_pairs

    random.seed(1)
    rows = [(i, [random.random() for _ in range(8)]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probe = df.select("vec_id").limit(8)
    for method, kwargs in (
        ("lsh", dict(n_planes=2, n_tables=4, dim=8)),
        ("exact", {}),
    ):
        out = embedding_near_dup_pairs(
            df, threshold=0.3, method=method, probe_ids=probe, **kwargs
        )
        for block in _formatted_exchanges(out):
            header, input_line = block.splitlines()[0], block.splitlines()[1]
            if "BroadcastExchange" in header:
                # a broadcast of the FIXED-SIZE probe side (vectors +
                # packed LSH signatures) is the intended attach path,
                # not a pair shuffle — it is bounded by |probe|, never
                # by the corpus or the candidate count.
                continue
            vec_cols = [
                c for c in ("_ov", "_pv", "_lv", "_rv", "embedding")
                if c in input_line
            ]
            n_inputs = int(input_line.split("[")[1].split("]")[0])
            assert not (vec_cols and n_inputs > 2), (
                f"{method}: wide pair shuffle — exchange carries "
                f"{vec_cols} with {n_inputs} columns:\n{block}"
            )
