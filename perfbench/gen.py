"""Seeded input generators for every workload.

The same seed always gives byte-identical inputs. Nothing here touches
Spark: request bodies are plain dicts, tables and corpora are written
with pyarrow, so input generation is timed apart from the engine.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
EPOCH = dt.datetime(2024, 1, 1)


# ---------------------------------------------------------------------------
# request bodies (FIXTURES.md §1.1 and §1.2)
# ---------------------------------------------------------------------------


def _seasonal(rng, n: int, *, base: float, day: float, week: float, noise: float):
    t = np.arange(n)
    return (
        base
        + day * np.sin(2 * np.pi * t / 24.0)
        + week * np.sin(2 * np.pi * t / (24.0 * 7))
        + 0.002 * base * t / 24.0
        + rng.normal(0.0, noise, n)
    )


def hourly_request(rng, n_obs: int = 5000) -> dict:
    """§1.1: two flat documents of hourly, day-first non-ISO dates.

    Documents sit at the top level next to ``analyticsOptions`` (the
    notebook layout); correlations are prophet H, prophet D, granger H.
    """
    start = dt.datetime(2015, 1, 3) + dt.timedelta(days=int(rng.integers(0, 60)))
    dates = [
        (start + dt.timedelta(hours=i)).strftime("%d-%m-%Y %H:%M") for i in range(n_obs)
    ]
    demand = _seasonal(rng, n_obs, base=1100.0, day=180.0, week=60.0, noise=25.0)
    temp = _seasonal(rng, n_obs, base=27.0, day=3.5, week=0.8, noise=0.6)
    wind = np.abs(_seasonal(rng, n_obs, base=12.0, day=4.0, week=1.5, noise=1.5))
    corr = {"fromData": "weatherReport", "toData": "electricityDemand", "toIndex": "nat_demand"}
    return {
        "electricityDemand": {
            "description": "hourly national electricity demand",
            "data": [
                {"date": d, "nat_demand": round(float(v), 4)} for d, v in zip(dates, demand)
            ],
        },
        "weatherReport": {
            "description": "hourly weather at the grid's reference station",
            "data": [
                {"date": d, "T2M_toc": round(float(a), 4), "W2M_toc": round(float(b), 4)}
                for d, a, b in zip(dates, temp, wind)
            ],
        },
        "analyticsOptions": {
            "correlations": [
                {"id": "demand-temp-hourly", "type": "prophet", **corr,
                 "fromIndex": "T2M_toc", "dataSetGranularity": "H",
                 "dataAggregationType": "mean", "unitsToForecast": 48},
                {"id": "demand-wind-daily", "type": "prophet", **corr,
                 "fromIndex": "W2M_toc", "dataSetGranularity": "D",
                 "dataAggregationType": "sum", "unitsToForecast": 14},
                {"id": "demand-temp-granger", "type": "granger", **corr,
                 "fromIndex": "T2M_toc", "dataSetGranularity": "H",
                 "dataAggregationType": "mean"},
            ]
        },
    }


def _orders_doc(rng, name: str, n_rows: int, days: int) -> dict:
    day = np.sort(rng.integers(0, days, n_rows))  # duplicates within days
    secs = rng.integers(0, 86400, n_rows)
    total = np.round(rng.gamma(4.0, 60.0, n_rows) * (1 + 0.3 * np.sin(2 * np.pi * day / 7)), 2)
    ship = np.round(rng.uniform(2.0, 25.0, n_rows), 2)
    start = dt.datetime(2024, 1, 1)
    return {
        "collectionName": name,
        "typeOfData": "timeseries",
        "description": f"{name} totals per order",
        "data": [
            {
                "date": (start + dt.timedelta(days=int(d), seconds=int(s))).strftime(
                    "%Y-%m-%dT%H:%M:%SZ"
                ),
                "data": {
                    "summary": {"totalWithTax": float(t), "shippingCost": float(c)},
                    "currency": "EUR",
                },
            }
            for d, s, t, c in zip(day, secs, total, ship)
        ],
    }


def saturating_request(rng) -> dict:
    """§1.2: nested ISO-``Z`` daily order documents (dot-path values,
    same-day duplicates) with three prophet correlations, each carrying
    per-leg forecasting options (logistic growth, floors)."""
    docs = {
        "sales_order": _orders_doc(rng, "sales_order", 131, 60),
        "purchasing_order": _orders_doc(rng, "purchasing_order", 72, 60),
    }
    total, ship = "data.summary.totalWithTax", "data.summary.shippingCost"
    legs = [
        ("purchasing_order", total, "sales_order", total, "sum"),
        ("purchasing_order", ship, "sales_order", total, "mean"),
        ("sales_order", total, "purchasing_order", total, "sum"),
    ]
    correlations = [
        {"id": f"correlation-{i}", "type": "prophet", "fromData": fd, "fromIndex": fi,
         "toData": td, "toIndex": ti, "dataSetGranularity": "D",
         "dataAggregationType": agg, "unitsToForecast": 14,
         "ForecastingOptions": {
             "fromIndex": {"caps": {"fromIndex": {"floor": 0.0}}},
             "toIndex": {"growth": "logistic", "caps": {"toIndex": {"floor": 0.0}}},
         }}
        for i, (fd, fi, td, ti, agg) in enumerate(legs)
    ]
    return {"documents": docs, "analyticsOptions": {"correlations": correlations}}


# ---------------------------------------------------------------------------
# batch tables (FIXTURES.md §2.1 events, §2.2 orders)
# ---------------------------------------------------------------------------


def _ts_array(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.timestamp("us"))


def write_events(rng, path: str, n_rows: int, days: int = 60) -> None:
    """``events`` with hourly and weekly seasonality per event type."""
    span_us = days * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_rows))
    hours = (ts // 3_600_000_000) % 24
    kind = rng.integers(0, len(EVENT_TYPES), n_rows)
    value = np.round(
        rng.gamma(2.0, 10.0, n_rows) * (1.0 + 0.5 * np.sin(2 * np.pi * hours / 24)) + kind,
        3,
    )
    epoch_us = int(EPOCH.timestamp()) * 1_000_000
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype="int64")),
            "ts": _ts_array(ts + epoch_us),
            "user_id": pa.array(rng.integers(0, 50_000, n_rows).astype("int64")),
            "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[kind]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]),
        }
    )
    pq.write_table(table, path)


def write_orders(rng, path: str, n_rows: int, days: int = 730) -> None:
    day = rng.integers(0, days, n_rows)
    epoch_us = int(EPOCH.timestamp()) * 1_000_000
    weekly = 1.0 + 0.25 * np.sin(2 * np.pi * day / 7)
    table = pa.table(
        {
            "o_orderkey": pa.array(np.arange(1, n_rows + 1, dtype="int64")),
            "o_custkey": pa.array(rng.integers(1, 15_000, n_rows).astype("int64")),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_rows)]),
            "o_totalprice": pa.array(np.round(rng.gamma(3.0, 50_000.0, n_rows) * weekly, 2)),
            "o_orderdate": _ts_array(day.astype("int64") * 86_400_000_000 + epoch_us),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)[
                    rng.integers(0, 5, n_rows)
                ]
            ),
        }
    )
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# corpus (FIXTURES.md §2.4 documents / embeddings)
# ---------------------------------------------------------------------------

_VOCAB = {
    "en": "the of and to in is that for it as with was on be by this are from at an which".split(),
    "de": "der die und in den von zu das mit sich des auf für ist im dem nicht ein eine als".split(),
    "es": "de la que el en y a los se del las un por con no una su para es al".split(),
    "fr": "de la le et les des en un du une que est pour qui dans par sur au pas plus".split(),
    "zh": "的 一 是 在 不 了 有 和 人 这 中 大 为 上 个 国 我 以 要 他".split(),
}


def _content_words(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, int(rng.integers(3, 10)))) for _ in range(n)]


def write_corpus(rng, docs_path: str, emb_path: str, n_docs: int, dim: int = 64) -> dict:
    """Documents with planted near-duplicates plus labelled embeddings.

    Every fifth document (after the first) is a copy of an earlier one
    with ~5% of its words replaced. Returns the planted ``(orig, copy)``
    id pairs so the near-dup check can count how many were found.
    """
    content = _content_words(rng, 2000)
    texts, langs, planted = [], [], []
    for i in range(n_docs):
        if i % 5 == 4:
            src = int(rng.integers(0, i - 1))
            words = texts[src].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = content[int(rng.integers(0, len(content)))]
            texts.append(" ".join(words))
            langs.append(langs[src])
            planted.append((src, i))
            continue
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        stop = _VOCAB[lang]
        n_words = int(rng.integers(60, 220))
        words = [
            stop[int(rng.integers(0, len(stop)))] if rng.random() < 0.45
            else content[int(rng.integers(0, len(content)))]
            for _ in range(n_words)
        ]
        texts.append(" ".join(words).capitalize() + ".")
        langs.append(lang)
    ids = np.arange(n_docs, dtype="int64")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids),
                "text": pa.array(texts),
                "lang": pa.array(langs),
                "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n_docs)]),
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
            }
        ),
        docs_path,
    )
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = (centers[labels] + rng.normal(0.0, 0.6, (n_docs, dim))).astype("float32")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": pa.array(labels.astype("int32")),
            }
        ),
        emb_path,
    )
    return {"planted": planted}


# ---------------------------------------------------------------------------
# event stream
# ---------------------------------------------------------------------------


def write_stream_files(rng, directory: str, n_files: int, rows_per_file: int, n_series: int):
    """An in-order event stream cut into ``n_files`` parquet files.

    Columns ``(series_id, ds, y)``; each file covers the next time slice,
    so with ``maxFilesPerTrigger=1`` every micro-batch advances event
    time. File names sort in replay order.
    """
    os.makedirs(directory, exist_ok=True)
    epoch_us = int(EPOCH.timestamp()) * 1_000_000
    slice_us = 6 * 3600 * 1_000_000
    for f in range(n_files):
        ts = np.sort(rng.integers(0, slice_us, rows_per_file)) + f * slice_us + epoch_us
        sid = rng.integers(0, n_series, rows_per_file)
        y = np.round(rng.gamma(2.0, 5.0, rows_per_file) + sid % 7, 3)
        pq.write_table(
            pa.table(
                {
                    "series_id": pa.array([f"s{int(s):03d}" for s in sid]),
                    "ds": _ts_array(ts),
                    "y": pa.array(y),
                }
            ),
            os.path.join(directory, f"part-{f:04d}.parquet"),
        )
