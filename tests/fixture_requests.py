"""The two reference-shaped request bodies the end-to-end tests post,
built from fixed seeds by the benchmark's generators (FIXTURES.md §1.1
and §1.2), so the suite needs no file outside the repository.

* ``example_body()``: nested ISO-``Z`` order documents ``sales_order``
  (131 rows) and ``purchasing_order`` (72 rows) with same-day
  duplicates; four prophet correlations on
  ``data.summary.totalWithTax``, daily grain, sum.
* ``electricity_body()``: flat hourly documents ``electricityDemand``
  and ``weatherReport``, 5000 rows each with day-first
  ``"%d-%m-%Y %H:%M"`` dates; three prophet correlations, the first a
  daily sum of ``nat_demand``.

Each call returns a fresh dict, so a test may edit its copy.
"""

from __future__ import annotations

import numpy as np

from perfbench import gen

EXAMPLE_SEED = 42
ELECTRICITY_SEED = 42


def example_body(seed: int = EXAMPLE_SEED) -> dict:
    docs = gen.saturating_request(np.random.default_rng(seed))["documents"]
    total = "data.summary.totalWithTax"
    legs = [
        ("purchasing_order", "sales_order", 14),
        ("sales_order", "purchasing_order", 7),
        ("purchasing_order", "sales_order", None),
        ("sales_order", "purchasing_order", 30),
    ]
    correlations = []
    for i, (src, dst, horizon) in enumerate(legs):
        corr = {
            "id": f"correlation-{i}", "type": "prophet",
            "fromData": src, "fromIndex": total, "toData": dst, "toIndex": total,
            "dataSetGranularity": "D", "dataAggregationType": "sum",
        }
        if horizon is not None:
            corr["unitsToForecast"] = horizon
        correlations.append(corr)
    return {"documents": docs, "analyticsOptions": {"correlations": correlations}}


def electricity_body(seed: int = ELECTRICITY_SEED) -> dict:
    body = gen.hourly_request(np.random.default_rng(seed))
    legs = {"type": "prophet", "fromData": "weatherReport",
            "toData": "electricityDemand", "toIndex": "nat_demand"}
    body["analyticsOptions"]["correlations"] = [
        {"id": "demand-temp-daily", **legs, "fromIndex": "T2M_toc",
         "dataSetGranularity": "D", "dataAggregationType": "sum"},
        {"id": "demand-temp-hourly", **legs, "fromIndex": "T2M_toc",
         "dataSetGranularity": "H", "dataAggregationType": "mean",
         "unitsToForecast": 48},
        {"id": "demand-wind-daily", **legs, "fromIndex": "W2M_toc",
         "dataSetGranularity": "D", "dataAggregationType": "sum",
         "unitsToForecast": 14},
    ]
    return body
