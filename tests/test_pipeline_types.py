"""Correlation type dispatch: prophet | granger | univariateStatistics.

The reference declares all three in its enum (app.py:33) but only ever
runs the prophet path; granger follows the notebook prototype
(Untitled.ipynb cell 12). Implemented as intent (SURVEY W10/W11).
"""

from __future__ import annotations

import pytest

from temporal_retriever_spark.api.models import parse_analyze_request
from temporal_retriever_spark.pipeline import analyze
from tests.fixture_requests import electricity_body


@pytest.fixture(scope="module")
def mixed_request():
    body = electricity_body()
    cs = body["analyticsOptions"]["correlations"]
    cs[0]["type"] = "granger"
    cs[1]["type"] = "univariateStatistics"
    # cs[2] stays prophet
    return parse_analyze_request(body)


def test_mixed_correlation_types(spark, mixed_request):
    out = analyze(spark, mixed_request, lags=3)
    corrs = mixed_request.correlations
    by_id = out["correlations"]
    assert set(by_id) == {c.id for c in corrs}

    granger_out = by_id[corrs[0].id]
    assert "grangerCausality" in granger_out
    assert "predictions" not in granger_out
    gc = granger_out["grangerCausality"]
    assert [g["lag"] for g in gc] == list(range(1, 15))
    for g in gc:
        assert 0 <= g["pValue"] <= 1
        assert g["nObs"] > 100

    stats_out = by_id[corrs[1].id]
    assert "univariateStatistics" in stats_out
    s = stats_out["univariateStatistics"]["to"]
    assert s["n"] > 0
    assert s["min"] <= s["q25"] <= s["median"] <= s["q75"] <= s["max"]

    prophet_out = by_id[corrs[2].id]
    assert "predictions" in prophet_out
    assert len(prophet_out["predictions"]["futureForecasts"]) > 0

    # diagnostics + ACF/PACF present for every type
    for c in corrs:
        assert "diagnostics" in by_id[c.id]
        assert by_id[c.id]["autocorrelations"]["to"]["lags"][0] == 1.0
