"""e2e tests for the HTTP façade (S1-S4).

POSTs the reference-shaped fixture bodies (``tests/fixture_requests``)
at a live server thread and checks responses against calling the
pipeline directly (reference app.py:25-28 /health, 96-98 /analyze,
490-492 /saturating-growth, 562-564 /saturating-growth/single)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from temporal_retriever_spark.api.models import parse_analyze_request
from temporal_retriever_spark.pipeline import analyze, saturating_growth
from temporal_retriever_spark.server import _dumps, serve_background
from tests.fixture_requests import electricity_body, example_body


@pytest.fixture(scope="module")
def server(spark):
    srv, thread = serve_background(spark)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    thread.join(timeout=5)


def _get(base: str, path: str):
    try:
        with urllib.request.urlopen(base + path, timeout=300) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def _post(base: str, path: str, body) -> tuple[int, dict]:
    data = body if isinstance(body, bytes) else json.dumps(body).encode()
    req = urllib.request.Request(
        base + path, data=data, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=600) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def _roundtrip(payload) -> dict:
    """Pipeline output -> the JSON a client would see (dates to ISO)."""
    return json.loads(_dumps(payload))


def test_health(server):
    status, body = _get(server, "/health")
    assert status == 200 and body is None


def test_unknown_routes(server):
    status, _ = _get(server, "/nope")
    assert status == 404
    status, _ = _post(server, "/nope", {})
    assert status == 404


def test_bad_json_is_422(server):
    status, body = _post(server, "/analyze", b"{not json")
    assert status == 422 and "detail" in body
    # FastAPI emits a pydantic-style error ARRAY with loc/msg/type
    (err,) = body["detail"]
    assert err["type"] == "json_invalid"
    assert err["loc"][0] == "body" and isinstance(err["loc"][1], int)
    assert "JSON decode error" in err["msg"]


def test_validation_error_body_is_pydantic_shaped(server):
    """422 bodies mirror FastAPI's RequestValidationError: detail is a
    list of {loc, msg, type} entries, loc paths the offending field,
    and all errors are collected across correlations in one response."""
    status, body = _post(
        server,
        "/analyze",
        {
            "documents": {},
            "analyticsOptions": {
                "correlations": [
                    {"id": "c0", "fromData": "a", "fromIndex": "i", "toData": "b"},
                    {"id": "c1", "fromIndex": "i", "toData": "b", "toIndex": "j"},
                ]
            },
        },
    )
    assert status == 422
    errs = body["detail"]
    assert isinstance(errs, list) and len(errs) == 2
    locs = [tuple(e["loc"]) for e in errs]
    assert ("body", "analyticsOptions", "correlations", 0, "toIndex") in locs
    assert ("body", "analyticsOptions", "correlations", 1, "fromData") in locs
    for e in errs:
        assert e["msg"] == "Field required" and e["type"] == "missing"
    # no-correlations request: single value_error entry at the list loc
    status, body = _post(server, "/analyze", {"documents": {}})
    assert status == 422
    (err,) = body["detail"]
    assert tuple(err["loc"]) == ("body", "analyticsOptions", "correlations")
    assert err["type"] == "value_error"


def test_invalid_request_is_422(server):
    status, body = _post(server, "/analyze", {"documents": {}})
    assert status == 422 and "detail" in body
    status, body = _post(
        server,
        "/analyze",
        {
            "documents": {},
            "analyticsOptions": {
                "correlations": [
                    {
                        "id": "c",
                        "fromData": "a",
                        "fromIndex": "i",
                        "toData": "b",
                        "toIndex": "j",
                        "dataSetGranularity": "Q",
                    }
                ]
            },
        },
    )
    assert status == 422


def _approx_equal(a, b, path="$"):
    """Structural equality with float tolerance: two executions of the
    same plan may differ in the last ulp when partial-aggregation order
    varies across runs, which bit-exact == turns into a flake."""
    if isinstance(a, float) or isinstance(b, float):
        assert a is not None and b is not None, path
        assert a == pytest.approx(b, rel=1e-9, abs=1e-9), path
    elif isinstance(a, dict):
        assert isinstance(b, dict) and set(a) == set(b), path
        for k in a:
            _approx_equal(a[k], b[k], f"{path}.{k}")
    elif isinstance(a, list):
        assert isinstance(b, list) and len(a) == len(b), path
        for i, (x, y) in enumerate(zip(a, b)):
            _approx_equal(x, y, f"{path}[{i}]")
    else:
        assert a == b, path


def test_analyze_example_fixture_matches_pipeline(server, spark):
    body = example_body()
    status, got = _post(server, "/analyze", body)
    assert status == 200
    want = _roundtrip(analyze(spark, parse_analyze_request(body)))
    _approx_equal(got, want)
    corr = got["correlations"]
    assert corr  # response shape: reference app.py:211-248
    first = next(iter(corr.values()))
    assert set(first) >= {
        "type",
        "diagnostics",
        "autocorrelations",
        "partialAutocorrelations",
    }


def test_saturating_growth_electricity_fixture(server, spark):
    body = electricity_body()
    status, got = _post(server, "/saturating-growth", body)
    assert status == 200
    want = _roundtrip(saturating_growth(spark, parse_analyze_request(body)))
    _approx_equal(got, want)
    for corr in got["correlations"].values():
        assert set(corr) == {"type", "predictions"}
        assert corr["type"]["growth"] in ("linear", "logistic")
        assert corr["type"]["bounds"]["min"] <= corr["type"]["bounds"]["max"]
        assert corr["predictions"]["historicalForecasts"]


def test_saturating_growth_single(server):
    body = electricity_body()
    status, got = _post(server, "/saturating-growth/single", body)
    assert status == 200
    for corr in got["correlations"].values():
        assert set(corr) == {"type", "predictions"}
        hist = corr["predictions"]["historicalForecasts"]
        assert hist
        dates = [r["date"] for r in hist]
        assert corr["type"]["bounds"]["min"] == min(dates)
        assert corr["type"]["bounds"]["max"] == max(dates)


def test_concurrent_requests_share_one_session(server):
    """Two POSTs in flight at once — thread-per-request over one Spark."""
    import threading

    body = example_body()
    results = []

    def hit():
        results.append(_post(server, "/analyze", body)[0])

    threads = [threading.Thread(target=hit) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert results == [200, 200]


def test_analyze_response_conforms_to_typed_models(server):
    """Both reference fixtures' /analyze responses validate against the
    typed response surface (reference responses.py:1-58)."""
    from temporal_retriever_spark.api.responses import (
        ResponseValidationError,
        validate_analytics_response,
    )

    for fixture in (example_body, electricity_body):
        body = fixture()
        status, got = _post(server, "/analyze", body)
        assert status == 200
        model = validate_analytics_response(got)
        assert model.correlations
        for corr in model.correlations.values():
            assert corr.diagnostics.from_.unitsForecasted >= 1
            assert corr.diagnostics.to.unitsForecasted >= 1
            if corr.type == "prophet":
                assert corr.predictions is not None
                assert corr.predictions.futureForecasts
                assert corr.regressorCoefficients
    # and the validator actually rejects malformed payloads
    import pytest as _pytest

    with _pytest.raises(ResponseValidationError, match="units"):
        validate_analytics_response(
            {"correlations": {"c": {"type": "prophet", "diagnostics": {
                "units": "Q", "from": {}, "to": {}}}}}
        )
