"""``api_analyze``: HTTP clients in a closed loop against the façade.

Two client threads post over real sockets to ``server.serve_background``;
each sends its next request only when the previous reply has been read,
and runs whole cycles of its own script, so the route mix of a run does
not depend on the seed:

* client 0: ``/analyze`` on the hourly day-first documents (FIXTURES.md
  §1.1; prophet H, prophet D, granger H)
* client 1: ``/saturating-growth`` on the nested ISO-``Z`` order
  documents (§1.2; dot-paths, same-day duplicates, logistic caps), whose
  multi-megabyte reply makes JSON encoding visible

Set-up sends each body once, concurrently; a status other than 200
stops the benchmark there. Those replies are the reference every later
reply must equal numerically. Replies are kept as bytes in the timed
window and checked after it.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import math
import statistics
import threading
import time

import gen

ROUTES = {"analyze": "/analyze", "saturating": "/saturating-growth"}
CLIENT_SCRIPTS = (("analyze",), ("saturating",))
#: span name of one HTTP round trip, per route
SPAN = {"/analyze": "http.analyze", "/saturating-growth": "http.saturating_growth"}


def prepare(rng, work: str) -> dict:
    """Encoded request bodies, one per route."""
    bodies = {"analyze": gen.hourly_request(rng), "saturating": gen.saturating_request(rng)}
    return {k: json.dumps(v).encode() for k, v in bodies.items()}


def _check_shape(key: str, body: dict, out: dict) -> bool:
    corrs = body["analyticsOptions"]["correlations"]
    got = out.get("correlations")
    if not isinstance(got, dict) or set(got) != {c["id"] for c in corrs}:
        return False
    for c in corrs:
        entry = got[c["id"]]
        if key == "analyze":
            if not {"diagnostics", "autocorrelations", "partialAutocorrelations"} <= set(entry):
                return False
            need = {"prophet": "predictions", "granger": "grangerCausality"}[c["type"]]
            if not entry.get(need):
                return False
        if "predictions" in entry and not (
            entry["predictions"]["historicalForecasts"] and entry["predictions"]["futureForecasts"]
        ):
            return False
    return True


def _close(a, b) -> bool:
    """Numeric equality with a relative tolerance; NaN equals NaN."""
    if isinstance(a, dict):
        return isinstance(b, dict) and a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
    if isinstance(a, list):
        return isinstance(b, list) and len(a) == len(b) and all(map(_close, a, b))
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def _digest(out: dict) -> str:
    return hashlib.sha256(json.dumps(out, sort_keys=True).encode()).hexdigest()


class Workload:
    """Serves the façade on ``spark`` and drives it from client threads."""

    def __init__(self, spark, inputs: dict, work: str, tracer=None):
        from temporal_retriever_spark import pipeline, server

        self.inputs = inputs
        self.bodies = {k: json.loads(v) for k, v in inputs.items()}
        self.tracer = tracer
        if tracer is not None:
            tracer.patch(server, "parse_analyze_request", "api.models.parse_analyze_request")
            tracer.patch(server, "analyze", "pipeline.analyze")
            tracer.patch(server, "saturating_growth", "pipeline.saturating_growth")
            tracer.patch(pipeline, "documents_df", "ingest.documents_df")
        self.server, self.thread = server.serve_background(spark)
        self.port = self.server.server_address[1]
        self.reference: dict[str, dict] = {}
        self.ref_digest: dict[str, str] = {}
        self.digest_mismatches = 0

    def _post(self, key: str) -> tuple[int, bytes, float]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            t0 = time.perf_counter()
            conn.request("POST", ROUTES[key], body=self.inputs[key],
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            data = resp.read()
            return resp.status, data, time.perf_counter() - t0
        finally:
            conn.close()

    def warmup(self) -> None:
        results: dict[str, tuple[int, bytes, float]] = {}

        def first(key):
            results[key] = self._post(key)

        threads = [threading.Thread(target=first, args=(k,)) for k in ROUTES]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for key in ROUTES:
            status, data, _ = results[key]
            if status != 200:
                raise RuntimeError(
                    f"first {ROUTES[key]} ({key}) returned HTTP {status}: {data[:300]!r}"
                )
            out = json.loads(data)
            if not _check_shape(key, self.bodies[key], out):
                raise RuntimeError(f"first {ROUTES[key]} ({key}) has the wrong shape")
            self.reference[key] = out
            self.ref_digest[key] = _digest(out)

    def check(self, replies: list[tuple[str, int, bytes]]) -> int:
        """Failed replies among ``(key, status, body)``: not HTTP 200,
        wrong shape, or not numerically equal to the set-up reply.
        Replies whose canonical digest differs are counted apart."""
        failed = 0
        for key, status, data in replies:
            if status != 200:
                failed += 1
                continue
            try:
                out = json.loads(data)
            except ValueError:
                failed += 1
                continue
            failed += not (_check_shape(key, self.bodies[key], out)
                           and _close(self.reference[key], out))
            self.digest_mismatches += _digest(out) != self.ref_digest[key]
        return failed

    def run_sequential(self, seconds: float) -> dict:
        """``run`` with both scripts on one client, so traced calls never
        overlap."""
        return self.run(seconds, scripts=(sum(CLIENT_SCRIPTS, ()),))

    def run(self, seconds: float, scripts=CLIENT_SCRIPTS) -> dict:
        """Closed loop in whole script cycles: a client starts another
        cycle only while ``seconds`` have not passed, and the window
        closes when the last reply is in. Only the HTTP round trip is
        timed."""
        lock = threading.Lock()
        replies: list[tuple[str, int, bytes]] = []
        lat: dict[str, list[float]] = {k: [] for k in ROUTES}
        t0 = time.perf_counter()
        deadline = t0 + seconds

        def client(idx, script):
            cycle = 0
            while time.perf_counter() < deadline:
                cycle += 1
                for n, key in enumerate(script):
                    status, data, elapsed = self._timed(key, f"c{idx}-{cycle}-{n}")
                    with lock:
                        replies.append((key, status, data))
                        lat[key].append(elapsed)

        threads = [threading.Thread(target=client, args=(i, sc)) for i, sc in enumerate(scripts)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        elapsed = time.perf_counter() - t0
        return {
            "latency": statistics.median(lat["analyze"]),
            "mean_op": statistics.fmean(x for v in lat.values() for x in v),
            "ops": len(replies),
            "items": len(replies),
            "elapsed": elapsed,
            "outputs": replies,
            "by_route": {k: [round(x, 3) for x in v] for k, v in lat.items()},
        }

    def _timed(self, key: str, request_id: str) -> tuple[int, bytes, float]:
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                return self._post(key)
            with self.tracer.span(SPAN[ROUTES[key]], request=request_id):
                return self._post(key)
        except (OSError, http.client.HTTPException):
            return 0, b"", time.perf_counter() - t0

    def layer_extras(self, spans: list[dict], outs: list) -> dict:
        """``server.overhead_s``: mean HTTP round trip minus the pipeline
        call it carried (parse, JSON encoding, socket time)."""
        by_parent: dict[int, float] = {}
        inner = {"pipeline.analyze", "pipeline.saturating_growth"}
        outer = set(SPAN.values())
        for s in spans:
            if s["name"] in inner and s["parent"] is not None:
                by_parent[s["parent"]] = s["end"] - s["start"]
        over = [
            (s["end"] - s["start"]) - by_parent[s["id"]]
            for s in spans
            if s["name"] in outer and s["id"] in by_parent
        ]
        return {"server.overhead_s": statistics.fmean(over) if over else 0.0,
                "check.digest_mismatches": float(self.digest_mismatches)}

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()
        if self.tracer is not None:
            self.tracer.restore()
