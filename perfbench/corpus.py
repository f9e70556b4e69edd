"""``corpus_llm``: the LLM-corpus layers over a seeded corpus.

One driver thread runs, per pass::

    llm.text.text_stats -> llm.dedup.near_dup_pairs
    -> llm.filters.repetition_stats -> llm.lm.train_kn_lm + llm.lm.score_kn_lm
    -> llm.similarity.cosine_topk

on seeded documents in five languages with planted near-duplicates and
seeded, labelled embeddings (FIXTURES.md §2.4). Each step collects its
result. Checks, after the timed window: ``n_chars`` of every document
against the generator, the planted near-duplicate pairs found, the
top-k neighbours against numpy, row counts, and the digest of every
output against the untimed warm-up pass over the same corpus.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import gen

DOCS = 400
QUERIES = 40
TOP_K = 10
LM_ORDER = 3
#: share of the planted near-duplicate pairs LSH must find
PLANTED_RECALL = 0.9


def prepare(rng, work: str) -> dict:
    os.makedirs(work, exist_ok=True)
    docs, emb = os.path.join(work, "documents.parquet"), os.path.join(work, "embeddings.parquet")
    info = gen.write_corpus(rng, docs, emb, DOCS)
    return {"documents": docs, "embeddings": emb, "planted": info["planted"]}


def _digest(rows) -> str:
    text = "\n".join(sorted(repr(tuple(r)) for r in rows))
    return hashlib.sha256(text.encode()).hexdigest()


def _topk_oracle(path: str) -> dict[int, list[int]]:
    table = pq.read_table(path).to_pydict()
    ids = np.array(table["vec_id"])
    vecs = np.array(table["embedding"], dtype="float64")
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out = {}
    for q in range(QUERIES):
        cos = unit @ unit[q]
        cos[q] = -np.inf  # include_self=False
        order = np.lexsort((ids, -cos))[:TOP_K]
        out[int(ids[q])] = [int(i) for i in ids[order]]
    return out


class Workload:
    def __init__(self, spark, inputs: dict, work: str, tracer=None):
        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer
        self.n_chars = dict(zip(*pq.read_table(
            inputs["documents"], columns=["doc_id", "n_chars"]).to_pydict().values()))
        self.topk = _topk_oracle(inputs["embeddings"])
        self.digests: dict[str, str] = {}
        self.items = DOCS

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def _pass(self) -> dict:
        from pyspark.sql import functions as F

        from temporal_retriever_spark.llm.dedup import near_dup_pairs
        from temporal_retriever_spark.llm.filters import repetition_stats
        from temporal_retriever_spark.llm.lm import score_kn_lm, train_kn_lm
        from temporal_retriever_spark.llm.similarity import cosine_topk
        from temporal_retriever_spark.llm.text import text_stats

        docs = self.spark.read.parquet(self.inputs["documents"])
        emb = self.spark.read.parquet(self.inputs["embeddings"])
        out = {}
        with self._span("llm.text.text_stats"):
            out["text_stats"] = text_stats(docs).collect()
        with self._span("llm.dedup.near_dup_pairs"):
            out["near_dup"] = near_dup_pairs(docs).collect()
        with self._span("llm.filters.repetition_stats"):
            out["repetition"] = repetition_stats(docs).collect()
        with self._span("llm.lm.train_kn_lm"):
            model = train_kn_lm(docs.filter(F.col("lang") == "en"), n=LM_ORDER).cache()
            model.count()
        with self._span("llm.lm.score_kn_lm"):
            out["kn_lm"] = score_kn_lm(docs, model, n=LM_ORDER).collect()
        model.unpersist()
        queries = emb.filter(F.col("vec_id") < QUERIES).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        with self._span("llm.similarity.cosine_topk"):
            out["topk"] = cosine_topk(emb, queries, k=TOP_K).collect()
        return out

    def _check(self, out: dict) -> bool:
        stats = {r["doc_id"]: r["n_chars"] for r in out["text_stats"]}
        if stats != self.n_chars:
            return False
        if len(out["repetition"]) != DOCS or len(out["kn_lm"]) != DOCS:
            return False
        found = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in out["near_dup"]}
        planted = [tuple(sorted(p)) for p in self.inputs["planted"]]
        if sum(p in found for p in planted) < PLANTED_RECALL * len(planted):
            return False
        topk: dict[int, list[tuple[int, int]]] = {}
        for r in out["topk"]:
            topk.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
        if {q: [v for _, v in sorted(rows)] for q, rows in topk.items()} != self.topk:
            return False
        digests = {k: _digest(v) for k, v in out.items()}
        if not self.digests:
            self.digests = digests
        return digests == self.digests

    def warmup(self) -> None:
        """One untimed pass over the same corpus; its outputs set the
        digests every timed pass must reproduce."""
        if not self._check(self._pass()):
            raise RuntimeError("corpus_llm warm-up pass failed its output checks")

    def run(self, seconds: float) -> dict:
        lat, outs = [], []
        t0 = time.perf_counter()
        while not lat or time.perf_counter() - t0 < seconds:
            start = time.perf_counter()
            outs.append(self._pass())
            lat.append(time.perf_counter() - start)
        elapsed = time.perf_counter() - t0
        return {"latency": statistics.median(lat), "mean_op": statistics.fmean(lat),
                "ops": len(lat), "items": self.items * len(lat), "elapsed": elapsed,
                "outputs": outs}

    def check(self, outs: list[dict]) -> int:
        return sum(not self._check(out) for out in outs)

    def layer_extras(self, spans: list[dict], outs: list[dict]) -> dict:
        return {"llm.dedup.near_dup_pairs.pairs_out": float(
            statistics.median(len(out["near_dup"]) for out in outs))}

    def close(self) -> None:
        pass
