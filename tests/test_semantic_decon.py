"""Semantic (embedding-cosine) decontamination (operators/ann.py, r7).

Planted paraphrases share NO tokens with their eval twin — the
lexical metrics (jaccard/containment) score them 0 by construction —
but sit on top of them in embedding space; the semantic pass must
catch exactly those and nothing else.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from australia_company_etl_pipeline_spark.operators import ann

DIM = 64


def _vec(seed: int) -> list[float]:
    state, out = seed * 2654435761 % (1 << 32), []
    for _ in range(DIM):
        state = (state * 1103515245 + 12345) % (1 << 31)
        out.append((state % 2001 - 1000) / 1000.0)
    n = math.sqrt(sum(x * x for x in out)) or 1.0
    return [x / n for x in out]


def _perturb(v: list[float], eps: float = 0.02) -> list[float]:
    out = [x + (eps if i % 2 else -eps) for i, x in enumerate(v)]
    n = math.sqrt(sum(x * x for x in out))
    return [x / n for x in out]


@pytest.fixture(scope="module")
def frames(spark):
    corpus = [(i, _vec(i)) for i in range(200)]
    # eval docs 1000..1004 are paraphrases of corpus docs 0..4 (same
    # embedding, tiny perturbation); 1005..1009 are unrelated
    bench = ([(1000 + i, _perturb(_vec(i))) for i in range(5)]
             + [(1005 + i, _vec(10_000 + i)) for i in range(5)])
    schema = "vec_id long, embedding array<double>"
    return (spark.createDataFrame(corpus, schema),
            spark.createDataFrame(bench, schema))


def test_finds_planted_paraphrases_only(spark, frames):
    corpus_emb, bench_emb = frames
    pairs = ann.semantic_cross_pairs(corpus_emb, bench_emb,
                                     threshold=0.95).collect()
    got = {(r.corpus_id, r.benchmark_id) for r in pairs}
    assert got == {(i, 1000 + i) for i in range(5)}
    for r in pairs:
        assert r.cosine_sim >= 0.95


def test_scores_are_exact_cosine(spark, frames):
    corpus_emb, bench_emb = frames
    pairs = ann.semantic_cross_pairs(corpus_emb, bench_emb,
                                     threshold=0.95).collect()
    for r in pairs:
        a, b = _vec(r.corpus_id), _perturb(_vec(r.benchmark_id - 1000))
        d = sum(x * y for x, y in zip(a, b))
        assert r.cosine_sim == pytest.approx(round(d, 6), abs=2e-6)


def test_no_cross_join_in_plan(spark, frames):
    corpus_emb, bench_emb = frames
    plan = (ann.semantic_cross_pairs(corpus_emb, bench_emb)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_drops_hits_keeps_unembedded(spark, frames):
    corpus_emb, bench_emb = frames
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)] + [(999, "no embedding")],
        "vec_id long, text string")
    out = ann.semantic_decontaminate(docs, corpus_emb, bench_emb,
                                     "vec_id", threshold=0.95)
    ids = {r.vec_id for r in out.collect()}
    assert ids == set(range(5, 200)) | {999}


def test_recipe_semantic_metric(spark, frames):
    from australia_company_etl_pipeline_spark.pipeline.corpus import (
        prepare_training_corpus)

    corpus_emb, bench_emb = frames
    texts = [(i, " ".join(f"w{i}t{j} unique token stream number {j}"
                          for j in range(4)))
             for i in range(200)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    emb = corpus_emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    bench_emb = bench_emb.select(F.col("vec_id").alias("doc_id"),
                                 "embedding")
    packed, report = prepare_training_corpus(
        docs, decontaminate_metric="semantic",
        benchmark_embeddings=bench_emb, semantic_embeddings=emb,
        semantic_decon_threshold=0.95,
        filter_kwargs={"min_tokens": 1, "min_quality": 0.0},
        pack_budget=2048)
    kept = {r.doc_id for r in packed.select("doc_id").collect()}
    assert kept & set(range(5)) == set()     # paraphrase twins out
    assert len(kept & set(range(5, 200))) > 150

    with pytest.raises(ValueError, match="semantic"):
        prepare_training_corpus(docs, decontaminate_metric="semantic",
                                benchmark_embeddings=bench_emb)
