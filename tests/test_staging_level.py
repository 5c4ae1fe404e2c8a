"""Storage-level knob on staged multi-consumer frames (r10, VERDICT
task 5): the 100-TB recommendation is DISK_ONLY for corpus-sized
staged frames — the knob must change HOW the cache is held without
changing the plan shape (single cached fan-in, one base scan)."""

from __future__ import annotations

import re

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from australia_company_etl_pipeline_spark.catalog import table
from australia_company_etl_pipeline_spark.operators import dedup as dd
from australia_company_etl_pipeline_spark.operators import lm as lm_ops
from australia_company_etl_pipeline_spark.operators import staging
from tests.test_plan_shapes import _plan


def test_resolve_level_accepts_name_level_and_none():
    assert staging.resolve_level(None) == StorageLevel.MEMORY_AND_DISK
    assert staging.resolve_level("DISK_ONLY") == StorageLevel.DISK_ONLY
    assert (staging.resolve_level(StorageLevel.MEMORY_ONLY)
            == StorageLevel.MEMORY_ONLY)
    with pytest.raises(ValueError):
        staging.resolve_level("NOT_A_LEVEL")
    with pytest.raises(ValueError):
        staging.set_default_staging_level("NOT_A_LEVEL")


def test_process_default_override_round_trips():
    try:
        staging.set_default_staging_level("DISK_ONLY")
        assert staging.resolve_level(None) == StorageLevel.DISK_ONLY
    finally:
        staging.set_default_staging_level("MEMORY_AND_DISK")
    assert staging.resolve_level(None) == StorageLevel.MEMORY_AND_DISK


def test_disk_only_token_frame_keeps_single_cached_fanin(spark, sf_dir):
    """DISK_ONLY must not change the staged plan shape: two consumers
    of the token frame still fan in on the ONE cached materialization
    (InMemoryTableScan nodes — the name is historic, it covers
    disk-only caches too) over a single base-table scan."""
    docs = table(spark, sf_dir, "documents").limit(500)
    tf = lm_ops.token_frame(docs, "text", "doc_id", persist=True,
                            storage_level="DISK_ONLY")
    assert tf.storageLevel == StorageLevel.DISK_ONLY
    two = (tf.select(F.size("__toks").alias("n")).agg(F.sum("n"))
           .crossJoin(tf.agg(F.count(F.lit(1)).alias("c"))))
    plan = _plan(two)
    assert plan.count("InMemoryTableScan") >= 2, plan
    scans = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scans) <= 1, plan
    # and it actually computes
    row = two.collect()[0]
    assert row["c"] == 500


def test_disk_only_shingle_frame_values_unchanged(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(200)
    a = dd.shingle_frame(docs, "text", "doc_id", shingle=3,
                         storage_level="DISK_ONLY")
    assert a.storageLevel == StorageLevel.DISK_ONLY
    b = dd.shingle_frame(docs, "text", "doc_id", shingle=3,
                         persist=False)
    assert (a.select("doc_id", F.sha2(F.to_json(F.struct("__sh")), 256)
                     .alias("h"))
            .exceptAll(b.select(
                "doc_id", F.sha2(F.to_json(F.struct("__sh")), 256)
                .alias("h"))).count() == 0)


def test_process_default_reaches_cluster_and_corpus_stages(spark, sf_dir):
    """``set_default_staging_level`` reaches every staged frame that has
    no explicit level: the c-TF-IDF (class, term) aggregate and the
    ``prepare_training_corpus`` stage frames are held DISK_ONLY."""
    from australia_company_etl_pipeline_spark.operators import cluster
    from australia_company_etl_pipeline_spark.pipeline.corpus import (
        prepare_training_corpus,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text",
                                                    "lang").limit(300)
    try:
        staging.set_default_staging_level("DISK_ONLY")
        terms = cluster.ctfidf_terms(docs, "lang", persist=True)
        packed, _ = prepare_training_corpus(docs.drop("lang"),
                                            pack_budget=1024)
    finally:
        staging.set_default_staging_level("MEMORY_AND_DISK")
    for df in (terms, packed):
        levels = set(re.findall(r"StorageLevel\([^)]*\)", _plan(df)))
        assert levels == {"StorageLevel(disk, 1 replicas)"}, levels
