"""Plan-shape pins for the round-8 shared pHash and hashed-shingle-set
builds (the SURVEY 7.6 template extended this session): consumers must
SCAN the materialized relations, not rebuild the DCT / tokenize-shingle
pipelines inside their own plans."""

from __future__ import annotations

import os

from sql_engine_spark.plans.audit import explain_str
from sql_engine_spark.registry import all_queries


def _build(spark, sf_dir, name):
    return all_queries()[name].build(spark, sf_dir)


def test_phash_consumers_scan_shared_relation(spark, sf_dir):
    """After the first build, every pHash operator's plan reads the
    cached fingerprint parquet and contains NO mapInPandas grid stage
    (the Python decode runs once, at build time)."""
    from sql_engine_spark.queries.round7_multimodal2 import phash_shared

    # prime the cache; the materialized root is the scan's grandparent dir
    files = phash_shared(spark, sf_dir).inputFiles()
    root = os.path.basename(os.path.dirname(os.path.dirname(files[0])))
    assert root.startswith("sqe_phash_"), root
    for name in (
        "multimodal_phash_dct",
        "multimodal_phash_near_dup",
        "multimodal_phash_cap_audit",
    ):
        spark.catalog.clearCache()
        plan = explain_str(_build(spark, sf_dir, name), "formatted")
        assert root in plan, name
        assert "MapInPandas" not in plan, f"{name} rebuilds the DCT pipeline"


def test_phash_dct_filter_pushes_to_shared_scan(spark, sf_dir):
    """The plain-documents variant is the sub-offset slice — the
    doc_id < 1e6 filter must reach the parquet scan."""
    from sql_engine_spark.queries.round7_multimodal2 import phash_shared

    phash_shared(spark, sf_dir)  # prime
    spark.catalog.clearCache()
    plan = explain_str(_build(spark, sf_dir, "multimodal_phash_dct"), "formatted")
    assert "PushedFilters" in plan and "LessThan(doc_id,1000000)" in plan, (
        plan[:3000]
    )


def test_minhash_consumers_scan_shared_hs_relation(spark, sf_dir):
    """Set-similarity operators over the full documents table must scan
    the materialized hashed-shingle relation — no tokenize/shingle
    signatures (the sentence-split regexp) in their plans."""
    from sql_engine_spark.operators.dedup import shingle_hs_shared

    # prime; the materialized root is the scan's grandparent dir
    files = shingle_hs_shared(spark, sf_dir).inputFiles()
    root = os.path.basename(os.path.dirname(os.path.dirname(files[0])))
    assert root.startswith("sqe_shingle_hs_"), root
    for name in (
        "dedup_minhash_lsh",
        "dedup_prefix_filter",
        "dedup_lsh_recall_curve",
        "dedup_minhash_bbit_audit",
    ):
        spark.catalog.clearCache()
        plan = explain_str(_build(spark, sf_dir, name), "formatted")
        # dedup_prefix_filter scans the one-level-up shared PAIR build
        # since r12 (prefix_filter_pairs_shared, itself built from the
        # hs relation) — that parquet scan is equally "no re-shingle".
        assert root in plan or "sqe_prefix_pairs_" in plan, name
        # The tokenizer signature (split of lower(trim(...))) never
        # appears: shingling ran once, at build time. The sentinel is
        # the actual textprep.tokens spelling, not a regex the repo
        # never plans.
        assert "split(lower(trim(" not in plan, (
            f"{name} re-tokenizes the corpus"
        )


def test_shared_hs_relation_scan_is_parallel(spark, sf_dir):
    """The materialized relation is written one file per core so
    consumers get a parallel first stage (a single small parquet file
    would serialize the exploded-digest map work)."""
    from sql_engine_spark.operators.dedup import shingle_hs_shared

    hs = shingle_hs_shared(spark, sf_dir)
    n_files = len(hs.inputFiles())
    assert n_files >= min(8, spark.sparkContext.defaultParallelism), n_files
