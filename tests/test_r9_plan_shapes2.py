"""Plan-shape pins for the round-9 late batch: the new retrieval
operators must SCAN the shared materialized BM25 index (no corpus
re-tokenization inside their plans), and the Bloom semi-join reduction
must actually take the broadcast-semi-join shape it claims."""

from __future__ import annotations

from sql_engine_spark.plans.audit import explain_str
from sql_engine_spark.registry import all_queries


def _build(spark, sf_dir, name):
    return all_queries()[name].build(spark, sf_dir)


def test_new_retrieval_ops_scan_shared_index(spark, sf_dir):
    """nDCG and RM3 read the materialized index parquet ('sqe_bm25_index_'
    temp root); the only allowed documents-table access is none at all
    — tokenization happened once at index-build time."""
    from sql_engine_spark.operators.retrieval import bm25_index_shared

    bm25_index_shared(spark, sf_dir)  # prime the cache
    for name in ("retrieval_ndcg_at10", "retrieval_rm3_expansion"):
        spark.catalog.clearCache()
        plan = explain_str(_build(spark, sf_dir, name), "formatted")
        assert "sqe_bm25_index_" in plan, name
        assert "documents.parquet" not in plan, (
            f"{name} re-scans the corpus text instead of the index"
        )


def test_bloom_prune_plan_is_broadcast_semi(spark, sf_dir):
    """The probe side is reduced by two broadcast LEFT SEMI joins (the
    runtime-filter shape) and the lineitem scan is column-pruned to the
    three probe columns."""
    plan = explain_str(_build(spark, sf_dir, "join_bloom_prune"), "formatted")
    assert plan.count("LeftSemi") >= 2, plan[:2000]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # Column pruning: the probe scan must not read all 11 lineitem cols.
    assert "l_shipdate" not in plan


def test_priority_sample_no_global_sort_of_corpus(spark, sf_dir):
    """The DLT top-(k+1) runs as TakeOrdered (per-partition bottom-k +
    merge), not a global Sort+Exchange of the corpus."""
    plan = explain_str(
        _build(spark, sf_dir, "sample_priority_weighted"), "formatted"
    )
    assert "TakeOrderedAndProject" in plan, plan[:2000]
