"""Plan-shape pins for the round-8 shared kNN-graph build (r7 verdict
#2): graph operators must SCAN the materialized edge relation, not
rebuild the LSH candidate pipeline inside their own plans."""

from __future__ import annotations

import os

from sql_engine_spark.plans.audit import explain_str
from sql_engine_spark.registry import all_queries


def _build(spark, sf_dir, name):
    return all_queries()[name].build(spark, sf_dir)


def test_graph_ops_scan_shared_knn_relation(spark, sf_dir):
    """After the first build, every graph operator's plan reads the
    cached kNN parquet (one FileScan of the sqe_knn_graph_ root) and contains
    NONE of the LSH-construction signatures (the `stack(` bucket
    unpivot / plane-literal aggregate) that round 7 plans carried in
    every graph query."""
    from sql_engine_spark.operators.graph import knn_graph_shared

    # prime the cache; the materialized root is the scan's grandparent dir
    files = knn_graph_shared(spark, sf_dir).inputFiles()
    root = os.path.basename(os.path.dirname(os.path.dirname(files[0])))
    assert root.startswith("sqe_knn_graph_"), root
    for name in (
        "graph_modularity",
        "graph_clustering_coefficient",
        "graph_jaccard_linkpred",
        "graph_common_neighbors",
        "graph_resource_allocation",
        "graph_degree_histogram",
        "graph_assortativity",
        "graph_mutual_knn_rate",
    ):
        spark.catalog.clearCache()
        plan = explain_str(_build(spark, sf_dir, name), "formatted")
        assert root in plan, name
        assert "stack(4, 0, __b0" not in plan, f"{name} rebuilds the LSH tables"


def test_shared_build_prunes_k_filter(spark, sf_dir):
    """k<KNN_K variants must be a rank FILTER on the shared scan — the
    pagerank edge relation reads the cached parquet with rank <= 3
    pushed to the scan. Since r13 the pagerank loop flattens its edge
    relation into a measured-size localCheckpoint at build time, so the
    guard reads the plan of the edge relation the loop consumes (the
    same knn_graph_shared(k=3) slice graph_pagerank_knn builds from),
    not the final query plan — the guarded class (a k<K variant must
    never rebuild the graph, only filter the shared scan) is unchanged."""
    import re

    from sql_engine_spark.operators.graph import knn_graph_shared

    knn_graph_shared(spark, sf_dir)  # prime
    spark.catalog.clearCache()
    edges = knn_graph_shared(spark, sf_dir, k=3).select("src", "dst")
    plan = explain_str(edges, "formatted")
    assert "sqe_knn_graph_" in plan
    assert re.search(r"PushedFilters:.*rank.*3|PushedFilters:.*LessThanOrEqual\(rank,3\)", plan), (
        plan[:3000]
    )
    assert "stack(4, 0, __b0" not in plan, "k=3 slice rebuilds the LSH tables"
