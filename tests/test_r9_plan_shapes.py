"""Plan-shape pins for the round-9 shared triangle build (r8 verdict
#2): the four closed-wedge consumers must SCAN the materialized
triangle relation, not re-run the degree-ordered wedge enumeration in
their own plans."""

from __future__ import annotations

import os

from sql_engine_spark.plans.audit import explain_str
from sql_engine_spark.registry import all_queries


def _build(spark, sf_dir, name):
    return all_queries()[name].build(spark, sf_dir)


def test_triangle_consumers_scan_shared_relation(spark, sf_dir):
    """After the first build, every triangle consumer's plan reads the
    cached triangle parquet and contains NONE of the wedge-enumeration
    signatures (the __vk orientation struct) that round 8 plans carried
    per consumer."""
    from sql_engine_spark.operators.graph import triangle_triples_shared

    # prime the cache; the materialized root is the scan's grandparent dir
    files = triangle_triples_shared(spark, sf_dir).inputFiles()
    root = os.path.basename(os.path.dirname(os.path.dirname(files[0])))
    assert root.startswith("sqe_triangles_"), root
    for name in (
        "graph_triangle_count",
        "graph_clustering_coefficient",
        "graph_transitivity_global",
        "graph_ktruss_support",
    ):
        spark.catalog.clearCache()
        plan = explain_str(_build(spark, sf_dir, name), "formatted")
        assert root in plan, name
        assert "__vk" not in plan, f"{name} re-runs the wedge enumeration"


def test_shared_triangles_match_direct_enumeration(spark, sf_dir):
    """The materialized relation IS triangle_triples of the shared
    graph's undirected edges — set-equal, not just count-equal."""
    from sql_engine_spark.operators.dedup import release_cached
    from sql_engine_spark.operators.graph import (
        knn_graph_shared,
        triangle_triples,
        triangle_triples_shared,
        und_edges,
    )

    shared = {
        (r.x, r.y, r.z) for r in triangle_triples_shared(spark, sf_dir).collect()
    }
    direct = {
        (r.x, r.y, r.z)
        for r in triangle_triples(
            und_edges(knn_graph_shared(spark, sf_dir))
        ).collect()
    }
    release_cached()
    assert shared == direct and len(shared) > 0
