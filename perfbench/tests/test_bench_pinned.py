"""Every pinned batch query is registered and has an oracle, so a change
to bench.py or to the registry cannot silently change a workload."""

import _paths  # noqa: F401

import batch


def test_pinned_lists_have_the_expected_sizes():
    assert len(batch.HEADLINE) == 22 == len(set(batch.HEADLINE))
    assert len(batch.RETRIEVAL) == 16 == len(set(batch.RETRIEVAL))


def test_pinned_queries_are_registered_with_oracles():
    from sql_engine_spark.registry import all_queries

    qs = all_queries()
    for name in batch.HEADLINE + batch.RETRIEVAL:
        assert name in qs, f"{name} is not registered"
        assert qs[name].oracle is not None, f"{name} has no oracle"


def test_retrieval_list_is_the_whole_family():
    from sql_engine_spark.registry import all_queries

    family = {
        n for n in all_queries()
        if n.startswith("retrieval_") or n in ("text_inverted_index", "text_bm25_topk")
    }
    assert family == set(batch.RETRIEVAL)
