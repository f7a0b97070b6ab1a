"""The `batch_*` workloads: pinned lists of registered queries, each
built with `Query.build` and run to its sink, then checked with
`oracle.compare_query` on the same data outside the timed pass.

The lists are held here rather than imported from `bench.py`, so a
refactor of `bench.py` or of the registry cannot change a workload
without failing `tests/test_pinned.py`.
"""

from __future__ import annotations

import time

HEADLINE = [
    "tpch_q1",
    "tpch_q6_like",
    "tpch_q3_like",
    "tpch_q4_like",
    "tpch_q5_like",
    "tpch_q10_like",
    "tpch_q18_like",
    "tpch_q9_like",
    "tpch_q21_like",
    "join_inner_multi",
    "window_running",
    "events_sessionize",
    "events_user_funnel",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_brute_topk",
    "ann_ivf_topk",
    "text_token_stats",
    "range_join_buckets",
    "sample_hash",
    "skew_salted_join",
    "pipeline_curate",
]

# Four shared builds (bm25_index, rank_bm25, rank_qlm, rank_tfidf) feed
# these sixteen consumers.
RETRIEVAL = [
    "text_inverted_index",
    "text_bm25_topk",
    "retrieval_bm25f_fields",
    "retrieval_eval_report",
    "retrieval_index_stats",
    "retrieval_jm_smoothing_topk",
    "retrieval_map_mrr",
    "retrieval_ndcg_at10",
    "retrieval_phrase_match",
    "retrieval_pivoted_length_norm",
    "retrieval_qlm_dirichlet_topk",
    "retrieval_rank_agreement",
    "retrieval_rm3_expansion",
    "retrieval_rrf_fusion",
    "retrieval_snippet_best_window",
    "retrieval_tfidf_cosine_topk",
]

WORKLOAD_QUERIES = {"batch_headline": HEADLINE, "batch_retrieval": RETRIEVAL}

# How a timed query ends. `noop` runs the whole plan and keeps nothing;
# `collect` brings the rows to the driver, so the check needs no second
# run of the query.
SINKS = {"batch_headline": "noop", "batch_retrieval": "collect"}


class Collected:
    """The rows a timed `collect` returned, shaped like the part of a
    DataFrame that `oracle.compare_query` reads (`columns`, `collect`)."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def run_query(spark, q, sf_dir: str, sink: str, tracer):
    """Build one query and run it to `sink`. Returns the collected rows
    for the `collect` sink, else None."""
    with tracer.span("queries"):
        df = q.build(spark, sf_dir)
    with tracer.span("exec"):
        if sink == "collect":
            return Collected(list(df.columns), df.collect())
        df.write.mode("overwrite").format("noop").save()
    return None


def timed_pass(spark, qs, names: list[str], sf_dir: str, sink: str, tracer):
    """Run `names` once, in order. Returns per-query seconds, the queries
    that raised (the pass goes on after a failure) and collected rows."""
    from sql_engine_spark.operators.dedup import release_cached

    lat, failures, results = [], [], {}
    for name in names:
        tracer.next_op()
        t0 = time.perf_counter()
        try:
            results[name] = run_query(spark, qs[name], sf_dir, sink, tracer)
        except Exception as exc:  # noqa: BLE001 - recorded as a failed operation
            failures.append({"op": name, "error": f"{type(exc).__name__}: {str(exc)[:300]}"})
        lat.append(time.perf_counter() - t0)
        # The consumer of a query owns its persisted intermediates
        # (operators/dedup.py); drop them before the next query, untimed.
        release_cached()
    return lat, failures, results


def warm_up(spark, qs, names: list[str], sf_dir: str, sink: str) -> None:
    """Compile the plans once at a small scale, untimed."""
    from spans import Tracer

    untraced = Tracer(enabled=False)
    for name in names:
        run_query(spark, qs[name], sf_dir, sink, untraced)


def check(spark, qs, names: list[str], sf_dir: str, results: dict, failed: set[str]) -> list[dict]:
    """`oracle.compare_query` for every query that ran without error, on
    the rows the timed pass collected where it collected them."""
    from sql_engine_spark import oracle
    from sql_engine_spark.registry import Query

    con = oracle.duckdb_connection(sf_dir)
    out = []
    try:
        for name in names:
            if name in failed:
                continue
            q = qs[name]
            got = results.get(name)
            if got is not None:
                q = Query(name=q.name, build=lambda spark, sf_dir, got=got: got, oracle=q.oracle)
            try:
                res = oracle.compare_query(spark, con, q, sf_dir)
            except Exception as exc:  # noqa: BLE001 - recorded as a failed operation
                out.append({"op": name, "error": f"check raised {type(exc).__name__}: {str(exc)[:300]}"})
                continue
            if not res.ok or any(p.startswith("no oracle") for p in res.problems):
                out.append({"op": name, "error": "; ".join(res.problems)[:500]})
    finally:
        con.close()
    return out
