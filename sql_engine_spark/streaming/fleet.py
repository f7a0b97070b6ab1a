"""Shared replay fleet for matview-twinned streaming queries.

Through round 8 each of the four events-sourced matview twins
(streaming_kmv_distinct, streaming_bitmap_distinct,
streaming_hellinger_drift, streaming_seasonal_strength) started its OWN
availableNow micro-batch stream over the IDENTICAL replay source
(table_stream(events, [event_id], 4)) — four scheduler spin-ups and
four source replays per process, ~2.5-3.2s apiece locally, for views
that are each a pure function of the dataset (r8 verdict #7).

This module multiplexes them: ONE foreachBatch pass per (process,
dataset, source table) whose batch handler calls EVERY registered
view's merge(). Per-query state isolation is preserved exactly — each
view keeps its own directory, its own applied-batch marker, and its own
partial_of/combine (the exactly-once commit protocol in
streaming/matview.py is untouched; the fleet only shares the
*scheduler and source scan*, never state. On a real cluster this is
one ingest job updating several downstream materialized views — the
standard multi-sink pattern). Convergence semantics are unchanged:
every registered merge is associative + commutative (counts/sums/
min/max/decimal sums/deterministic bottom-k/latest-by-distinct-seq),
so each view's drained content is bit-identical to what its solo
stream built regardless of batch composition.

Round 12 extended the fleet beyond the events table: specs declare
their source table (events / documents / orders), and the fleet runs
one replay pass per table group. The eight remaining solo matview
twins (histogram, cusum, RFM, funnel, materialized agg, source drift,
reservoir sample, CDC apply) migrated in — each had been paying its
own ~1.6-2.8s scheduler+replay floor per invocation (measured: an
identity 4-trigger stream costs 1.59s at sf0.1 against 0.20s for the
same work in batch).

Within a batch the per-view merges are independent single-writer
commits against disjoint directories, so the fleet folds them from a
small thread pool (guide §2.6 overlap-independent-jobs): each merge's
read+combine+write jobs back-fill executor slots left idle by the
others' tails.

Specs register at import time; fleet_view() drains whatever specs are
present on first use and runs a CATCH-UP pass for specs registered
later (e.g. when a test imports a single query module), so partial
imports stay correct — they just lose some sharing.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

#: Replay order per source table — the chunking every solo twin used.
_TABLE_ORDER: dict[str, list[str]] = {
    "events": ["event_id"],
    "documents": ["doc_id"],
    "orders": ["o_orderkey"],
}


@dataclass
class FleetSpec:
    name: str
    # Takes the RAW source micro-batch (all columns) — each spec does
    # its own projection, so one stream serves every view.
    partial_of: Callable[[DataFrame], DataFrame] | None
    combine: Callable[[DataFrame, DataFrame], DataFrame]
    table: str = "events"
    # Dataset-aware alternative to partial_of (r13): evaluated once per
    # drain with (spark, sf_dir), returns the per-batch partial fn.
    # Lets stream-static views (trained stats, keep-rate tables) join
    # the fleet — the static side is a pure function of the dataset and
    # is built once per drain, exactly as the solo stream built it once
    # per invocation.
    make_partial: Callable[[SparkSession, str], Callable] | None = None


_SPECS: dict[str, FleetSpec] = {}

# (abspath(sf_dir), table, dataset fingerprint) -> {spec name: view dir}
_DRAINED: dict[tuple, dict[str, str]] = {}


def register_fleet_view(
    name: str,
    *,
    partial_of: Callable[[DataFrame], DataFrame] | None = None,
    combine: Callable[[DataFrame, DataFrame], DataFrame],
    table: str = "events",
    make_partial: Callable[[SparkSession, str], Callable] | None = None,
) -> None:
    assert table in _TABLE_ORDER, table
    assert (partial_of is None) != (make_partial is None), name
    _SPECS[name] = FleetSpec(name, partial_of, combine, table, make_partial)


def fleet_view(spark: SparkSession, sf_dir: str, name: str):
    """The drained IdempotentMatView for `name`, running the shared
    replay pass for its source table if this (process, dataset) hasn't
    drained it yet."""
    from sql_engine_spark.sharedcost import dataset_fingerprint, tracked_tmpdir
    from sql_engine_spark.queries.streaming import _state_partitions
    from sql_engine_spark.streaming.matview import IdempotentMatView
    from sql_engine_spark.streaming.source import table_stream

    if name not in _SPECS:
        raise KeyError(
            f"fleet spec {name!r} is not registered — import the query "
            f"module that registers it (known: {sorted(_SPECS)})"
        )
    table = _SPECS[name].table
    key = (
        os.path.abspath(sf_dir),
        table,
        dataset_fingerprint(sf_dir, table),
    )
    dirs = _DRAINED.setdefault(key, {})
    missing = [
        n for n, s in _SPECS.items() if s.table == table and n not in dirs
    ]
    if name in missing:

        def _partial(n: str):
            s = _SPECS[n]
            if s.make_partial is not None:
                return s.make_partial(spark, sf_dir)
            return s.partial_of

        views = {
            n: IdempotentMatView(
                tracked_tmpdir(f"fleet_{n}_"),
                partial_of=_partial(n),
                combine=_SPECS[n].combine,
            )
            for n in missing
        }

        def merge_all(batch_df: DataFrame, batch_id: int) -> None:
            # Independent single-writer views, disjoint directories:
            # fold them concurrently so one view's small merge jobs
            # back-fill the tail of another's.
            if len(views) == 1:
                next(iter(views.values())).merge(batch_df, batch_id)
                return
            with ThreadPoolExecutor(max_workers=4) as pool:
                list(
                    pool.map(
                        lambda v: v.merge(batch_df, batch_id), views.values()
                    )
                )

        import time

        from sql_engine_spark.sharedcost import record

        t0 = time.time()
        with _state_partitions(spark):
            stream = table_stream(
                spark, sf_dir, table, _TABLE_ORDER[table], 4
            )
            q = (
                stream.writeStream.outputMode("append")
                .foreachBatch(merge_all)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        for n, v in views.items():
            dirs[n] = v.view_dir
        record(f"fleet_{table}", time.time() - t0)
    spec = _SPECS[name]
    # A drained view only needs read(); make_partial specs hand the
    # already-bound per-batch fn only to the draining pass above.
    return IdempotentMatView(
        dirs[name],
        partial_of=spec.partial_of or (lambda b: b),
        combine=spec.combine,
    )
