"""JVM-only custom-state streaming over foreachBatch: bounded per-key
state maintained through the IdempotentMatView commit protocol, with
per-batch output committed exactly-once by batch id.

Why this exists (guide §4.1 — eliminate the Python boundary): the
applyInPandasWithState twins pay the pandas-state API's Arrow round
trip for every row and a Python invocation per (group, batch). The
measured floor (scripts/pandas_state_floor.py) prices an IDENTITY
pandas-state op at ~7x the pure-JVM state path on the same replay —
the API, not the state logic, is the wall. Where the per-event state
transition is expressible as JVM expressions (the EWMA halving fold,
a running max-by struct), this runner keeps the same incremental
semantics — bounded per-key state, exactly-once under foreachBatch
retries and batch replays against the SAME out/state directories (the
crash tests restart a handler over the committed dirs; the registered
queries use fresh dirs per invocation, so for them the guarantee is
within-run retry idempotence — the stream itself runs on a
non-recoverable temp checkpoint) — with zero Python in the row path.

Per micro-batch the runner calls

    step(state_df_or_none, batch_df) -> (out_df, new_state_df)
    # or -> (out_df, new_state_df, persisted_frames)

and commits the two results in a fixed order:

1. `out_df` is written under out/batch_<id>/ via write-to-tmp + rename.
   A replayed batch finds the committed directory (its `_SUCCESS`
   marker) and skips the write.
2. `new_state_df` replaces the state view through IdempotentMatView's
   two-rename commit (partial_of=identity, combine=replace); a
   replayed batch sees `last_applied >= id` and skips.

Crash anywhere between the two commits is safe because the output of
batch k is a pure function of (state after k-1, batch k): a replay
recomputes identical rows, finds the output directory already
committed, and proceeds straight to the state commit. Batch ids from
one streaming query are strictly increasing, so the id-keyed skip is
exactly the dedup condition (same argument as streaming/matview.py).

Both directories are fresh per invocation (tracked_tmpdir), so every
query run drains its own stream and recomputes from the parquet
inputs — only the chunked replay input dir is process-shared
(_REPLAY_DIRS), the established source pattern.

Scale posture: state stays aggregate-sized (the step contract), the
per-batch work is ordinary whole-stage-codegen SQL sharded by the
state key, and the output moves straight from the batch computation
to its sink — no per-row JVM<->Python transpose at any volume.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from sql_engine_spark.streaming.matview import IdempotentMatView


def _output_committed(out_root: str, batch_id: int) -> bool:
    d = os.path.join(out_root, f"batch_{batch_id}")
    return os.path.isdir(d) and os.path.exists(os.path.join(d, "_SUCCESS"))


def _commit_output(out_df: DataFrame, out_root: str, batch_id: int) -> None:
    """Exactly-once parquet append keyed by batch id: write to a tmp
    dir, then a single rename publishes it. A half-written directory
    (no parquet `_SUCCESS`) from a crashed attempt is discarded."""
    if _output_committed(out_root, batch_id):
        return
    final = os.path.join(out_root, f"batch_{batch_id}")
    tmp = os.path.join(out_root, f"_tmp_{batch_id}")
    shutil.rmtree(tmp, ignore_errors=True)
    out_df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def batchstate_handler(spark: SparkSession, out_root: str, state_dir: str, step):
    """The foreachBatch handler implementing the two-commit protocol
    (module docstring). Factored out so the replay/crash semantics are
    testable without a stream; returns (handle, schemas)."""
    state = IdempotentMatView(
        state_dir,
        partial_of=lambda df: df,
        combine=lambda _cur, new: new,
    )
    schemas: dict[str, object] = {}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= state.last_applied():
            return  # retried/replayed batch: both commits are on disk
        cur = (
            state.read(spark, schema=schemas.get("state"))
            if state.last_applied() >= 0
            else None
        )
        res = step(cur, batch_df)
        # Steps that persist a shared intermediate (the windowed
        # relation feeding both commits) return it as a third element
        # so it is released once both commits hold — otherwise the
        # batch-sized cached blocks outlive the drain and bypass the
        # repo's _CACHED tracking (r12 advice).
        out_df, new_state = res[0], res[1]
        persisted = res[2] if len(res) > 2 else ()
        # Pinning the (per-query fixed) schemas skips the parquet
        # footer-inference job every later read would otherwise pay.
        schemas.setdefault("state", new_state.schema)
        schemas.setdefault("out", out_df.schema)
        try:
            _commit_output(out_df, out_root, batch_id)
            state.merge(new_state, batch_id)
        finally:
            for df in persisted:
                df.unpersist(blocking=False)

    return handle, schemas


# --- batch-state fleet -----------------------------------------------------
#
# The fleet device (streaming/fleet.py, r12 — one replay pass per
# (process, dataset, source) whose batch handler feeds every registered
# view) applied to the batch-state twins: streaming_ewma_half and
# streaming_asof_enrich drain the IDENTICAL events replay
# (events_stream, N_CHUNKS) and each paid its own availableNow
# scheduler + 4-trigger source replay per invocation. One pass now
# calls every registered step handler per batch; per-view state
# isolation is exactly run_batchstate's (own out/state dirs, the same
# two-commit protocol per handler — the fleet shares only the
# scheduler and source scan, never state). Drain cost is recorded in
# the shared_builds ledger (`bstate_fleet_<table>`).

#: name -> (table, order_cols tuple, n_chunks, step factory)
_FLEET_SPECS: dict[str, tuple] = {}

#: (abspath(sf_dir), table, order, chunks, fingerprint) -> {name: (out_root, out_schema)}
_FLEET_DRAINED: dict[tuple, dict[str, tuple]] = {}


def register_batchstate_view(
    name: str,
    *,
    table: str,
    order_cols: list[str],
    n_chunks: int,
    make_step,
) -> None:
    _FLEET_SPECS[name] = (table, tuple(order_cols), n_chunks, make_step)


def batchstate_fleet_view(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The drained batch-state output for `name`, running the shared
    replay pass for its (table, order, chunks) group if this
    (process, dataset) hasn't drained it yet."""
    import os as _os
    import time

    from sql_engine_spark.sharedcost import (
        dataset_fingerprint,
        record,
        tracked_tmpdir,
    )
    from sql_engine_spark.streaming.source import table_stream

    if name not in _FLEET_SPECS:
        raise KeyError(
            f"batch-state spec {name!r} is not registered "
            f"(known: {sorted(_FLEET_SPECS)})"
        )
    table, order, chunks, _ = _FLEET_SPECS[name]
    key = (
        _os.path.abspath(sf_dir),
        table,
        order,
        chunks,
        dataset_fingerprint(sf_dir, table),
    )
    done = _FLEET_DRAINED.setdefault(key, {})
    missing = [
        n
        for n, (t, o, c, _mk) in _FLEET_SPECS.items()
        if (t, o, c) == (table, order, chunks) and n not in done
    ]
    if name in missing:
        t0 = time.time()
        handlers = {}
        schemas_by_name = {}
        for n in missing:
            mk = _FLEET_SPECS[n][3]
            out_root = tracked_tmpdir(f"bstate_out_{n}_")
            handle, schemas = batchstate_handler(
                spark, out_root, tracked_tmpdir(f"bstate_state_{n}_"), mk()
            )
            handlers[n] = (handle, out_root)
            schemas_by_name[n] = schemas

        def handle_all(batch_df: DataFrame, batch_id: int) -> None:
            for h, _root in handlers.values():
                h(batch_df, batch_id)

        stream = table_stream(spark, sf_dir, table, list(order), chunks)
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(handle_all)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        for n, (_h, root) in handlers.items():
            sch = schemas_by_name[n].get("out")
            if sch is None:
                raise ValueError(
                    f"batchstate_fleet_view({n!r}): zero micro-batches"
                )
            done[n] = (root, sch)
        record(f"bstate_fleet_{table}", time.time() - t0)
    root, sch = done[name]
    return spark.read.schema(sch).parquet(os.path.join(root, "batch_*"))


def run_batchstate(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    step,
) -> DataFrame:
    """Drain `stream_df` (a bounded availableNow replay) through `step`
    and return the union of every batch's committed output."""
    from sql_engine_spark.sharedcost import tracked_tmpdir

    out_root = tracked_tmpdir(f"bstate_out_{name}_")
    handle, schemas = batchstate_handler(
        spark, out_root, tracked_tmpdir(f"bstate_state_{name}_"), step
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if "out" not in schemas:
        # Zero batches committed: the unmatched batch_* glob below would
        # throw an opaque PATH_NOT_FOUND, and with no step invocation
        # there is no output schema to shape an empty result — fail
        # loudly instead (r12 advice; every registered replay is
        # non-empty by construction).
        raise ValueError(
            f"run_batchstate({name!r}): the bounded replay produced "
            "zero micro-batches — the source dir is empty or the "
            "stream matched no files"
        )
    return spark.read.schema(schemas["out"]).parquet(
        os.path.join(out_root, "batch_*")
    )
