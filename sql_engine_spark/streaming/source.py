"""Streaming sources: file-based replay of the events table.

The reference has no streaming at all (SURVEY.md §2.5); here the same
event-analytics logic runs incrementally via Structured Streaming. A
parquet file source stands in for Kafka — on a real cluster only
`readStream.format(...)` changes, every transformation downstream is
identical (that is the point of the unified batch/stream API).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from sql_engine_spark.io import load
from sql_engine_spark.sharedcost import dataset_fingerprint, tracked_tmpdir


# (abspath(sf_dir), table, order, chunks, dataset fingerprint) -> dir.
_REPLAY_DIRS: dict[tuple, str] = {}


def events_stream(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """readStream over the events table (already ts-normalized).

    The file source needs a *directory*, so the single events.parquet is
    materialized once per process as `n_chunks` time-ordered files
    (events_replay_chunks) and replayed one file per trigger.
    """
    return table_stream(spark, sf_dir, "events", ["ts", "event_id"], n_chunks)


def table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    order_cols: list[str],
    n_chunks: int = 4,
) -> DataFrame:
    """readStream replay of any testdata table, chunked in `order_cols`
    order, one chunk per micro-batch trigger."""
    key = (
        os.path.abspath(sf_dir),
        table,
        tuple(order_cols),
        n_chunks,
        dataset_fingerprint(sf_dir, table),
    )
    if os.path.isdir(_REPLAY_DIRS.get(key, "")):
        schema = load(spark, sf_dir, table).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(_REPLAY_DIRS[key])
        )
    out_dir, stream = table_replay_chunks(spark, sf_dir, table, order_cols, n_chunks)
    _REPLAY_DIRS[key] = out_dir
    return stream


def events_replay_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int, out_dir: str | None = None
) -> tuple[str, DataFrame]:
    return table_replay_chunks(
        spark, sf_dir, "events", ["ts", "event_id"], n_chunks, out_dir
    )


def table_replay_chunks(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    order_cols: list[str],
    n_chunks: int,
    out_dir: str | None = None,
) -> tuple[str, DataFrame]:
    """Materialize a table as `n_chunks` ordered parquet files and return
    (dir, stream reading them one file per trigger) — an ordered replay
    that exercises cross-batch state like a live source would."""
    from sql_engine_spark.sharedcost import record

    t0 = time.time()
    out_dir = out_dir or tracked_tmpdir(f"{table}_replay_")
    src = load(spark, sf_dir, table)
    # Range-partition by the replay order: part-00000 holds the earliest
    # rows, and the file source's (modtime, path) ordering then replays
    # chunks in order one trigger apiece.
    (
        src.repartitionByRange(n_chunks, *order_cols)
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    # FileStreamSource orders files by modification time, and one write job
    # stamps all parts at once — force strictly increasing mtimes in path
    # (= range) order so the replay is deterministic. Backdated so any
    # later append (e.g. a sentinel file) sorts last.
    parts = sorted(
        f for f in os.listdir(out_dir) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = time.time() - 3600
    for i, fname in enumerate(parts):
        t = base + i * 10
        os.utime(os.path.join(out_dir, fname), (t, t))
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(out_dir)
    )
    record(f"replay_{table}", time.time() - t0)
    return out_dir, stream


_SENTINEL_DIRS: dict[tuple, tuple[str, object]] = {}


def sentinel_replay_dir(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    order_cols: list[str],
    n_chunks: int,
    variant: str,
    build,
) -> tuple[str, object]:
    """Replay-chunk dir with appended sentinel file(s), cached per
    (dataset fingerprint, variant) exactly like _REPLAY_DIRS: the dir
    contents are a pure function of the dataset, and each query run
    still drains its OWN stream (fresh checkpoint) over it — only the
    input materialization (range-partition write + sentinel append +
    mtime stamping) is shared per process. `build(out_dir)` writes the
    sentinels (capture list_part_files first, then stamp_files_last)
    and returns any derived payload (e.g. max ts) to cache alongside.
    """
    key = (
        os.path.abspath(sf_dir),
        table,
        tuple(order_cols),
        n_chunks,
        variant,
        dataset_fingerprint(sf_dir, table),
    )
    if key in _SENTINEL_DIRS:
        out_dir, payload = _SENTINEL_DIRS[key]
        if os.path.isdir(out_dir):
            return out_dir, payload
    out_dir, _ = table_replay_chunks(spark, sf_dir, table, order_cols, n_chunks)
    payload = build(out_dir)
    _SENTINEL_DIRS[key] = (out_dir, payload)
    return out_dir, payload


def stamp_files_last(out_dir: str, before: set[str]) -> list[str]:
    """Force every parquet part NOT in `before` to an mtime STRICTLY
    greater than all `before` files', so FileStreamSource's
    (modification-time, path) ordering processes the appended files
    last — the guarantee sentinel-flush queries rely on. Backdating the
    chunk files (table_replay_chunks) makes this overwhelmingly likely
    already; the explicit utime turns likely into certain (review: a
    tie would advance the watermark on the FIRST trigger and silently
    drop every real event as late). Returns the stamped paths."""
    latest = 0.0
    for f in before:
        try:
            latest = max(latest, os.path.getmtime(f))
        except OSError:
            pass
    added = [
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.startswith("part-")
        and f.endswith(".parquet")
        and os.path.join(out_dir, f) not in before
    ]
    for i, path in enumerate(sorted(added)):
        t = latest + 60 + i
        os.utime(path, (t, t))
    return added


def list_part_files(out_dir: str) -> set[str]:
    return {
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    }


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain a bounded stream into an in-memory table and return it as a
    batch DataFrame (test/driver harness; a production job would use a
    parquet/Kafka sink with a real trigger)."""
    checkpoint = tracked_tmpdir(f"ckpt_{name}_")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(checkpoint, "cp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = stream_df.sparkSession
    return spark.table(name)
