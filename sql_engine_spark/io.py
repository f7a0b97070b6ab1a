"""Test-data loading helpers for the driver's TPC-H-ish tables."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# (abspath(sf_dir), dataset fingerprint, table, tag) -> row count.
# Process-local, same discipline as the shared-build caches (r8 verdict
# #3): derived-sample consumers each paid a real count() job per build.
_COUNT_CACHE: dict[tuple, int] = {}


def table_row_count(sf_dir: str, name: str) -> int:
    """Row count of `{sf_dir}/{name}.parquet` from the parquet FOOTER
    metadata — no Spark job at all. Cached per (process, dataset)."""
    import pyarrow.parquet as pq

    def compute() -> int:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            return sum(
                pq.read_metadata(os.path.join(path, f)).num_rows
                for f in sorted(os.listdir(path))
                if f.endswith(".parquet")
            )
        return pq.read_metadata(path).num_rows

    return count_cached(sf_dir, name, "__all__", compute)


def count_cached(sf_dir: str, name: str, tag: str, compute) -> int:
    """Memoized count keyed by (dataset identity, table, tag). `tag`
    distinguishes filtered counts (e.g. 'vec_id>=10') from the full
    table; `compute` runs once per (process, dataset). The key folds
    the dataset fingerprint so in-place regeneration invalidates."""
    from sql_engine_spark.sharedcost import dataset_fingerprint

    key = (
        os.path.abspath(sf_dir),
        dataset_fingerprint(sf_dir, name),
        name,
        tag,
    )
    n = _COUNT_CACHE.get(key)
    if n is None:
        n = int(compute())
        _COUNT_CACHE[key] = n
    return n


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet") if name != "events" else _load_events(spark, sf_dir)
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts to microsecond TIMESTAMP_NTZ — exactly what
    DuckDB's parquet scan yields — regardless of how the generator wrote
    it. Two layouts observed across driver testdata generations:

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so
      read as raw int64 nanos (legacy conf, runtime-settable so it works
      under the driver's own SparkSession too) and floor-truncate to
      micros.
    - parquet timestamp[us]: read natively, just cast to TIMESTAMP_NTZ
      (a wall-clock reinterpretation, no arithmetic).

    Pure JVM column map either way; no Python, scales with the scan."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
