"""Round-7 multimodal set 2: the DCT perceptual hash (pHash) — decode a
binary payload to an 8x8 luma grid (Arrow-batched mapInPandas, the
multimodal plumbing; the grid itself is the deterministic md5-chain fake
standing in for a real thumbnail decode, per the module convention in
operators/multimodal.py), then a RELATIONAL 2-D DCT: y = C @ X @ C^T as
two matrix-multiply joins against a 64-row literal cosine-basis
relation, median-threshold the 63 AC coefficients, and pack 63 bits
into a BIGINT fingerprint.

The pHash/median-DCT scheme follows the classic perceptual-hash recipe
(Zauner 2010, "Implementation and Benchmarking of Perceptual Image Hash
Functions"); the DCT-II basis constants are Python-computed ONCE and
embedded as identical literals in both engines (libm-free house rule),
and every 8-term reduction crosses engines via ssum's shared rounding.

At 100 TB: the grid relation is 64 rows per image, both DCT joins are
against a broadcast 64-row basis, and the median/pack windows are
63-row per-image partitions — nothing corpus-wide beyond the grouped
aggregates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql_engine_spark.functions.numeric import sql_ssum, ssum
from sql_engine_spark.io import load
from sql_engine_spark.registry import register

_N = 8
# Orthonormal DCT-II basis C[u][i] = a(u) * cos((2i+1) u pi / 16),
# a(0) = sqrt(1/8), a(u>0) = 1/2 — computed once, shared literally.
_DCT_C = [
    [
        (math.sqrt(1.0 / _N) if u == 0 else math.sqrt(2.0 / _N))
        * math.cos((2 * i + 1) * u * math.pi / (2 * _N))
        for i in range(_N)
    ]
    for u in range(_N)
]
_PH_SCALE = "1000000000.0"
_MEDIAN_RANK = 32  # of the 63 AC coefficients


def _phash_oracle(source_sql: str = "SELECT doc_id, text FROM documents") -> str:
    cvals = ", ".join(
        f"({u}, {i}, CAST({_DCT_C[u][i]!r} AS DOUBLE))"
        for u in range(_N)
        for i in range(_N)
    )
    return f"""
        WITH src AS ({source_sql}),
        d AS (
            SELECT doc_id,
                   md5(text || '#0') AS h0, md5(text || '#1') AS h1,
                   md5(text || '#2') AS h2, md5(text || '#3') AS h3
            FROM src
        ),
        cells(i, j) AS (VALUES {", ".join(f"({i}, {j})" for i in range(_N) for j in range(_N))}),
        grid AS (
            SELECT doc_id, i, j,
                   (16 * (strpos('0123456789abcdef',
                                 substring(h, 2 * b + 1, 1)) - 1)
                      + (strpos('0123456789abcdef',
                                substring(h, 2 * b + 2, 1)) - 1)) AS val
            FROM (
                SELECT d.doc_id, c.i, c.j,
                       CASE (8 * c.i + c.j) // 16
                            WHEN 0 THEN h0 WHEN 1 THEN h1
                            WHEN 2 THEN h2 ELSE h3 END AS h,
                       (8 * c.i + c.j) % 16 AS b
                FROM d CROSS JOIN cells c
            )
        ),
        cmat(u, i, c) AS (VALUES {cvals}),
        t1 AS (
            SELECT grid.doc_id, cmat.u, grid.j,
                   {sql_ssum("cmat.c * CAST(grid.val AS DOUBLE)", scale=_PH_SCALE)}
                       AS tv
            FROM grid JOIN cmat ON grid.i = cmat.i
            GROUP BY grid.doc_id, cmat.u, grid.j
        ),
        y AS (
            SELECT t1.doc_id, t1.u, cmat.u AS v,
                   {sql_ssum("t1.tv * cmat.c", scale=_PH_SCALE)} AS coeff
            FROM t1 JOIN cmat ON t1.j = cmat.i
            GROUP BY t1.doc_id, t1.u, cmat.u
        ),
        ac AS (
            SELECT doc_id, u, v, coeff,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY coeff, u, v) AS rn
            FROM y WHERE NOT (u = 0 AND v = 0)
        ),
        med AS (
            SELECT doc_id, coeff AS median_coeff FROM ac
            WHERE rn = {_MEDIAN_RANK}
        )
        SELECT ac.doc_id,
               CAST(SUM(CASE WHEN ac.coeff > med.median_coeff
                             THEN (1::BIGINT << ({_N} * ac.u + ac.v - 1))
                             ELSE 0 END) AS BIGINT) AS phash,
               CAST(SUM(CASE WHEN ac.coeff > med.median_coeff
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_bits,
               MIN(med.median_coeff) AS median_coeff
        FROM ac JOIN med ON ac.doc_id = med.doc_id
        GROUP BY ac.doc_id
    """


@register(
    "multimodal_phash_dct",
    oracle=_phash_oracle(),
    doc="DCT perceptual hash (pHash, median-threshold variant per "
    "Zauner 2010): an 8x8 luma thumbnail per binary payload (Arrow- "
    "batched mapInPandas; the grid is the deterministic md5-chain "
    "fake standing in for a real decode, per operators/multimodal.py "
    "convention), then the 2-D DCT spelled RELATIONALLY — y = C X C^T "
    "as two joins against a broadcast 64-row cosine-basis relation "
    "whose constants are Python-computed shared literals — the 63 AC "
    "coefficients thresholded at their per-image median (row 32 of a "
    "63-row per-image window) and packed into a 63-bit BIGINT with "
    "exact shift arithmetic. Every 8-term DCT reduction crosses "
    "engines via ssum. Near-dup detection composes downstream via "
    "banded Hamming join exactly as dedup_simhash_hamming.",
)
def multimodal_phash_dct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The plain-documents fingerprints are the sub-offset slice of the
    # shared augmented-corpus build (phash is a pure per-row function).
    return phash_shared(spark, sf_dir).where(F.col("doc_id") < _COPY_OFFSET)


# Synthetic-copy offset shared by the near-dup / cap-audit corpus
# augmentation: every 25th payload re-appears at doc_id + _COPY_OFFSET
# with identical bytes, so the duplicate leg is exercised in data.
_COPY_OFFSET = 1_000_000

def _parquet_max_doc_id(sf_dir: str) -> int | None:
    """max(doc_id) of `{sf_dir}/documents.parquet` from the parquet
    FOOTER column statistics — no Spark job. None when statistics are
    absent (then the _COPY_OFFSET guard cannot engage; the testdata
    writer always emits them)."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "documents.parquet")
    # Accept both layouts: a single file and a Spark-written directory
    # of part files.
    if os.path.isdir(path):
        files = [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        ]
    else:
        files = [path]
    mx = None
    for fp in files:
        try:
            md = pq.read_metadata(fp)
        except OSError:
            return None
        idx = next(
            (
                i
                for i in range(md.num_columns)
                if md.schema.column(i).name == "doc_id"
            ),
            None,
        )
        if idx is None:
            return None
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(idx).statistics
            if stats is None or not stats.has_min_max:
                return None
            mx = stats.max if mx is None else max(mx, stats.max)
    return mx


def phash_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, phash, n_bits, median_coeff) over the AUGMENTED corpus
    — documents plus a re-encoded copy of every 25th payload at
    doc_id + _COPY_OFFSET, same bytes — built ONCE per (process,
    dataset) and materialized to parquet. Through round 8's first seal
    the three pHash operators (dct / near_dup / cap_audit) each rebuilt
    the grid + double-DCT pipeline from scratch (~26s combined of the
    extension bench); the fingerprint is a pure per-row function of the
    payload, so on a real cluster it is a lakehouse table written by
    the pipeline's fingerprint stage and every consumer scans it.
    Locally a temp dir carries the same contract (immutable, derived,
    keyed by dataset). The plain-documents relation IS
    `doc_id < _COPY_OFFSET` of this one — testdata doc_ids sit far
    below the offset, the same assumption the copy augmentation itself
    rests on."""
    import os

    from sql_engine_spark.io import load
    from sql_engine_spark.sharedcost import materialize

    def build(root: str) -> None:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        # The augmentation (and multimodal_phash_dct's sub-offset slice)
        # assumes real doc_ids sit below _COPY_OFFSET; on a dataset
        # violating it the slice would silently drop real documents and
        # collide with the synthetic copies — fail loudly instead
        # (r8 advice). Footer max-statistics read, not a Spark job.
        max_id = _parquet_max_doc_id(sf_dir)
        if max_id is not None and max_id >= _COPY_OFFSET:
            raise ValueError(
                f"phash_shared: max(doc_id)={max_id} >= copy offset "
                f"{_COPY_OFFSET}; raise _COPY_OFFSET above the id range"
            )
        copies = docs.where(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"), "text"
        )
        ph = phash_frame(spark, docs.unionAll(copies))
        ph.write.mode("overwrite").parquet(os.path.join(root, "phash.parquet"))

    root = materialize(spark, sf_dir, "phash", ("documents",), (), build)
    return spark.read.parquet(os.path.join(root, "phash.parquet"))


def phash_frame(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """(doc_id, phash, n_bits, median_coeff) for any (doc_id, text)
    frame — the body of multimodal_phash_dct, reusable by the near-dup
    composition over an augmented corpus."""
    import hashlib
    from typing import Iterator

    import numpy as np
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized grid emission (r13, guide §4.2): the 64 bytes per
        # doc are exactly the four concatenated md5 digests in order —
        # byte p IS digests[p // 16][p % 16] — so one frombuffer over
        # the joined digests replaces the 256-append-per-doc Python
        # loop; (i, j) are the row-major tile of p. Identical rows.
        ii = np.repeat(np.arange(_N, dtype=np.int32), _N)
        jj = np.tile(np.arange(_N, dtype=np.int32), _N)
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            buf = b"".join(
                hashlib.md5(f"{text}#{c}".encode("utf-8")).digest()
                for text in pdf["text"]
                for c in range(4)
            )
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(
                        pdf["doc_id"].to_numpy(np.int64), _N * _N
                    ),
                    "i": np.tile(ii, n),
                    "j": np.tile(jj, n),
                    "val": np.frombuffer(buf, dtype=np.uint8).astype(
                        np.int32
                    ),
                }
            )

    # Widen the narrow scan before the Python stage (the house
    # narrow-file widening rule): the doc + copies union arrives as 2
    # file splits, serializing the md5 grid onto 2 cores (measured
    # 6.5s of the 18s cold build). Downstream is groupBy ssum —
    # order-independent, so the fan-out is exact.
    grid = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(batches, "doc_id long, i int, j int, val int")
    cmat = spark.createDataFrame(
        [(u, i, _DCT_C[u][i]) for u in range(_N) for i in range(_N)],
        "u INT, i INT, c DOUBLE",
    )
    scale = float(_PH_SCALE)
    t1 = (
        grid.join(F.broadcast(cmat), "i")
        .groupBy("doc_id", "u", "j")
        .agg(
            ssum(F.col("c") * F.col("val").cast("double"), scale=scale).alias("tv")
        )
    )
    cmat2 = cmat.select(
        F.col("u").alias("v"), F.col("i").alias("j"), F.col("c").alias("c2")
    )
    from sql_engine_spark.operators.dedup import _persist

    # The coefficient relation feeds BOTH the median branch and the
    # final join — persist it so the grid + two DCT passes run once.
    y = _persist(
        t1.join(F.broadcast(cmat2), "j")
        .groupBy("doc_id", "u", "v")
        .agg(ssum(F.col("tv") * F.col("c2"), scale=scale).alias("coeff"))
    )
    ac = y.where(~((F.col("u") == 0) & (F.col("v") == 0))).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("coeff", "u", "v")
        ),
    )
    med = ac.where(F.col("rn") == _MEDIAN_RANK).select(
        "doc_id", F.col("coeff").alias("median_coeff")
    )
    pow2 = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_N} * u + v - 1 AS INT))")
    return (
        ac.join(med, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("coeff") > F.col("median_coeff"), pow2)
                .otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("phash"),
            F.sum(
                F.when(F.col("coeff") > F.col("median_coeff"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_bits"),
            F.min("median_coeff").alias("median_coeff"),
        )
    )
