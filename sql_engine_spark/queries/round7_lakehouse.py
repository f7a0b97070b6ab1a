"""Round-7 lakehouse + calibration set: manifest-driven snapshot time
travel (the Iceberg/Delta read pattern on plain parquet), expected
calibration error (the one-number companion to the Brier decomposition
and the reliability-diagram deciles), and banded-Hamming near-dup pairs
over the DCT perceptual hash (the pHash's dedup payoff).

Determinism: snapshot contents are pure functions of the orders table;
ECE bins/counts are exact integers with ssum for the double reductions;
Hamming distances are exact bit_count(xor) integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_engine_spark.functions.numeric import dsum, sql_ssum, ssum
from sql_engine_spark.io import load
from sql_engine_spark.registry import _REGISTRY, register
from sql_engine_spark.sharedcost import tracked_tmpdir

_ECE_BINS = 10
_ECE_SCALE = "1000000000.0"


@register(
    "quality_ece",
    oracle=f"""
        WITH bounds AS (
            SELECT CAST(MIN(n_chars) AS DOUBLE) AS lo,
                   CAST(MAX(n_chars) AS DOUBLE) AS hi
            FROM documents
        ),
        fc AS (
            SELECT (CAST(n_chars AS DOUBLE) - lo) / (hi - lo) AS p,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents CROSS JOIN bounds
        ),
        binned AS (
            SELECT LEAST(CAST(FLOOR(p * {_ECE_BINS}) AS BIGINT),
                         {_ECE_BINS - 1}) AS bin, p, y
            FROM fc
        ),
        per_bin AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n_k,
                   {sql_ssum("p", scale=_ECE_SCALE)} AS sum_p,
                   CAST(SUM(y) AS BIGINT) AS pos_k
            FROM binned GROUP BY bin
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM binned),
        gaps AS (
            SELECT n_k,
                   ABS(CAST(pos_k AS DOUBLE) / CAST(n_k AS DOUBLE)
                       - sum_p / CAST(n_k AS DOUBLE)) AS gap
            FROM per_bin
        )
        SELECT n,
               {sql_ssum(
                   "CAST(n_k AS DOUBLE) * gap", scale=_ECE_SCALE
               )} / CAST(n AS DOUBLE) AS ece,
               MAX(gap) AS mce
        FROM gaps CROSS JOIN tot
        GROUP BY n
    """,
    doc="Expected / maximum calibration error of the min-max-normalized "
    "length 'forecast' of lang='en' (Naeini et al. 2015; Guo et al. "
    f"2017): {_ECE_BINS} equal-width confidence bins, ECE = sum "
    "n_k/N * |accuracy_k - confidence_k|, MCE = the max gap. One "
    "corpus pass to the bin relation; the weighted-gap reduction "
    "crosses engines via ssum; |.| and max are exact on deterministic "
    "doubles. Companion to quality_brier_decomposition (same bins, "
    "different loss) and curation_score_calibration (equal-mass "
    "deciles).",
)
def quality_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    scale = float(_ECE_SCALE)
    bounds = docs.agg(
        F.min("n_chars").cast("double").alias("lo"),
        F.max("n_chars").cast("double").alias("hi"),
    )
    fc = docs.crossJoin(F.broadcast(bounds)).select(
        ((F.col("n_chars").cast("double") - F.col("lo")) / (F.col("hi") - F.col("lo")))
        .alias("p"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    binned = fc.select(
        F.least(
            F.floor(F.col("p") * _ECE_BINS).cast("long"), F.lit(_ECE_BINS - 1)
        ).alias("bin"),
        "p",
        "y",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_k"),
        ssum(F.col("p"), scale=scale).alias("sum_p"),
        F.sum("y").cast("long").alias("pos_k"),
    )
    tot = binned.agg(F.count("*").cast("long").alias("n"))
    gaps = per_bin.select(
        "n_k",
        F.abs(
            F.col("pos_k").cast("double") / F.col("n_k").cast("double")
            - F.col("sum_p") / F.col("n_k").cast("double")
        ).alias("gap"),
    )
    return (
        gaps.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            (
                ssum(F.col("n_k").cast("double") * F.col("gap"), scale=scale)
                / F.col("n").cast("double")
            ).alias("ece"),
            F.max("gap").alias("mce"),
        )
        .select("n", "ece", "mce")
    )


@register(
    "scan_manifest_time_travel",
    oracle="""
        SELECT CAST(0 AS BIGINT) AS version,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                   AS sum_price
        FROM orders WHERE o_orderkey % 3 <> 0
        UNION ALL
        SELECT CAST(1 AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
        FROM orders
    """,
    doc="Snapshot time travel on plain parquet via a JSON manifest — "
    "the Iceberg/Delta read pattern reduced to its essence: each "
    "commit appends an immutable file set and a manifest entry "
    "(version -> file list), and a reader pins a version by loading "
    "exactly that manifest's files, immune to concurrent appends. "
    "Snapshot 0 is the base load (o_orderkey % 3 <> 0), snapshot 1 "
    "appends the rest; the operator reads BOTH versions from the same "
    "directory state — proving the old version stays readable after "
    "the new commit — and aggregates each. At 100 TB the manifest is "
    "the unit of planning: version pinning costs one small JSON read, "
    "and file-level pruning composes with the footer-stats operators.",
)
def scan_manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = tracked_tmpdir("time_travel_")
    snap0 = os.path.join(root, "snap-0")
    snap1 = os.path.join(root, "snap-1")
    od.where(F.col("o_orderkey") % 3 != 0).write.mode("overwrite").parquet(snap0)
    od.where(F.col("o_orderkey") % 3 == 0).write.mode("overwrite").parquet(snap1)
    manifest = {"0": [snap0], "1": [snap0, snap1]}
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f)

    with open(os.path.join(root, "manifest.json")) as f:
        mf = json.load(f)
    out = None
    for version in sorted(mf):
        snap = (
            spark.read.parquet(*mf[version])
            .agg(
                F.count("*").cast("long").alias("n"),
                dsum(F.col("o_totalprice")).alias("sum_price"),
            )
            .select(F.lit(int(version)).cast("long").alias("version"), "n", "sum_price")
        )
        out = snap if out is None else out.unionAll(snap)
    return out


_HAM_MAX = 6
_PH_BUCKET_CAP = 20


@register(
    "multimodal_phash_near_dup",
    oracle=None,  # composed below from the phash oracle
    doc="Near-duplicate image pairs over the DCT perceptual hash: the "
    "63-bit fingerprints from multimodal_phash_dct, bucketed by FOUR "
    "16-bit bands (a Hamming-space LSH — a pair within distance d "
    f"<= {_HAM_MAX} collides on some band whenever its differing bits "
    "miss one band, the same pigeonhole as dedup_simhash_hamming), "
    "candidate pairs verified with the exact bit_count(xor) distance. "
    "No all-pairs stage: the join is band-keyed, and band buckets "
    f"larger than {_PH_BUCKET_CAP} are dropped before the self-join "
    "(the dedup_minhash_lsh_capped device) — 16-bit bands give only "
    "65,536 buckets, so at billions of images hot buckets would "
    "otherwise go quadratic; the cap bounds the join at cap^2 per "
    "bucket and the dropped mass is an explicit recall trade "
    "documented by the cap constant — and MEASURED by "
    "multimodal_phash_cap_audit (round8_audits.py): at sf0.1 the "
    "cap=20 operating point holds pair recall 1.0 vs the exact "
    "all-pairs Hamming join (even cap=5 does — every true pair "
    "that loses a hot band still collides on another). The corpus is "
    "augmented with a re-encoded copy of every 25th payload (id + "
    "1,000,000, same bytes) so the duplicate leg is EXERCISED in data "
    "— the deterministic fake decode is hash-avalanched, so true "
    "duplicates land at distance 0 and unrelated pairs far outside "
    f"the <= {_HAM_MAX} fence. Output (a, b, hamming) per pair.",
)
def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.queries.round7_multimodal2 import phash_shared

    # Augmented-corpus fingerprints come from the shared materialized
    # build (round7_multimodal2.phash_shared) — a parquet scan, not a
    # fresh grid + double-DCT pipeline.
    ph = phash_shared(spark, sf_dir).select("doc_id", "phash")
    bands = ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("phash"), 16 * b)
                        .bitwiseAND(F.lit(65535))
                        .alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "phash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    from pyspark.sql import Window

    wb = Window.partitionBy("band", "key")
    bands = bands.withColumn("__bn", F.count("*").over(wb)).where(
        F.col("__bn") <= _PH_BUCKET_CAP
    ).drop("__bn")
    a = bands.select(
        F.col("band"),
        F.col("key"),
        F.col("doc_id").alias("a"),
        F.col("phash").alias("ha"),
    )
    b = bands.select(
        F.col("band"),
        F.col("key"),
        F.col("doc_id").alias("b"),
        F.col("phash").alias("hb"),
    )
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long"),
        )
        .where(F.col("hamming") <= _HAM_MAX)
        .select("a", "b", "hamming")
    )


def _fix_phash_pairs_oracle() -> None:
    from sql_engine_spark.queries.round7_multimodal2 import _phash_oracle

    src = (
        "SELECT doc_id, text FROM documents "
        "UNION ALL "
        "SELECT doc_id + 1000000 AS doc_id, text FROM documents "
        "WHERE doc_id % 25 = 0"
    )
    _REGISTRY["multimodal_phash_near_dup"].oracle = f"""
        WITH ph AS (
            SELECT doc_id, phash FROM ({_phash_oracle(src)})
        ),
        bands AS (
            SELECT doc_id, phash, band, key FROM (
                SELECT doc_id, phash, b.band,
                       (phash >> (16 * b.band)) & 65535 AS key
                FROM ph CROSS JOIN (
                    SELECT unnest(range(0, 4)) AS band
                ) b
            )
            QUALIFY COUNT(*) OVER (PARTITION BY band, key)
                <= {_PH_BUCKET_CAP}
        ),
        pairs AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                   l.phash AS ha, r.phash AS hb
            FROM bands l JOIN bands r
              ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
        )
        SELECT a, b,
               CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        FROM pairs
        WHERE bit_count(xor(ha, hb)) <= {_HAM_MAX}
    """


_fix_phash_pairs_oracle()
