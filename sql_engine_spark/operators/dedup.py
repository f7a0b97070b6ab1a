"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Design for 100 TB:
- Exact dedup is one hash-aggregate shuffle on the content key.
- MinHash signatures and SimHash are PER-ROW map work (higher-order
  functions over the token/shingle arrays, no Python, no shuffle); LSH
  banding turns near-dup detection into an equi-join on (band, band_key) —
  the only shuffles are by band key and by doc id for verification. No
  O(n^2) stage ever materializes; candidate volume is controlled by
  (num_hashes, bands).
- Pairwise (n-gram Jaccard / embedding cosine) variants take an explicit
  blocking column and are the small-block fallback, not the scale path.

Hashes are md5-based so results are engine-portable (the DuckDB oracle
computes the identical signatures); swap HASH_FN to xxhash64 for speed in
production — semantics are unchanged.
"""

from __future__ import annotations

import math
from contextlib import contextmanager
from fractions import Fraction

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sql_engine_spark.operators.textprep import shingles, tokens

# Intermediates persisted by the operators below. Strong refs on
# purpose: a child DataFrame does not retain its parent Python-side, so
# a weak set would drain before the caller could release; the list is
# bounded by the caller's release cadence (one operator = a handful of
# frames) and cleared wholesale by `release_cached`.
_CACHED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    """Persist an intermediate that several downstream joins re-read.

    The operator's (lazy) result references the persisted frame, so it
    cannot be unpersisted inside the operator without losing the reuse.
    THE CALLER OWNS THE CACHE LIFETIME: run the consuming action, then
    call `release_cached()` (or `spark.catalog.clearCache()`, as
    bench.py does between queries) so blocks don't accumulate across a
    long-lived session. Until released, eviction is Spark's LRU."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    _CACHED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every intermediate the dedup operators persisted since
    the last release (the oracle gate calls this after each query's
    collect). Returns the number of frames released. Safe to call at
    any time. blocking=False: executors drop blocks asynchronously."""
    n = 0
    while _CACHED:
        _CACHED.pop().unpersist(blocking=False)
        n += 1
    return n


def cache_mark() -> int:
    """Snapshot the persist-tracking list so a scoped builder can later
    release ONLY its own intermediates (`release_since`) without
    touching frames a calling operator persisted earlier — the targeted
    variant of `release_cached` for helpers (e.g. the shared kNN-graph
    build) that fully consume their persists with a write action."""
    return len(_CACHED)


def release_since(mark: int) -> int:
    """Unpersist intermediates appended after `cache_mark()` returned
    `mark`, leaving earlier entries tracked. Returns the count."""
    n = 0
    while len(_CACHED) > mark:
        _CACHED.pop().unpersist(blocking=False)
        n += 1
    return n

# Below this many source bytes, widening a narrow scan costs more (one
# extra exchange of raw text) than the parallelism it buys. Measured on
# local[32] at sf0.1 (594 KB, one row group): WITH the widening the
# query runs ~0.9-1.4s, without it 1.8-3.7s — the shingle/md5 map work
# is compute-bound far below typical split sizes, and a single-row-group
# parquet file cannot be split any other way. So the floor only skips
# truly trivial inputs (unit-test fixtures).
_MIN_WIDEN_BYTES = 256 << 10

# prefix_filter_pairs: broadcast the shingle-df relation only when the
# SOURCE text is at most this many on-disk bytes. Distinct 3-shingles
# grow ~linearly with corpus tokens (~1 shingle/token), and each dfs row
# is a 32-char md5 + count (~50 B serialized): 64 MiB of source text is
# roughly 10M tokens -> a dfs of a few hundred MB at worst, the upper
# end of what a broadcast should carry. Above it Catalyst gets no hint
# and plans the shuffle equi-join the prefix lemma is equally happy
# with. Derived (file-less) sources are conservatively NOT broadcast.
_PREFIX_DF_BROADCAST_MAX_SRC_BYTES = 64 << 20

# prefix_filter_pairs_from_hs: the same gate expressed against the
# MATERIALIZED hashed-shingle relation's on-disk bytes (what a shared
# parquet input exposes). The digest relation runs ~3-4x the raw text
# (one 32-hex md5 per shingle, ~1 shingle/token), so the equivalent
# bound is proportionally larger — this keeps the broadcast engaged at
# exactly the corpus sizes the source-bytes gate was tuned for.
_PREFIX_DF_BROADCAST_MAX_HS_BYTES = 256 << 20


def _threshold_fraction(threshold: float) -> Fraction:
    """The exact decimal rational for a Jaccard threshold, shared by the
    Spark pipeline and its DuckDB oracle so both prune with identical
    integer bounds. Overflow guard (r11 advisory): a threshold like 1/3
    arrives as a ~16-digit decimal string whose exact Fraction has a
    ~2^53 numerator, and size(__sorted) * t_num could then silently wrap
    bigint under non-ANSI Spark. Short decimal thresholds (0.3, 0.85, …)
    pass through exactly; anything wider is already a float
    approximation of the caller's intent, so the nearest
    million-denominator rational loses nothing real while keeping every
    integer product below 2^31 * 10^6 < 2^51 — overflow-safe for any
    shingle-set size that fits an int."""
    frac = Fraction(str(threshold))
    if frac.denominator > 10**6:
        frac = frac.limit_denominator(10**6)
    return frac

# Verify-join broadcast gate (r10 sf1 stress finding): the exact-Jaccard
# verify joins candidates (bare 16-byte id pairs) against the shingle-set
# relation TWICE. Planned as shuffle joins, the FIRST join's output — a
# candidate row with one ~2 KB digest array attached — is re-shuffled for
# the second id key; at the sf1 stress scale (43M post-filter candidates,
# measured) that fat intermediate spilled ~70 GB and died of ENOSPC. With
# the set relation broadcast (it is corpus-cardinality, tiny next to the
# candidate stream: ~80 MB at sf1), fat rows stream through two broadcast
# hash joins and the J >= t filter WITHOUT ever hitting an exchange. The
# gate reads the relation's on-disk bytes; above it (set relation itself
# huge) the shuffle join is kept — at that scale the production answer is
# bucketing both sides by id, not a broadcast.
_VERIFY_SETS_BROADCAST_MAX_BYTES = 256 << 20


def _verify_jaccard(candidates, sets, threshold: float):
    """Exact-Jaccard verify of (id_a, id_b) candidates against the
    (__id, __hs) set relation — the shared tail of the set-similarity
    family (minhash_lsh_pairs, prefix_filter_pairs). Broadcasts the set
    relation when its file-backed size passes the gate (see
    _VERIFY_SETS_BROADCAST_MAX_BYTES)."""
    files = sets.inputFiles()
    if 0 < len(files) and _total_file_bytes(files) <= _VERIFY_SETS_BROADCAST_MAX_BYTES:
        sets = F.broadcast(sets)
    jac = F.size(F.array_intersect("sa.__hs", "sb.__hs")) / F.size(
        F.array_union("sa.__hs", "sb.__hs")
    )
    return (
        candidates.join(sets.alias("sa"), F.col("id_a") == F.col("sa.__id"))
        .join(sets.alias("sb"), F.col("id_b") == F.col("sb.__id"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _total_file_bytes(files: list[str]) -> int:
    """Best-effort on-disk size of a scan's input files (local paths only;
    unknown schemes count 0 and thus never trigger the widening)."""
    import os
    from urllib.parse import urlparse

    total = 0
    for uri in files:
        p = urlparse(uri)
        if p.scheme in ("", "file"):
            try:
                total += os.path.getsize(p.path)
            except OSError:
                pass
    return total


def exact_dedup_groups(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """One row per distinct content key: representative id (min) + copy count."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("rep_id"), F.count("*").alias("n_copies")
    )


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly one row (the min-id one) per distinct content key."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(id_col)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def shingle_digests(shingle_col: str) -> "F.Column":
    """ONE md5 per shingle — the only hashing pass of the minhash pipeline."""
    return F.expr(f"transform({shingle_col}, s -> md5(s))")


def minhash_signature(digest_col: str, num_hashes: int) -> "F.Column":
    """Array of `num_hashes` minhash lanes over per-shingle md5 digests.

    One-permutation style: the 32-hex digest is split into `num_hashes`
    disjoint lanes (32/num_hashes hex chars each); lane j's minhash is the
    lexicographic min of that substring across shingles. One md5 per
    shingle instead of one per (lane, shingle) — 8x less hashing, which is
    the difference between 1 and k hash passes over 100 TB of shingles.

    Lane-width tradeoff: each lane is only 32/num_hashes hex chars (16
    bits at num_hashes=8), so for documents with >>10k distinct shingles
    min-value collisions bias the per-lane Jaccard estimate upward and
    inflate candidate-pair volume (correctness is unaffected — the exact
    Jaccard verify join filters false candidates). For very large
    documents or num_hashes > 8, derive wider lanes instead, e.g.
    `xxhash64(concat(h, lane_j))` per lane — k hash calls over the
    already-computed digests, still one md5 pass over raw shingles.
    """
    width = 32 // num_hashes
    assert width >= 1, "num_hashes must be <= 32 (md5 digest is 32 hex chars)"
    return F.expr(
        f"transform(sequence(0, {num_hashes - 1}), "
        f"  j -> array_min(transform({digest_col}, "
        f"       h -> substring(h, j * {width} + 1, {width}))))"
    )


def band_keys(sig_col: str, bands: int, rows_per_band: int) -> "F.Column":
    """LSH banding: hash each consecutive `rows_per_band` slice of the
    signature; docs sharing any band key become candidates."""
    return F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"  b -> md5(concat_ws('|', slice({sig_col}, b * {rows_per_band} + 1, {rows_per_band}))))"
    )


def hashed_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, *, shingle_k: int = 3
) -> DataFrame:
    """(__id, __hs): each document's DISTINCT k-token shingles as a
    SORTED array of per-shingle md5 digests — the shared entry stage of
    the set-similarity family (minhash_lsh_pairs, prefix_filter_pairs).
    One md5 per shingle is the only hashing pass; every consumer
    (minhash lanes, band keys, prefix ordering, exact Jaccard verify)
    works on the digests, whose set cardinalities equal the raw shingle
    sets' — so pair outputs are unchanged vs hashing inline.

    Persisted: the relation feeds the candidate join AND both verify
    sides — without it the tokenize/shingle pipeline is recomputed 3x
    (measured ~1.7x wall on 50k docs). MEMORY_AND_DISK spills on big
    corpora; Spark evicts LRU after the query completes."""
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    target = df.sparkSession.sparkContext.defaultParallelism
    # Widen a narrow file source without touching df.rdd (which would force
    # an RDD conversion boundary into the plan just to read a partition
    # count): inputFiles() is a pure-metadata probe. Non-file sources
    # (VALUES, streams) return [] and keep their upstream parallelism.
    # Size floor: skip the widening only for trivially small inputs,
    # where the exchange costs more than the serialized map work saves.
    files = src.inputFiles()
    if 0 < len(files) < target and _total_file_bytes(files) >= _MIN_WIDEN_BYTES:
        src = src.repartition(target)
    return _persist(
        src.select("__id", tokens("__text").alias("__tokens"))
        .withColumn("__sh", shingles("__tokens", shingle_k))
        .withColumn(
            "__hs",
            F.array_sort(F.expr("transform(array_distinct(__sh), s -> md5(s))")),
        )
        .select("__id", "__hs")
    )


def shingle_hs_shared(spark, sf_dir: str, *, shingle_k: int = 3) -> DataFrame:
    """The hashed-shingle-set relation over `{sf_dir}/documents`, built
    ONCE per (process, dataset, k) and materialized to parquet. Twelve
    registered operators run a set-similarity pipeline over the full
    documents table with the house shingle_k=3; through round 8's first
    seal each re-tokenized and re-hashed the corpus. The relation is a
    pure per-row function of the text, so on a real cluster it is the
    signature table written by the pipeline's fingerprint stage and
    every consumer scans it; locally a temp dir carries the same
    contract (immutable, derived, keyed by dataset + params)."""
    import os

    from sql_engine_spark.io import load
    from sql_engine_spark.sharedcost import materialize

    def build(root: str) -> None:
        docs = load(spark, sf_dir, "documents")
        hs = hashed_shingle_sets(docs, "doc_id", "text", shingle_k=shingle_k)
        # Write one file per core: a single small parquet file would hand
        # every consumer a 1-split scan and serialize its first stage
        # (the exploded-digest map work). On a cluster the fingerprint
        # table is bucketed/sized by the pipeline; locally the file count
        # carries the parallelism.
        target = spark.sparkContext.defaultParallelism
        hs.repartition(target).write.mode("overwrite").parquet(
            os.path.join(root, "hs.parquet")
        )

    root = materialize(
        spark, sf_dir, "shingle_hs", ("documents",), (shingle_k,), build
    )
    return spark.read.parquet(os.path.join(root, "hs.parquet"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, verified Jaccard >= threshold).

    Pipeline: shingle -> minhash -> band -> bucket-join -> exact-verify.
    Returns columns (id_a, id_b, jaccard).

    `max_bucket_size` bounds the self-join blowup on degenerate buckets:
    a boilerplate-heavy corpus can put millions of docs behind one band
    key, turning that bucket's candidates quadratic. Buckets larger than
    the cap are DROPPED (standard LSH-at-scale practice: a mega-bucket
    means the band carries no discriminating signal; its members still
    pair up via their other, selective bands). The count is computed with
    an unbounded window over the same (band, key) partitioning the join
    shuffles by anyway — no extra exchange. Default None = no cap, which
    keeps the oracle comparison exact on the curated testdata.
    """
    docs = hashed_shingle_sets(df, id_col, text_col, shingle_k=shingle_k)
    return minhash_lsh_pairs_from_hs(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
    )


def minhash_lsh_pairs_from_hs(
    hs: DataFrame,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """minhash_lsh_pairs over a prebuilt hashed-shingle-set relation
    (__id, __hs) — see hashed_shingle_sets / shingle_hs_shared. The
    minhash lanes, band keys, and exact Jaccard verify all derive from
    the per-shingle digests directly: lane mins and set cardinalities
    are order- and representation-independent, so the pair output is
    identical to the from-text path."""
    if max_bucket_size is None:
        candidates = minhash_lsh_candidates_from_hs(
            hs, num_hashes=num_hashes, bands=bands
        )
        return _verify_jaccard(candidates, hs.select("__id", "__hs"), threshold)
    rows_per_band = num_hashes // bands
    # Band keys as explicit columns + stack, NOT transform+posexplode: a
    # generator over an array expression re-expands the whole minhash
    # pipeline per emitted row (~20x slower); explicit columns share one
    # evaluation via common-subexpression elimination.
    key_cols = [
        F.md5(F.concat_ws("|", F.slice("__sig", b * rows_per_band + 1, rows_per_band))).alias(
            f"__k{b}"
        )
        for b in range(bands)
    ]
    stack_expr = (
        f"stack({bands}, " + ", ".join(f"{b}, __k{b}" for b in range(bands)) + ") as (__band, __key)"
    )
    buckets = (
        hs.withColumn("__sig", minhash_signature("__hs", num_hashes))
        .select("__id", *key_cols)
        .select("__id", F.expr(stack_expr))
    )
    if max_bucket_size is not None:
        # Drop members of over-cap buckets via a broadcast ANTI-join
        # against the hot-key list (tiny by definition: a mega-bucket is
        # the exception). The blacklist aggregate is map-side combinable
        # and the persist stops the signature stream being recomputed
        # for it; a count window over (band, key) computes the same
        # thing but sorts the ENTIRE bucket stream within each
        # partition — equal wall at sf0.1, strictly worse at scale.
        buckets = _persist(buckets)
        hot = (
            buckets.groupBy("__band", "__key")
            .agg(F.count("*").alias("__bn"))
            .where(F.col("__bn") > max_bucket_size)
            .select("__band", "__key")
        )
        buckets = buckets.join(F.broadcast(hot), ["__band", "__key"], "left_anti")
    a, b = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(candidates, hs.select("__id", "__hs"), threshold)


def minhash_lsh_candidates_from_hs(
    hs: DataFrame,
    *,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """The UNVERIFIED candidate pair set of minhash_lsh_pairs_from_hs —
    the distinct (id_a < id_b) pairs sharing at least one band bucket,
    before the exact-Jaccard verify. For a consumer that intersects the
    candidates with a relation already known to satisfy J >= t (e.g.
    the complete prefix-filter truth set at the same threshold), the
    verify is provably redundant: p in verified-lsh <=> p in candidates
    whenever J(p) >= t, so joining against candidates yields the
    identical hit set while skipping the per-pair set-intersection leg
    (r12, guide §1.2 don't compute what you throw away)."""
    rows_per_band = num_hashes // bands
    key_cols = [
        F.md5(
            F.concat_ws("|", F.slice("__sig", b * rows_per_band + 1, rows_per_band))
        ).alias(f"__k{b}")
        for b in range(bands)
    ]
    stack_expr = (
        f"stack({bands}, "
        + ", ".join(f"{b}, __k{b}" for b in range(bands))
        + ") as (__band, __key)"
    )
    buckets = (
        hs.withColumn("__sig", minhash_signature("__hs", num_hashes))
        .select("__id", *key_cols)
        .select("__id", F.expr(stack_expr))
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def shared_ngram_stats(
    df: DataFrame, *, id_col: str, text_col: str, ngram_k: int = 5
) -> DataFrame:
    """Per-document duplicated-span statistics — the exact-substring
    dedup posture of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (ACL 2022), at k-gram granularity: a span
    is "duplicated" if its k-gram occurs in >= 2 documents.

    Returns (id_col, n_grams, n_shared_grams, shared_frac) where
    n_grams counts the doc's DISTINCT k-grams and shared_frac is the
    fraction of them that appear in at least one other document — the
    signal used to drop or trim boilerplate-heavy documents.

    Scale shape: one explode of per-doc distinct k-grams (map; grams
    md5-hashed so the shuffled key is 32 bytes regardless of k), one
    map-side-combinable count by gram hash, one equi-join back on the
    SAME key (AQE reuses the exchange), one aggregate by doc id.
    Nothing quadratic: a gram shared by m docs costs m joined rows,
    not m^2 pairs. The gram projection is persisted (it feeds the
    count and the join probe) — caller owns the lifetime via
    release_cached().
    """
    grams = _persist(
        df.select(F.col(id_col).alias("__id"), tokens(text_col).alias("__tokens"))
        .withColumn("__g", F.explode(F.array_distinct(shingles("__tokens", ngram_k))))
        .select("__id", F.md5("__g").alias("__h"))
    )
    counts = grams.groupBy("__h").agg(F.count("*").alias("__ndocs"))
    return (
        grams.join(counts, "__h")
        .groupBy("__id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("__ndocs") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_grams"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_grams",
            "n_shared_grams",
            (F.col("n_shared_grams") / F.col("n_grams")).alias("shared_frac"),
        )
    )


# Bit i of a SimHash fingerprint votes on one BIT of the token's md5:
# hex position ((i-1) mod 32), mask tier (i-1) div 32 — tier t tests
# bit (3-t) of the hex digit, spelled as set membership so the same
# expression runs unchanged in Spark SQL and DuckDB. Tier 0 (the 0x8
# bit) reproduces the original <=32-bit scheme exactly; tiers 1-3
# extend to 128 independent bits from one digest (md5 bits are
# pairwise-independent enough for SimHash's sign-of-sum votes).
_HEX_BIT_SETS = [
    "('8','9','a','b','c','d','e','f')",  # 0x8
    "('4','5','6','7','c','d','e','f')",  # 0x4
    "('2','3','6','7','a','b','e','f')",  # 0x2
    "('1','3','5','7','9','b','d','f')",  # 0x1
]


def _hex_vote(i: int) -> tuple[int, str]:
    """(1-based hex position, IN-set) for fingerprint bit `i` (1-based)."""
    assert 1 <= i <= 128, "md5 yields at most 128 fingerprint bits"
    return ((i - 1) % 32) + 1, _HEX_BIT_SETS[(i - 1) // 32]


def simhash_bits_from_digests(digests_col: str, bits: int = 16) -> "F.Column":
    """SimHash from a MATERIALIZED array of md5(token) hex digests.

    Bit i is the sign of sum over tokens of +-1 votes from one bit of
    the token digest (the _hex_vote layout: hex position (i-1) mod 32,
    mask bit 3 - (i-1) div 32 — bits <= 32 match the historical
    one-bit-per-hex-digit scheme bit-for-bit, bits up to 128 draw the
    remaining digest bits). The digests must be a real column (an
    inlined md5 re-hashes every token per use — measured 6x wall).

    Spelled as ONE fold carrying a `bits`-wide counter array
    (zip_with accumulate), not `bits` independent aggregate()
    expressions: interpreted HOFs get no CSE, so the per-bit spelling
    walks the token array `bits` times — measured ~15% wall on the
    64-bit Hamming pairing's map stage at sf0.1. The membership test
    is integer bit arithmetic on the hex digit's value
    (instr/shiftright/&), identical in result to the IN-set spelling
    the DuckDB oracle keeps (sql_simhash_bits) — cross-engine equality
    is pinned by the oracle gate and tests/test_r5_fixes.py."""
    vote = (
        "CASE WHEN (shiftright(instr('0123456789abcdef', "
        "substring(d, CAST(pmod(i, 32) AS INT) + 1, 1)) - 1, "
        "3 - CAST(i div 32 AS INT)) & 1) = 1 THEN 1 ELSE -1 END"
    )
    return F.expr(
        "concat_ws('', transform("
        f"aggregate({digests_col}, transform(sequence(0, {bits - 1}), i -> 0), "
        f"(acc, d) -> zip_with(acc, transform(sequence(0, {bits - 1}), "
        f"i -> {vote}), (a, v) -> a + v)), "
        "c -> CASE WHEN c > 0 THEN '1' ELSE '0' END))"
    )


def simhash_bits(tokens_col: str, bits: int = 16) -> "F.Column":
    """SimHash over tokens as a `bits`-char '0'/'1' string (per-row).

    Convenience single-expression form (hashes each token `bits`
    times); hot paths should materialize `transform(tokens, md5)` into
    a column and use simhash_bits_from_digests."""
    bit_exprs = []
    for i in range(1, bits + 1):
        pos, hexset = _hex_vote(i)
        vote = (
            f"aggregate({tokens_col}, 0, (acc, t) -> acc + "
            f"(CASE WHEN substring(md5(t), {pos}, 1) IN {hexset} "
            f"THEN 1 ELSE -1 END))"
        )
        bit_exprs.append(f"(CASE WHEN ({vote}) > 0 THEN '1' ELSE '0' END)")
    return F.expr("concat(" + ", ".join(bit_exprs) + ")")


def sql_simhash_bits(tokens_expr: str, bits: int = 16) -> str:
    """DuckDB spelling of `simhash_bits` (list_reduce has no seed, but the
    +-1 votes make seedless reduction equivalent)."""
    bit_exprs = []
    for i in range(1, bits + 1):
        pos, hexset = _hex_vote(i)
        vote = (
            f"list_reduce(list_transform({tokens_expr}, t -> "
            f"CASE WHEN substring(md5(t), {pos}, 1) IN {hexset} "
            f"THEN 1 ELSE -1 END), (a, b) -> a + b)"
        )
        bit_exprs.append(f"(CASE WHEN ({vote}) > 0 THEN '1' ELSE '0' END)")
    return "concat(" + ", ".join(bit_exprs) + ")"


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    *,
    ngram_k: int = 2,
    threshold: float = 0.2,
) -> DataFrame:
    """All-pairs n-gram Jaccard within explicit blocking keys.

    The blocking column bounds the quadratic blow-up; use minhash_lsh_pairs
    when no natural blocking exists.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # Persisted: both sides of the all-pairs self-join read this projection.
    docs = _persist(
        df.select(
            F.col(id_col).alias("__id"),
            *[F.col(c) for c in block_cols],
            tokens(text_col).alias("__tokens"),
        )
        .withColumn("__sh", shingles("__tokens", ngram_k))
        .withColumn("__shset", F.array_distinct("__sh"))
        .drop("__tokens", "__sh")
    )
    a, b = docs.alias("a"), docs.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    jac = F.size(F.array_intersect("a.__shset", "b.__shset")) / F.size(
        F.array_union("a.__shset", "b.__shset")
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


@contextmanager
def _loop_shuffle_partitions(spark, n: int):
    """Temporarily pin spark.sql.shuffle.partitions for an iterative
    loop whose stages materialize EAGERLY inside the context (localCheckpoint
    compiles and runs the shuffles right away), then restore the session
    value before any corpus-sized downstream plan compiles."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


# Target edge rows per task inside the CC loop (2 longs/row → ~tens of
# MB per task): the loop width derives from the measured edge count,
# not the session default — see connected_components_fixed.
_CC_EDGES_PER_TASK = 1_000_000

# Below this measured edge count the CC loop broadcasts its label
# relation and skips per-iteration checkpoints (2M edge rows ≈ tens of
# MB — comfortably inside any broadcast budget; labels ≤ 2·edges rows).
_CC_SMALL_EDGES = 2_000_000


def connected_components_fixed(
    pairs: DataFrame, a_col: str, b_col: str, iterations: int = 3, *, eager: bool = True
) -> DataFrame:
    """Dup-pair clustering: fixed-iteration min-label propagation.

    Each node starts labeled with its own id; every iteration each node
    takes the min of its label and its neighbors' labels (one join + one
    hash aggregate per iteration — the standard large-graph CC loop,
    label diameter halves per round). A FIXED iteration count keeps the
    result a pure deterministic function of the edge set, so the DuckDB
    oracle can unroll the same iterations and hash-match even on graphs
    that haven't fully converged. Returns (node, label).
    """
    # Both edge directions from ONE evaluation of `pairs` (r12, guide
    # §1.2 don't compute things twice): a two-leg union re-runs the
    # whole upstream pair pipeline (LSH band join + exact verify) once
    # per leg when the caller hands in an unpersisted relation —
    # measured as 8 near-identical stages (2 × the 4-stage LSH
    # pipeline) in pipeline_curate_full's profile. explode(array(...))
    # emits src->dst and dst->src per pair in the same map task.
    edges = _persist(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("__e")
        ).select("__e.src", "__e.dst")
    )
    # Size the loop to the graph, not the session (r12, guide §2.2
    # scale-adaptive partitioning): checkpointed RDDs carry no size
    # statistics, so AQE can neither coalesce nor broadcast inside the
    # loop — every iteration would shuffle at full session width even
    # when the dup graph is a few hundred edges (measured at sf0.1:
    # ~3s of 32/64-task scheduler overhead per query). The scalar
    # count materializes the persisted edges (iteration 1 would pay
    # that anyway) and fixes the per-iteration shuffle width at
    # ~_CC_EDGES_PER_TASK rows per task, never wider than the session
    # setting — on a 100 TB dup graph this leaves the width at the
    # session value.
    n_edges = edges.count()
    spark = edges.sparkSession
    sess_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = max(1, min(sess_p, math.ceil(n_edges / _CC_EDGES_PER_TASK)))

    if n_edges <= _CC_SMALL_EDGES:
        # Small-graph path (chosen by MEASURED size — the same device
        # AQE uses, made explicit where AQE is blind): rebase the edge
        # set on a flat single-task checkpoint, then run the loop with
        # BROADCAST joins and NO per-iteration checkpoints. Every loop
        # shuffle (just the groupBy per round) materializes lazily in
        # the consumer's one action, so 3 rounds cost 3 tiny AQE stages
        # instead of 3 checkpoint actions + their stage jobs (measured:
        # the loop added 1.4s of near-pure scheduler overhead on a
        # 240-edge graph at sf0.1). The broadcast is legal because
        # labels ≤ 2·n_edges rows ≤ 2·_CC_SMALL_EDGES; lineage doubling
        # without checkpoints is bounded by the fixed iteration count
        # over flat LogicalRDD leaves.
        edges = edges.coalesce(p).localCheckpoint(eager=eager)
        labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
        for _ in range(iterations):
            nbr = edges.join(
                F.broadcast(
                    labels.select(
                        F.col("node").alias("dst"), F.col("label").alias("nbr_label")
                    )
                ),
                "dst",
            ).select(F.col("src").alias("node"), "nbr_label")
            labels = (
                F.broadcast(labels)
                .join(nbr, "node")
                .groupBy("node", "label")
                .agg(F.min("nbr_label").alias("min_nbr"))
                .select("node", F.least(F.col("label"), F.col("min_nbr")).alias("label"))
            )
        return labels

    # Large-graph path: the per-iteration shuffles run at width p inside
    # the conf context (sound because localCheckpoint materializes them
    # eagerly), and checkpointing truncates the lineage each round.
    edges = edges.coalesce(p)
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    with _loop_shuffle_partitions(spark, p):
        for _ in range(iterations):
            nbr = edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("nbr_label")
                ),
                "dst",
            ).select(F.col("src").alias("node"), "nbr_label")
            labels = (
                labels.join(nbr, "node")
                .groupBy("node", "label")
                .agg(F.min("nbr_label").alias("min_nbr"))
                .select("node", F.least(F.col("label"), F.col("min_nbr")).alias("label"))
                # Each round references the previous labels TWICE (self +
                # neighbor side), so the lineage doubles per iteration — 2^k
                # plan size and recompute of the early rounds inside one
                # action. localCheckpoint truncates the lineage per round
                # (the standard iterative-graph practice — GraphFrames
                # checkpoints its CC loop the same way): downstream plans
                # see a flat LogicalRDD scan. eager=False does NOT make
                # construction lazy under AQE — checkpointing compiles the
                # plan via toRdd, and AdaptiveSparkPlanExec materializes
                # its shuffle stages right there (measured: identical job
                # count either way) — so the default stays eager=True for
                # transparency; the parameter exists for non-AQE sessions.
                # Checkpointed partitions live on executors — on a real
                # cluster swap in checkpoint() to reliable storage so the
                # loop survives executor loss. Eager materialization is
                # also what makes the loop-width conf context sound: every
                # loop shuffle runs before the context restores the
                # session value.
                .localCheckpoint(eager=eager)
            )
    return labels


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    *,
    ngram_k: int = 2,
    threshold: float = 0.3,
) -> DataFrame:
    """Asymmetric containment: |A∩B| / |A| (and / |B|) over shingle sets.

    Catches subset/quote relationships Jaccard misses — a short document
    fully contained in a long one scores ~1.0 containment but low
    Jaccard. Same blocked self-join shape as ngram_jaccard_pairs.
    Returns (id_a, id_b, c_ab, c_ba) where c_ab = |A∩B|/|A|.
    """
    docs = _persist(
        df.select(
            F.col(id_col).alias("__id"),
            *[F.col(c) for c in block_cols],
            tokens(text_col).alias("__tokens"),
        )
        .withColumn("__shset", F.array_distinct(shingles("__tokens", ngram_k)))
        .where(F.size("__shset") > 0)
        .drop("__tokens")
    )
    a, b = docs.alias("a"), docs.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect("a.__shset", "b.__shset"))
    c_ab = inter / F.size("a.__shset")
    c_ba = inter / F.size("b.__shset")
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            c_ab.alias("c_ab"),
            c_ba.alias("c_ba"),
        )
        .where(F.greatest("c_ab", "c_ba") >= threshold)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    window: int = 3,
    key_tokens: int = 5,
    threshold: float = 0.3,
    rank_buckets: int = 32,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo, SIGMOD 1995):
    sort the corpus by a blocking key, compare each record only with its
    `window` successors in sort order — O(n * window) comparisons where
    naive all-pairs is O(n^2).

    The blocking key is the md5 of the first `key_tokens` tokens (near
    copies share prefixes, and hashing spreads the sort uniformly). The
    GLOBAL sort rank — the method's defining total order — is the scale
    trap: a bare ``row_number() over (order by key)`` funnels the corpus
    through one task. It is computed here as a bucketed two-level rank
    (operators/prefix.bucketed_running_sum with value 1 over an
    order-consistent hex bucket of the key): one corpus shuffle by
    bucket, a tiny per-bucket offset relation broadcast back. Pairing is
    then an equi-join of rank -> rank+1..rank+window (each row
    replicated `window` times — linear, never quadratic), and the exact
    token-Jaccard verify runs only on those pairs.

    Returns (id_a, id_b, jaccard) with jaccard >= threshold, id_a
    earlier in sort order.
    """
    from sql_engine_spark.operators.prefix import bucketed_running_sum, hex_prefix_bucket
    from sql_engine_spark.operators.textprep import tokens as _tokens

    base = (
        df.select(F.col(id_col).alias("__id"), _tokens(text_col).alias("__t"))
        .withColumn("__key", F.md5(F.array_join(F.slice("__t", 1, key_tokens), " ")))
        .withColumn("__tset", F.array_distinct("__t"))
        .drop("__t")
        # Total order (key, id) spelled as one sortable string so the
        # two-level rank has a single order column.
        .withColumn(
            "__ord",
            F.concat_ws("|", F.col("__key"), F.lpad(F.col("__id").cast("string"), 12, "0")),
        )
    )
    # Both sides of the pair equi-join read the ranked relation —
    # persist it (caller-owned lifetime, like every sibling operator)
    # or the tokenize/md5/two-level-rank pipeline runs twice.
    ranked = _persist(
        bucketed_running_sum(
            base.withColumn("__one", F.lit(1).cast("long")),
            part_cols=[],
            order_col="__ord",
            value_col="__one",
            bucket=hex_prefix_bucket("__key", rank_buckets),
            out_col="__rnk",
        ).drop("__one", "__ord", "__key")
    )
    right = ranked.select(
        F.col("__id").alias("__id_b"),
        F.col("__tset").alias("__tset_b"),
        F.col("__rnk").alias("__prnk"),
    )
    pairs = (
        ranked.select(
            "__id",
            "__tset",
            F.explode(
                F.expr(f"sequence(__rnk + 1, __rnk + {window})")
            ).alias("__prnk"),
        )
        .join(right, "__prnk")
    )
    inter = F.size(F.array_intersect("__tset", "__tset_b"))
    union = F.size(F.array_union("__tset", "__tset_b"))
    return (
        pairs.select(
            F.col("__id").alias("id_a"),
            F.col("__id_b").alias("id_b"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def sql_sorted_neighborhood(
    *,
    window: int = 3,
    key_tokens: int = 5,
    threshold: float = 0.3,
    source: str = "documents",
) -> str:
    """DuckDB oracle: the single-window spelling of the same pipeline —
    the two-level rank is bit-identical to row_number by construction."""
    from sql_engine_spark.operators.textprep import sql_tokens

    toks = sql_tokens("text")
    return f"""
        WITH base AS (
            SELECT doc_id AS id,
                   md5(array_to_string(({toks})[1:{key_tokens}], ' ')) AS key,
                   list_distinct({toks}) AS tset
            FROM {source}
        ),
        r AS (
            SELECT id, tset,
                   CAST(row_number() OVER (
                       ORDER BY concat_ws('|', key, lpad(CAST(id AS VARCHAR), 12, '0'))
                   ) AS BIGINT) AS rnk
            FROM base
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(a.tset, b.tset))) AS DOUBLE)
                   AS jaccard
        FROM r a JOIN r b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + {window}
        WHERE CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(a.tset, b.tset))) AS DOUBLE)
                  >= {threshold}
    """




def _incremental_from_buckets(new_docs, new_buckets, base_docs, base_buckets, threshold):
    candidates = (
        new_buckets.join(base_buckets, ["__band", "__key"])
        .select("new_id", "base_id")
        .distinct()
    )
    jac = F.size(F.array_intersect("sa.__shset", "sb.__shset")) / F.size(
        F.array_union("sa.__shset", "sb.__shset")
    )
    return (
        candidates.join(new_docs.alias("sa"), F.col("new_id") == F.col("sa.__id"))
        .join(base_docs.alias("sb"), F.col("base_id") == F.col("sb.__id"))
        .select("new_id", "base_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    new_pred,
    *,
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.2,
) -> DataFrame:
    """Continuous-ingest dedup for the shared-source case: when the new
    batch and the corpus live in ONE table split by a predicate,
    shingle + minhash + band the table ONCE and split at the bucket
    level — half the map work of preparing each side separately,
    and exactly the plan that runs against a materialized signature
    table (one bucket relation, filtered per side).

    ``new_pred`` is a Column predicate over the source rows selecting
    the new batch. Returns (new_id, base_id, jaccard >= threshold).
    """
    rows_per_band = num_hashes // bands
    src = df.select(
        F.col(id_col).alias("__id"),
        new_pred.alias("__is_new"),
        F.col(text_col).alias("__text"),
    )
    # Same narrow-file widening as minhash_lsh_pairs: a single local
    # parquet file arrives as ONE scan split, serializing the md5/
    # shingle map work; no-op on a many-split 100 TB scan.
    target = df.sparkSession.sparkContext.defaultParallelism
    files = src.inputFiles()
    if 0 < len(files) < target and _total_file_bytes(files) >= _MIN_WIDEN_BYTES:
        src = src.repartition(target)
    docs = _persist(
        src.select(
            "__id",
            "__is_new",
            tokens("__text").alias("__tokens"),
        )
        .withColumn("__sh", shingles("__tokens", shingle_k))
        .withColumn("__shset", F.array_distinct("__sh"))
        .select("__id", "__is_new", "__shset")
    )
    key_cols = [
        F.md5(
            F.concat_ws("|", F.slice("__sig", b * rows_per_band + 1, rows_per_band))
        ).alias(f"__k{b}")
        for b in range(bands)
    ]
    stack_expr = (
        f"stack({bands}, "
        + ", ".join(f"{b}, __k{b}" for b in range(bands))
        + ") as (__band, __key)"
    )
    buckets = _persist(
        docs.withColumn("__dig", shingle_digests("__shset"))
        .withColumn("__sig", minhash_signature("__dig", num_hashes))
        .select("__id", "__is_new", *key_cols)
        .select("__id", "__is_new", F.expr(stack_expr))
    )
    new_buckets = buckets.where(F.col("__is_new")).select(
        F.col("__id").alias("new_id"), "__band", "__key"
    )
    base_buckets = buckets.where(~F.col("__is_new")).select(
        F.col("__id").alias("base_id"), "__band", "__key"
    )
    new_docs = docs.where(F.col("__is_new")).select("__id", "__shset")
    base_docs = docs.where(~F.col("__is_new")).select("__id", "__shset")
    return _incremental_from_buckets(
        new_docs, new_buckets, base_docs, base_buckets, threshold
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    threshold: float = 0.3,
    broadcast_df: bool | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (Chaudhuri,
    Ganti & Kaushik, ICDE 2006; Bayardo, Ma & Srikant, WWW 2007
    "Scaling Up All Pairs Similarity Search").

    Unlike MinHash-LSH this has NO recall loss: for Jaccard threshold t,
    two sets with J >= t MUST share at least one element among each
    set's first ``|x| - ceil(t*|x|) + 1`` elements when both are sorted
    by a GLOBAL frequency order (rarest first) — so joining only on
    those prefix elements finds every qualifying pair, and the exact
    verify keeps precision at 1. Selectivity comes from prefixes
    starting at each document's RAREST shingles: candidate volume is
    sum over prefix shingles of df^2, dominated by df~1 shingles.

    Scale shape: one shingle-df aggregate (map-side combinable), one
    join of dfs back, a per-doc sort of its own shingles (bounded by
    doc length), one equi-join on prefix shingle hash, one verify.
    Nothing touches corpus^2; the prefix bound is the exact-join
    analogue of LSH banding. Returns (id_a, id_b, jaccard >= threshold),
    complete.

    The shingle-df relation is NOT vocabulary-sized: distinct k-token
    shingles grow roughly linearly with corpus tokens, so broadcasting
    it unconditionally would OOM executors at the 100 TB target. The
    broadcast hint is therefore SIZE-GATED on the source's on-disk
    bytes (`_PREFIX_DF_BROADCAST_MAX_SRC_BYTES`): small corpora get the
    broadcast (dfs is a few MB, skips a shuffle of the exploded
    shingles), large corpora fall back to a plain shuffle equi-join on
    the shingle hash — same plan class, same answer. `broadcast_df`
    forces either choice explicitly (tests pin both plans produce
    identical pairs).
    """
    # Resolve the dfs-broadcast auto-gate HERE, from the raw source's
    # file bytes: the persisted hashed-shingle frame hides its file
    # source from inputFiles() (InMemoryRelation boundary), so the
    # from_hs fallback would never broadcast on this path.
    if broadcast_df is None:
        files = df.select(F.col(id_col), F.col(text_col)).inputFiles()
        broadcast_df = (
            0 < len(files)
            and _total_file_bytes(files) <= _PREFIX_DF_BROADCAST_MAX_SRC_BYTES
        )
    docs = hashed_shingle_sets(df, id_col, text_col, shingle_k=shingle_k)
    return prefix_filter_pairs_from_hs(
        docs, threshold=threshold, broadcast_df=broadcast_df
    )


def prefix_filter_pairs_from_hs(
    hs: DataFrame,
    *,
    threshold: float = 0.3,
    broadcast_df: bool | None = None,
) -> DataFrame:
    """prefix_filter_pairs over a prebuilt hashed-shingle-set relation
    (__id, __hs) — see hashed_shingle_sets / shingle_hs_shared. The
    global rarest-first order, prefix bound, and exact verify all work
    on the digests; output pairs are identical to the from-text path.

    The dfs broadcast auto-gate reads the RELATION's file bytes
    against _PREFIX_DF_BROADCAST_MAX_HS_BYTES (the digest-relation
    equivalent of the source-bytes bound). This only resolves for
    file-backed inputs (the shared parquet build); a derived/persisted
    frame exposes no files and conservatively gets no hint — the
    from-text front-end therefore resolves the gate itself from the
    raw source and passes an explicit broadcast_df."""
    docs = hs
    files = hs.inputFiles()
    dfs = (
        docs.select(F.explode("__hs").alias("__h"))
        .groupBy("__h")
        .agg(F.count("*").alias("__df"))
    )
    # Size-gate the dfs broadcast (see docstring): distinct shingles
    # grow ~linearly with corpus tokens, so only hint when the SOURCE
    # is small enough that dfs is safely executor-memory-sized.
    if broadcast_df is None:
        broadcast_df = (
            0 < len(files)
            and _total_file_bytes(files) <= _PREFIX_DF_BROADCAST_MAX_HS_BYTES
        )
    dfs_side = F.broadcast(dfs) if broadcast_df else dfs
    # All three pruning bounds (prefix length, length filter, PPJoin
    # positional minoverlap) are evaluated in EXACT integer arithmetic
    # on the decimal rational t = t_num/t_den (Fraction of the decimal
    # string, not of the binary float), so no float rounding can ever
    # drop a pair whose Jaccard is exactly the threshold. ceil(t*n)
    # becomes (n*t_num + t_den - 1) div t_den; O >= ceil(c*(na+nb))
    # with c = t/(1+t) collapses (O integer) to the cross-multiplied
    # O*(t_num+t_den) >= t_num*(na+nb).
    _tfrac = _threshold_fraction(threshold)
    t_num, t_den = _tfrac.numerator, _tfrac.denominator
    # Order each doc's shingles rarest-first by (df, hash) — a total
    # order shared by every doc, which is all the prefix lemma needs.
    ordered = (
        docs.select("__id", F.explode("__hs").alias("__h"))
        .join(dfs_side, "__h")
        .groupBy("__id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(__df, __h))), s -> s.__h)"
            ).alias("__sorted"),
        )
        .withColumn(
            "__plen",
            F.size("__sorted")
            - F.expr(
                f"int((size(__sorted) * {t_num} + {t_den} - 1) div {t_den})"
            )
            + F.lit(1),
        )
        .select(
            "__id",
            F.size("__sorted").alias("__n"),
            F.slice("__sorted", 1, F.col("__plen")).alias("__prefix"),
        )
    )
    # Candidates shuffle bare id pairs (32-byte rows); the shingle sets
    # rejoin only for the verify — same discipline as minhash_lsh_pairs.
    # The LENGTH filter (Arasu et al.): J(x,y) >= t forces
    # t*|x| <= |y| <= |x|/t, so size-incompatible prefix collisions are
    # dropped inside the join, before the distinct.
    #
    # The POSITIONAL filter (PPJoin, Xiao et al. WWW 2008) prunes the
    # rest: a collision at 1-based prefix positions (pa, pb) can carry
    # at most 1 + min(|x|-pa, |y|-pb) common elements (both lists share
    # ONE global sort order), while J >= t needs overlap >= ceil(c *
    # (|x|+|y|)) with c = t/(1+t). Filtering every collision row by
    # that bound is COMPLETENESS-PRESERVING: for a qualifying pair the
    # FIRST common prefix element sees all O >= minoverlap common
    # elements at-or-after its positions, so its row always passes.
    # This is what keeps the candidate set answer-sized on corpora
    # with a saturated shingle vocabulary, where the plain prefix
    # lemma degrades toward quadratic (no shingle is rare — measured
    # at the r10 sf1 stress seal: sum(df^2) grew 94x for 10x docs and
    # the unfiltered candidate verify spilled ~70 GB).
    probes = ordered.select(
        "__id", "__n", F.posexplode("__prefix").alias("__p0", "__h")
    ).select("__id", "__n", (F.col("__p0") + 1).alias("__p"), "__h")
    a, b = probes.alias("a"), probes.alias("b")
    ubound = F.lit(1) + F.least(
        F.col("a.__n") - F.col("a.__p"), F.col("b.__n") - F.col("b.__p")
    )
    candidates = (
        a.join(
            b,
            (F.col("a.__h") == F.col("b.__h"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (
                F.col("b.__n") * F.lit(t_num)
                <= F.col("a.__n") * F.lit(t_den)
            )
            & (
                F.col("a.__n") * F.lit(t_num)
                <= F.col("b.__n") * F.lit(t_den)
            )
            & (
                ubound * F.lit(t_num + t_den)
                >= F.lit(t_num) * (F.col("a.__n") + F.col("b.__n"))
            ),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(candidates, docs.select("__id", "__hs"), threshold)


def prefix_filter_pairs_shared(
    spark, sf_dir: str, *, shingle_k: int = 3, threshold: float = 0.3
) -> DataFrame:
    """The exact prefix-filter pair relation (id_a, id_b, jaccard) over
    `{sf_dir}/documents`, built ONCE per (process, dataset, k, t) and
    materialized to parquet — the shingle_hs_shared pattern one level
    up. Two registered operators run the IDENTICAL exact join at the
    house (k=3, t=0.3) point: dedup_prefix_filter (the relation IS its
    answer) and dedup_lsh_recall_curve (its ground-truth side). The
    join is the repo's documented alpha=1.24 exactness floor
    (PERF_NOTES), so paying it once per process instead of once per
    consumer is the single biggest lever either query has; on a real
    cluster this is the pair table the dedup pipeline's exact stage
    writes, and the recall audit scans it (build once, everyone scans
    — the shared-kNN-build shape)."""
    import os

    from sql_engine_spark.sharedcost import materialize

    def build(root: str) -> None:
        pairs = prefix_filter_pairs_from_hs(
            shingle_hs_shared(spark, sf_dir, shingle_k=shingle_k),
            threshold=threshold,
        )
        pairs.write.mode("overwrite").parquet(os.path.join(root, "pairs.parquet"))

    root = materialize(
        spark,
        sf_dir,
        "prefix_pairs",
        ("documents",),
        (shingle_k, str(threshold)),
        build,
    )
    return spark.read.parquet(os.path.join(root, "pairs.parquet"))


def sql_prefix_filter_pairs(
    *, shingle_k: int = 3, threshold: float = 0.3, source: str = "documents"
) -> str:
    """DuckDB oracle: the identical prefix-filter pipeline (length +
    PPJoin positional filters mirrored — they only prune candidates
    that fail the exact verify, so the answer is unchanged, but the
    oracle pays the same answer-sized candidate set as the engine).
    The bounds use the same exact integer arithmetic on the decimal
    rational t = t_num/t_den as the Spark side (no float ceil)."""
    from sql_engine_spark.operators.textprep import sql_shingles, sql_tokens

    toks = sql_tokens("text")
    _tfrac = _threshold_fraction(threshold)
    t_num, t_den = _tfrac.numerator, _tfrac.denominator
    return f"""
        WITH docs AS (
            SELECT doc_id AS id,
                   list_sort(list_transform(
                       list_distinct({sql_shingles(toks, shingle_k)}),
                       s -> md5(s))) AS hs
            FROM {source}
        ),
        dfs AS (
            SELECT h, COUNT(*) AS df
            FROM (SELECT unnest(hs) AS h FROM docs) GROUP BY h
        ),
        ordered AS (
            SELECT id, ANY_VALUE(hs) AS hs,
                   list_transform(list_sort(list(struct_pack(d := df, h := h))),
                                  s -> s.h) AS sorted
            FROM (SELECT id, hs, unnest(hs) AS h FROM docs)
            JOIN dfs USING (h)
            GROUP BY id
        ),
        prefixes AS (
            SELECT id, hs,
                   sorted[1 : len(sorted)
                          - CAST((len(sorted) * {t_num} + {t_den} - 1)
                                 // {t_den} AS INT) + 1]
                       AS prefix
            FROM ordered
        ),
        probes AS (
            SELECT id, len(hs) AS n,
                   unnest(prefix) AS h,
                   generate_subscripts(prefix, 1) AS p
            FROM prefixes
        ),
        candidates AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM probes a JOIN probes b
              ON a.h = b.h AND a.id < b.id
             AND b.n * {t_num} <= a.n * {t_den}
             AND a.n * {t_num} <= b.n * {t_den}
             AND (1 + LEAST(a.n - a.p, b.n - b.p)) * {t_num + t_den}
                 >= {t_num} * (a.n + b.n)
        )
        SELECT id_a, id_b,
               len(list_intersect(pa.hs, pb.hs))
                 / len(list_distinct(list_concat(pa.hs, pb.hs))) AS jaccard
        FROM candidates
        JOIN prefixes pa ON id_a = pa.id
        JOIN prefixes pb ON id_b = pb.id
        WHERE len(list_intersect(pa.hs, pb.hs))
                 / len(list_distinct(list_concat(pa.hs, pb.hs))) >= {threshold}
    """


def _hamming_expr(a: str, b: str, bits: int) -> str:
    """Unrolled per-position disagreement count — identical SQL in Spark
    and DuckDB (no engine-specific char-split semantics to reconcile)."""
    terms = " + ".join(
        f"(CASE WHEN substring({a}, {i}, 1) <> substring({b}, {i}, 1) "
        f"THEN 1 ELSE 0 END)"
        for i in range(1, bits + 1)
    )
    return f"({terms})"


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 16,
    n_blocks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — the Manku, Jain &
    Sarma scheme (WWW 2007, Google's web-crawl dedup): split each
    `bits`-bit fingerprint into ``n_blocks`` blocks; by pigeonhole, two
    fingerprints within Hamming distance ``max_hamming < n_blocks``
    agree EXACTLY on at least one block, so an equi-join per block finds
    every qualifying pair (zero recall loss) and the cheap unrolled
    Hamming verify keeps precision.

    Scale shape: fingerprints are one map pass (the expensive
    per-bit-aggregate simhash expression is computed ONCE into a
    column, then blocks are stack()ed from the materialized string —
    never re-evaluated per block); candidates come from ``n_blocks``
    equi-joins on (block index, block value) — 2^(bits/n_blocks)
    buckets per block; verify is integer comparisons. Same plan class
    as MinHash banding, but the guarantee is exact for the Hamming
    radius. Returns (id_a, id_b, hamming <= max_hamming), complete.

    Block-key cardinality is what keeps candidate volume sub-quadratic:
    expected candidates per block are ~n^2 / 2^(bits/n_blocks), so the
    block width must be wide enough that buckets stay small as the
    corpus grows. Manku-Jain-Sarma use 64-bit fingerprints for exactly
    this reason: the shipped operating point is bits=64, n_blocks=4
    (16-bit blocks, 65,536 buckets/block, d <= 3 by pigeonhole) — at
    100x corpus growth candidate volume grows 100^2/65536 ~ 0.15x per
    doc-pair density, vs the 256-bucket 32/4 split that review round 4
    flagged as quadratic. Narrower bits remain available for tests.
    """
    assert max_hamming < n_blocks, "pigeonhole completeness needs d < blocks"
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    # Narrow-file widening (see minhash_lsh_pairs): the 32-fold simhash
    # map is the dominant cost; give it every core.
    target = df.sparkSession.sparkContext.defaultParallelism
    files = src.inputFiles()
    if 0 < len(files) < target and _total_file_bytes(files) >= _MIN_WIDEN_BYTES:
        src = src.repartition(target)
    digs = src.select("__id", tokens("__text").alias("__tokens")).withColumn(
        "__digs", F.expr("transform(__tokens, t -> md5(t))")
    )
    return simhash_hamming_pairs_from_digests(
        digs, bits=bits, n_blocks=n_blocks, max_hamming=max_hamming
    )


def simhash_hamming_pairs_from_digests(
    digs: DataFrame,
    *,
    bits: int = 16,
    n_blocks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Core of simhash_hamming_pairs over a relation already carrying
    (__id, __digs: array<string> of md5 digests) — lets non-text
    payloads (e.g. base64-chunked binary, multimodal.py) reuse the
    block-pigeonhole pairing unchanged."""
    assert max_hamming < n_blocks, "pigeonhole completeness needs d < blocks"
    width = bits // n_blocks
    # Verify words: the '0'/'1' signature packed into <=32-bit integer
    # words ONCE per row, so the Hamming verify on each candidate pair
    # is sum(bit_count(xor)) over a handful of ints instead of `bits`
    # per-character substring comparisons per pair (r12 optimization:
    # measured 7.5s -> 0.8s on the candidate-verify leg of
    # dedup_simhash_hamming at sf0.1, bit-identical pairs/hamming).
    # Words partition the full `bits` range, so the popcount sum equals
    # the per-position disagreement count _hamming_expr computes.
    n_words = (bits + 31) // 32
    word_cols = [
        F.conv(F.substring("__sig", w * 32 + 1, min(32, bits - w * 32)), 2, 10)
        .cast("long")
        .alias(f"__w{w}")
        for w in range(n_words)
    ]
    sigs = _persist(
        digs.select(
            "__id", simhash_bits_from_digests("__digs", bits).alias("__sig")
        ).select("__id", "__sig", *word_cols)
    )
    # Block keys: same packing trick when the block fits an integer
    # word (equi-join + distinct then hash longs, not 16-char strings);
    # '0'/'1'-string -> integer is a bijection at fixed width, so the
    # candidate pair set is unchanged. Wide blocks keep the substring.
    if width <= 60:
        block_key = lambda b: F.conv(  # noqa: E731
            F.substring("__sig", b * width + 1, width), 2, 10
        ).cast("long")
    else:
        block_key = lambda b: F.substring(  # noqa: E731
            "__sig", b * width + 1, width
        )
    block_cols = [block_key(b).alias(f"__b{b}") for b in range(n_blocks)]
    stack_expr = (
        f"stack({n_blocks}, "
        + ", ".join(f"{b}, __b{b}" for b in range(n_blocks))
        + ") as (__blk, __key)"
    )
    blocks = sigs.select("__id", *block_cols).select("__id", F.expr(stack_expr))
    a, b = blocks.alias("a"), blocks.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    ham = " + ".join(f"bit_count(__wa{w} ^ __wb{w})" for w in range(n_words))
    return (
        candidates.join(
            sigs.select(
                F.col("__id"),
                *[F.col(f"__w{w}").alias(f"__wa{w}") for w in range(n_words)],
            ),
            F.col("id_a") == F.col("__id"),
        )
        .drop("__id")
        .join(
            sigs.select(
                F.col("__id"),
                *[F.col(f"__w{w}").alias(f"__wb{w}") for w in range(n_words)],
            ),
            F.col("id_b") == F.col("__id"),
        )
        .select(
            "id_a",
            "id_b",
            F.expr(ham).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def sql_simhash_hamming_pairs(
    *,
    bits: int = 16,
    n_blocks: int = 4,
    max_hamming: int = 3,
    source: str = "documents",
) -> str:
    from sql_engine_spark.operators.textprep import sql_tokens

    width = bits // n_blocks
    return f"""
        WITH sigs AS (
            SELECT doc_id AS id,
                   {sql_simhash_bits(sql_tokens('text'), bits)} AS sig
            FROM {source}
        ),
        blocks AS (
            SELECT id, b, substring(sig, b * {width} + 1, {width}) AS key
            FROM sigs CROSS JOIN range(0, {n_blocks}) t(b)
        ),
        candidates AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM blocks a JOIN blocks b
              ON a.b = b.b AND a.key = b.key AND a.id < b.id
        )
        SELECT id_a, id_b,
               CAST({_hamming_expr('sa.sig', 'sb.sig', bits)} AS BIGINT) AS hamming
        FROM candidates
        JOIN sigs sa ON id_a = sa.id
        JOIN sigs sb ON id_b = sb.id
        WHERE {_hamming_expr('sa.sig', 'sb.sig', bits)} <= {max_hamming}
    """
