"""Round-5 curation & pipeline operators: per-source caps, curriculum
ordering, deterministic reservoirs, Bloom join acceleration and ingest
dedup, int8 quantization, shard manifests, the dataset-build flagship,
mixture-balance/dedup-rate/PII reporting, k-anonymity, and the
partitioned-write pruning proof.

Split from queries/round5.py along domain lines (round-6 refactor);
semantics, registry keys, and oracles unchanged.
"""



from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql_engine_spark.io import load
from sql_engine_spark.operators.text import hashed_linear_score, sql_hashed_linear_score
from sql_engine_spark.registry import register
from sql_engine_spark.functions.numeric import davg, dsum, sql_davg, sql_dsum  # noqa: F401
from sql_engine_spark.operators.textprep import shingles, sql_shingles, sql_tokens, tokens  # noqa: F401,E501


_CAP_PER_SOURCE = 15


@register(
    "curation_source_cap",
    oracle=f"""
        WITH scored AS ({sql_hashed_linear_score()}),
        j AS (
            SELECT d.doc_id, d.source, s.score
            FROM documents d JOIN scored s USING (doc_id)
        ),
        r AS (
            SELECT doc_id, source, score,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY score DESC, doc_id) AS BIGINT) AS rank
            FROM j
        )
        SELECT doc_id, source, score, rank FROM r WHERE rank <= {_CAP_PER_SOURCE}
    """,
    doc="Per-source document cap: keep the top-N docs per source by "
    "quality score — the domain-frequency cap every web-scale curation "
    "run applies (Common Crawl pipelines cap per-domain so no single "
    "site dominates the mixture). Source cardinality is SMALL (tens), "
    "so a bare per-source rank window funnels the corpus through a "
    "handful of tasks at 100 TB — ranking therefore runs through the "
    "salted two-level top-k (operators/similarity.two_level_topk, the "
    "ANN-family machinery reused verbatim): top-N per (source, salt), "
    "then a bounded final rank over <= 32*N rows per source. "
    "Bit-identical to the single window (pinned by the oracle).",
)
def curation_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.operators.similarity import two_level_topk

    docs = load(spark, sf_dir, "documents")
    scored = hashed_linear_score(
        docs, id_col="doc_id", text_col="text", carry_cols=["source"]
    ).select("doc_id", "source", "score")
    return two_level_topk(
        scored,
        score_col="score",
        k=_CAP_PER_SOURCE,
        query_col="source",
        id_col="doc_id",
    ).select("doc_id", "source", "score", "rank")


_N_PHASES = 4


@register(
    "curation_curriculum_order",
    oracle=f"""
        WITH scored AS ({sql_hashed_linear_score()}),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM scored),
        r AS (
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT)
                       AS curriculum_rank
            FROM scored
        )
        SELECT doc_id, score, curriculum_rank,
               -- FLOOR before the cast: DuckDB CAST(double AS BIGINT)
               -- rounds where Spark's cast truncates
               CAST(FLOOR(((curriculum_rank - 1) * {_N_PHASES}) / total)
                    AS BIGINT) AS phase
        FROM r CROSS JOIN n
    """,
    doc="Curriculum ordering: rank the whole corpus easiest-first by "
    "quality score and split into training phases (curriculum learning, "
    "Bengio et al. 2009 — low-perplexity/high-quality docs first, hard "
    "tail last). The GLOBAL rank is the scale trap: row_number() over "
    "a bare ORDER BY sorts the corpus through ONE task, so the rank is "
    "computed as the bucketed two-level rank "
    "(operators/prefix.bucketed_running_sum over an order-consistent "
    "range bucket of the score, same machinery as sorted-neighborhood "
    "dedup) — one corpus shuffle, tiny per-bucket offsets broadcast "
    "back. Phase = floor((rank-1) * phases / N), exact integer "
    "arithmetic in both engines.",
)
def curation_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.operators.dedup import _persist
    from sql_engine_spark.operators.prefix import bucketed_running_sum, range_bucket

    docs = load(spark, sf_dir, "documents")
    # The scored relation feeds the bounds aggregate AND the ranked
    # base — persist (caller-owned lifetime) or the corpus tokenizes
    # and scores three times.
    scored = _persist(
        hashed_linear_score(docs, id_col="doc_id", text_col="text").select(
            "doc_id", "score"
        )
    )
    bounds = scored.agg(
        F.min("score").alias("__lo"),
        F.max("score").alias("__hi"),
        F.count("*").cast("long").alias("__n"),
    )
    base = (
        scored.crossJoin(F.broadcast(bounds))
        .withColumn("__one", F.lit(1).cast("long"))
        # Total order (score, doc_id) as ONE orderable column: struct
        # comparison is lexicographic, exactly the oracle's ORDER BY
        # score, doc_id — no lossy string encoding of the double.
        .withColumn("__ord", F.struct(F.col("score"), F.col("doc_id")))
    )
    # Bucket count grows with the corpus (derived_rank_buckets): a
    # fixed 32 would put corpus/32 rows through each within-bucket
    # window task at 100x. scored is persisted, so the count is a
    # cheap cached pass.
    from sql_engine_spark.operators.prefix import derived_rank_buckets

    nb = derived_rank_buckets(scored.count())
    ranked = bucketed_running_sum(
        base,
        part_cols=[],
        order_col="__ord",
        value_col="__one",
        bucket=range_bucket(F.col("score"), F.col("__lo"), F.col("__hi"), nb),
        out_col="curriculum_rank",
    )
    return ranked.select(
        "doc_id",
        "score",
        "curriculum_rank",
        (((F.col("curriculum_rank") - 1) * _N_PHASES) / F.col("__n"))
        .cast("long")
        .alias("phase"),
    )


_RESERVOIR_K = 5


@register(
    "sample_reservoir_per_key",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, lang,
                   md5('rsv1|' || CAST(doc_id AS VARCHAR)) AS hkey
            FROM documents
        ),
        r AS (
            SELECT doc_id, lang, hkey,
                   CAST(row_number() OVER (
                       PARTITION BY lang ORDER BY hkey, doc_id) AS BIGINT)
                       AS rank
            FROM h
        )
        SELECT doc_id, lang, hkey, rank FROM r WHERE rank <= {_RESERVOIR_K}
    """,
    doc="Deterministic per-key 'reservoir': the k docs per language "
    "with the smallest seeded content hash — hash-order sampling, the "
    "distributed replacement for stateful reservoir algorithms "
    "(Vitter 1985): same uniform-without-replacement guarantee, but "
    "order-independent, rerun-stable, and mergeable (the k smallest "
    "hashes of a union are computable from each part's k smallest — "
    "the bottom-k sketch). Key cardinality is small (langs), so "
    "ranking runs through the salted two-level top-k with "
    "ascending=True (k SMALLEST hashes), never a per-key corpus "
    "funnel. Seed is part of the hash input: new seed, fresh sample.",
)
def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.operators.similarity import two_level_topk

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5(F.concat(F.lit("rsv1|"), F.col("doc_id").cast("string"))).alias(
            "hkey"
        ),
    )
    return two_level_topk(
        docs,
        score_col="hkey",
        k=_RESERVOIR_K,
        query_col="lang",
        id_col="doc_id",
        ascending=True,
    ).select("doc_id", "lang", "hkey", "rank")


@register(
    "join_bloom_prefilter",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM customer c
            WHERE c.c_custkey = o.o_custkey
              AND c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 7000
        )
    """,
    doc="Bloom-filter join pre-filtering (operators/bloom.py; the "
    "runtime-filter pattern behind Spark's own "
    "runtime.bloomFilter.enabled, made an explicit operator): the "
    "selective dim side's keys fold into an 8192-bit / 4-hash bitset "
    "(distributed position generation, bounded driver fold — same "
    "class as centroid literals), which drops non-matching fact rows "
    "MAP-SIDE as a literal bit-probe expression before the join's "
    "exchange; the exact semi join then removes Bloom false "
    "positives, so the result is definitionally the plain semi join "
    "(which IS the oracle). At 100 TB this cuts the fact shuffle to "
    "~selectivity x corpus.",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.operators.bloom import bloom_prefiltered_semi_join

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 7000)
    )
    return bloom_prefiltered_semi_join(
        orders,
        cust.select("c_custkey"),
        fact_key="o_custkey",
        dim_key="c_custkey",
    ).select("o_orderkey", "o_custkey", "o_totalprice")


from sql_engine_spark.operators.quantize import sql_int8_quantize  # noqa: E402


@register(
    "ann_int8_quantize",
    oracle=sql_int8_quantize(),
    doc="Scalar int8 embedding quantization (FAISS SQ8 posture, "
    "operators/quantize.py): per-dimension symmetric scales from ONE "
    "bounded aggregate over the exploded (dim, value) relation, "
    "quantize + reconstruction-error metrics as a pure map stage. "
    "4x storage cut for the 100 TB vector store with the codec "
    "trained and applied in one pipeline; zero-spread dimensions "
    "guarded to q=0 in both engines. Output is scalar per-vector "
    "metrics (l1 mass, code range, MSE) — cross-engine hash-safe, "
    "dimension-order-pinned folds.",
)
def ann_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.operators.quantize import int8_quantize

    emb = load(spark, sf_dir, "embeddings")
    return int8_quantize(emb, id_col="vec_id", vec_col="embedding")


@register(
    "scan_partitioned_write_prune",
    oracle="""
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    """,
    doc="Hive-style partitioned write + partition-pruned read: events "
    "land partitioned by event_type (the layout choice that turns a "
    "100 TB 'WHERE type = X' from a full scan into a directory "
    "listing), then the read filters on the partition column and "
    "Catalyst prunes at PLANNING time — the plan's PartitionFilters "
    "carries the predicate and PartitionCount shows one directory "
    "scheduled (pinned in tests/test_r5_ops.py). The re-read equals "
    "the plain filtered scan, which is the oracle. Same posture as "
    "scan_zonemap_prune but for the engine-native layout instead of "
    "footer stats.",
)
def scan_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.sharedcost import tracked_tmpdir

    ev = load(spark, sf_dir, "events")
    out = tracked_tmpdir("part_events_")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    return (
        spark.read.parquet(out)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )


_N_SHARDS = 8


@register(
    "curation_shard_manifest",
    oracle=f"""
        WITH assigned AS (
            SELECT doc_id, lang,
                   CAST(length({sql_tokens('text')}) AS DOUBLE) AS n_toks,
                   list_reduce(list_transform(range(1, 9),
                       i -> CAST(instr('0123456789abcdef',
                            substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1
                            AS BIGINT)), (a, b) -> a * 16 + b) % {_N_SHARDS}
                       AS shard
            FROM documents
        )
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               {sql_dsum('n_toks')} AS n_tokens,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM assigned GROUP BY shard
    """,
    doc="Training-shard manifest: every document deterministically "
    "assigned to one of 8 shards by a content-id hash (stable across "
    "reruns, engines, partitionings — md5-derived, NOT xxhash which "
    "DuckDB lacks), with per-shard doc counts, exact-decimal token "
    "totals, and language coverage — the writer-side bookkeeping a "
    "distributed training job reads to size its data loaders. Hash "
    "sharding means shard sizes concentrate tightly (pinned in "
    "tests); one aggregate, no skew keys.",
)
def curation_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _N_SHARDS
    )
    return (
        docs.select(
            shard.alias("shard"),
            "lang",
            F.size(tokens("text")).cast("double").alias("n_toks"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            dsum("n_toks").alias("n_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )


@register(
    "pipeline_dataset_build",
    oracle=f"""
        WITH scored AS ({sql_hashed_linear_score()}),
        j AS (
            SELECT d.doc_id, d.source, s.score
            FROM documents d JOIN scored s USING (doc_id)
        ),
        capped AS (
            SELECT doc_id, source, score FROM (
                SELECT doc_id, source, score,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY score DESC, doc_id) AS rk
                FROM j
            ) WHERE rk <= {_CAP_PER_SOURCE}
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM capped),
        ranked AS (
            SELECT doc_id, source, score,
                   CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT)
                       AS curriculum_rank
            FROM capped
        )
        SELECT doc_id, source, score, curriculum_rank,
               CAST(FLOOR(((curriculum_rank - 1) * {_N_PHASES}) / total)
                    AS BIGINT) AS phase,
               list_reduce(list_transform(range(1, 9),
                   i -> CAST(instr('0123456789abcdef',
                        substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1
                        AS BIGINT)), (a, b) -> a * 16 + b) % {_N_SHARDS}
                   AS shard
        FROM ranked CROSS JOIN n
    """,
    doc="End-to-end dataset build — the round-5 curation flagship "
    "composing three operators into the shape a real pretraining-data "
    "job ships: (1) per-source quality cap (salted two-level top-N, "
    "no per-source funnel), (2) global curriculum rank over the kept "
    "docs (bucketed two-level rank) with phase split, (3) "
    "deterministic md5 shard assignment. ONE corpus scoring pass "
    "feeds all three stages; every rank is the two-level spelling, "
    "so the widest window in the plan is (key, salt/bucket)-"
    "partitioned. Output is the per-document training manifest "
    "(source, score, curriculum position, phase, shard).",
)
def pipeline_dataset_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.operators.dedup import _persist
    from sql_engine_spark.operators.prefix import bucketed_running_sum, range_bucket
    from sql_engine_spark.operators.similarity import two_level_topk

    docs = load(spark, sf_dir, "documents")
    scored = hashed_linear_score(
        docs, id_col="doc_id", text_col="text", carry_cols=["source"]
    ).select("doc_id", "source", "score")
    capped = _persist(
        two_level_topk(
            scored,
            score_col="score",
            k=_CAP_PER_SOURCE,
            query_col="source",
            id_col="doc_id",
        ).select("doc_id", "source", "score")
    )
    bounds = capped.agg(
        F.min("score").alias("__lo"),
        F.max("score").alias("__hi"),
        F.count("*").cast("long").alias("__n"),
    )
    base = (
        capped.crossJoin(F.broadcast(bounds))
        .withColumn("__one", F.lit(1).cast("long"))
        .withColumn("__ord", F.struct(F.col("score"), F.col("doc_id")))
    )
    from sql_engine_spark.operators.prefix import derived_rank_buckets

    nb = derived_rank_buckets(capped.count())
    ranked = bucketed_running_sum(
        base,
        part_cols=[],
        order_col="__ord",
        value_col="__one",
        bucket=range_bucket(F.col("score"), F.col("__lo"), F.col("__hi"), nb),
        out_col="curriculum_rank",
    )
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _N_SHARDS
    )
    return ranked.select(
        "doc_id",
        "source",
        "score",
        "curriculum_rank",
        (((F.col("curriculum_rank") - 1) * _N_PHASES) / F.col("__n"))
        .cast("long")
        .alias("phase"),
        shard.alias("shard"),
    )


@register(
    "dedup_bloom_ingest",
    oracle="""
        WITH base AS (
            SELECT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
        ),
        new_docs AS (
            SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 0
        )
        SELECT n.doc_id, n.h AS content_hash
        FROM new_docs n
        WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.h = n.h)
    """,
    doc="Bloom-gated ingest dedup: admit only NEW-content documents "
    "from an arriving batch against the existing corpus — the "
    "front-door exact dedup of a continuously-fed training store. The "
    "corpus's content hashes fold into a Bloom bitset "
    "(operators/bloom.py); most new docs are decided map-side by the "
    "literal bit probe (a definite miss IS new — Bloom has no false "
    "negatives, so no admitted duplicate can slip through), and only "
    "probe-positive docs — duplicates plus the tunable false-positive "
    "sliver — reach the exact anti join. Result equals the plain anti "
    "join (the oracle) bit-for-bit; at 100 TB the anti join's shuffle "
    "carries ~dup_rate x batch instead of the whole batch. The "
    "even/odd-style doc_id split stands in for corpus-vs-arriving "
    "batch (same device as dedup_minhash_incremental).",
)
def dedup_bloom_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom_bits,
    )

    docs = load(spark, sf_dir, "documents").withColumn("h", F.md5("text"))
    base = docs.where(F.col("doc_id") % 3 != 0).select("h")
    new_docs = docs.where(F.col("doc_id") % 3 == 0).select("doc_id", "h")
    words, bits = build_bloom_bits(base, "h", bits=None)
    probe = bloom_might_contain("h", words, bits=bits)
    # definite misses are new by construction; probe-positives get the
    # exact verify (anti join removes real dups AND false positives)
    misses = new_docs.where(~probe)
    maybe = new_docs.where(probe).join(base, "h", "left_anti")
    return misses.unionByName(maybe).select(
        "doc_id", F.col("h").alias("content_hash")
    )


_KANON_K = 5


@register(
    "privacy_k_anonymity",
    oracle=f"""
        WITH g AS (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS group_size
            FROM documents GROUP BY lang, source
        )
        SELECT lang, source, group_size,
               group_size >= {_KANON_K} AS k_anonymous,
               CASE WHEN group_size >= {_KANON_K} THEN lang
                    ELSE '*' END AS lang_released,
               CASE WHEN group_size >= {_KANON_K} THEN source
                    ELSE '*' END AS source_released
        FROM g
    """,
    doc="k-anonymity audit + suppression over the quasi-identifier "
    "tuple (lang, source): groups smaller than k=5 are re-"
    "identification risks and get their quasi-identifiers suppressed "
    "to '*' (generalization's simplest form) — the data-governance "
    "gate run before releasing per-document metadata alongside a "
    "corpus. One map-side-combinable aggregate; the released view "
    "derives per group, never per row.",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("group_size")
    )
    anon = F.col("group_size") >= _KANON_K
    return g.select(
        "lang",
        "source",
        "group_size",
        anon.alias("k_anonymous"),
        F.when(anon, F.col("lang")).otherwise("*").alias("lang_released"),
        F.when(anon, F.col("source")).otherwise("*").alias("source_released"),
    )


@register(
    "curation_gini_balance",
    oracle="""
        WITH c AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY source
        ),
        r AS (
            SELECT n,
                   CAST(row_number() OVER (ORDER BY n, source) AS BIGINT) AS i
            FROM c
        ),
        t AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS tot
            FROM r
        )
        SELECT k AS n_sources, tot AS n_docs,
               CAST(SUM((2 * i - k - 1) * n) AS DOUBLE)
                   / (CAST(k AS DOUBLE) * CAST(tot AS DOUBLE)) AS gini
        FROM r CROSS JOIN t
        GROUP BY k, tot
    """,
    doc="Gini coefficient of the per-source document distribution — "
    "the one-number balance report for a training mixture (0 = "
    "perfectly uniform sources, ->1 = one source dominates; the "
    "dataset-card companion to curation_mixture_sample's rebalancing)."
    " Exact integer arithmetic until the final division (the classic "
    "sum((2i-k-1)*n) identity over counts ranked ascending), windows "
    "only over the bounded source-count relation.",
)
def curation_gini_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    w = Window.orderBy("n", "source")
    r = c.withColumn("i", F.row_number().over(w).cast("long"))
    t = r.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("tot"),
    )
    return (
        r.crossJoin(F.broadcast(t))
        .groupBy("k", "tot")
        .agg(
            F.sum((2 * F.col("i") - F.col("k") - 1) * F.col("n"))
            .cast("double")
            .alias("__s")
        )
        .select(
            F.col("k").alias("n_sources"),
            F.col("tot").alias("n_docs"),
            (
                F.col("__s")
                / (F.col("k").cast("double") * F.col("tot").cast("double"))
            ).alias("gini"),
        )
    )


from sql_engine_spark.queries.dedup import _sql_minhash_lsh  # noqa: E402


@register(
    "curation_dedup_rate_report",
    oracle=f"""
        WITH pairs AS ({_sql_minhash_lsh(3, 8, 4, 0.2)}),
        dup_docs AS (
            SELECT DISTINCT id FROM (
                SELECT id_a AS id FROM pairs
                UNION ALL SELECT id_b FROM pairs
            )
        )
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(dd.id) AS BIGINT) AS n_in_dup_pair,
               CAST(COUNT(dd.id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS dup_rate
        FROM documents d LEFT JOIN dup_docs dd ON dd.id = d.doc_id
        GROUP BY d.source
    """,
    doc="Per-source near-duplicate rate report: the fraction of each "
    "source's documents that participate in at least one MinHash-LSH "
    "duplicate pair (same 3-shingle/8-hash/4-band parameters as "
    "dedup_minhash_lsh) — the dataset-card number that tells a "
    "curator WHICH feed is polluting the corpus, not just that "
    "duplicates exist. Shape: the LSH pair pipeline + one distinct + "
    "one broadcast-joined per-source count; nothing quadratic.",
)
def curation_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.queries.dedup import _shared_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = _shared_pairs(spark, sf_dir)
    dup_docs = (
        pairs.select(F.col("id_a").alias("id"))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .withColumn("__dup", F.lit(1).cast("long"))
    )
    return (
        docs.join(dup_docs, docs["doc_id"] == dup_docs["id"], "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count("id").cast("long").alias("n_in_dup_pair"),
            (
                F.count("id").cast("double") / F.count("*").cast("double")
            ).alias("dup_rate"),
        )
    )


from sql_engine_spark.operators import text as _T  # noqa: E402
from sql_engine_spark.queries.text import _PII_SYNTH_SQL, _pii_synth_col  # noqa: E402

_PII_EXPRS = _T.sql_pii_redact_exprs("synth")


@register(
    "privacy_pii_density_report",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, source,
                   CAST(len({sql_tokens('text')}) AS BIGINT) AS n_toks,
                   {_PII_SYNTH_SQL} AS synth
            FROM documents
        )
        SELECT source,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
               CAST(SUM({_PII_EXPRS['n_emails']}) AS BIGINT) AS n_emails,
               CAST(SUM({_PII_EXPRS['n_ips']}) AS BIGINT) AS n_ips,
               CAST(SUM({_PII_EXPRS['n_emails']} + {_PII_EXPRS['n_ips']})
                    AS DOUBLE) * 1000.0 / CAST(SUM(n_toks) AS DOUBLE)
                   AS pii_per_1k_tokens
        FROM s GROUP BY source
    """,
    doc="PII density report per source: email + IPv4 hits per 1,000 "
    "tokens (same synthesized PII column and Java/RE2-identical "
    "regexes as text_pii_redact) — the governance dashboard that "
    "ranks feeds by redaction burden BEFORE the redaction pass runs. "
    "One map pass (regex counts + token counts), one bounded "
    "per-source aggregate; integer sums until the final ratio.",
)
def privacy_pii_density_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_toks"),
        _pii_synth_col().alias("__synth"),
    )
    counted = _T.pii_redact(docs, "__synth", "doc_id").select(
        "doc_id", "n_emails", "n_ips"
    )
    j = docs.select("doc_id", "source", "n_toks").join(counted, "doc_id")
    return j.groupBy("source").agg(
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("n_emails").cast("long").alias("n_emails"),
        F.sum("n_ips").cast("long").alias("n_ips"),
        (
            F.sum(F.col("n_emails") + F.col("n_ips")).cast("double")
            * 1000.0
            / F.sum("n_toks").cast("double")
        ).alias("pii_per_1k_tokens"),
    )
