"""Round-6 audit & composition operators: the LSH recall S-curve, a
quality-score length-bias check, Pareto concentration of activity,
IQR-based outliers composed on the exact-percentile relation, and an
SCD2 point-in-time snapshot.

These compose existing pipelines (prefix-filter truth sets, MinHash
banding, hashed quality scoring, the bucketed-rank percentile relation,
SCD2 intervals) into the self-auditing queries a production curation
stack runs beside the pipelines themselves. All exact-integer counting
with single shared-order divisions; no libm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_engine_spark.functions.numeric import dsum, sql_dsum
from sql_engine_spark.io import load
from sql_engine_spark.operators import dedup as D
from sql_engine_spark.operators.dedup import _persist
from sql_engine_spark.operators.prefix import bucketed_value_rank
from sql_engine_spark.operators.text import (
    hashed_linear_score,
    sql_hashed_linear_score,
)
from sql_engine_spark.queries.dedup import _sql_minhash_lsh
from sql_engine_spark.registry import _REGISTRY, register

_RC_T = 0.3  # audit threshold: prefix filter is exact-complete here


@register(
    "dedup_lsh_recall_curve",
    oracle=f"""
        WITH truth AS ({D.sql_prefix_filter_pairs(shingle_k=3, threshold=_RC_T)}),
        lsh AS ({_sql_minhash_lsh(3, 8, 4, _RC_T)}),
        marked AS (
            SELECT t.id_a, t.id_b, t.jaccard,
                   CASE WHEN l.id_a IS NULL THEN 0 ELSE 1 END AS hit
            FROM truth t LEFT JOIN lsh l
              ON t.id_a = l.id_a AND t.id_b = l.id_b
        )
        SELECT CAST(least(FLOOR(jaccard * 10), 9) AS BIGINT) AS jaccard_decile,
               CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
               CAST(SUM(hit) AS BIGINT) AS n_found,
               CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
        FROM marked GROUP BY 1
    """,
    doc="MinHash-LSH recall S-CURVE: ground truth is the prefix-filter "
    "exact similarity join (zero recall loss by the prefix lemma — "
    "dedup_prefix_filter), candidates are the production 8-hash/4-band "
    "MinHash scheme, both at J >= 0.3; recall is reported PER JACCARD "
    "DECILE, which is exactly the banding S-curve every LSH parameter "
    "choice is judged by (P[candidate] = 1-(1-s^r)^b). The audit a "
    "dedup deployment runs before trusting its band/row split — the "
    "pair-level analogue of ann_lsh_recall_report. Both sides are the "
    "documented bucketed pipelines; the audit adds only pair-keyed "
    "joins and a 10-row aggregate.",
)
def dedup_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    hs = D.shingle_hs_shared(spark, sf_dir)
    # Ground truth = the process-shared exact pair build (also the
    # answer relation of dedup_prefix_filter): the alpha=1.24 exact
    # join runs once per process, both consumers scan it.
    truth = D.prefix_filter_pairs_shared(spark, sf_dir, threshold=_RC_T)
    # Candidates, not verified pairs (r12, guide §1.2): every truth
    # pair already has J >= t, and verified-lsh = candidates ∩ {J >= t},
    # so truth ⋉ verified-lsh == truth ⋉ candidates — the LSH side's
    # exact-Jaccard verify (two hs joins + per-pair set intersection)
    # is provably dead work for this audit. The oracle keeps the full
    # verified-lsh CTE; the hash comparison is what certifies the
    # equivalence.
    lsh = D.minhash_lsh_candidates_from_hs(hs)
    marked = truth.select("id_a", "id_b", "jaccard").join(
        lsh.select("id_a", "id_b", F.lit(1).alias("hit")),
        ["id_a", "id_b"],
        "left",
    )
    return (
        marked.select(
            F.least(F.floor(F.col("jaccard") * 10), F.lit(9))
            .cast("long")
            .alias("jaccard_decile"),
            F.coalesce("hit", F.lit(0)).alias("hit"),
        )
        .groupBy("jaccard_decile")
        .agg(
            F.count("*").cast("long").alias("n_true_pairs"),
            F.sum("hit").cast("long").alias("n_found"),
            (
                F.sum("hit").cast("double") / F.count("*").cast("double")
            ).alias("recall"),
        )
    )


@register(
    "curation_quality_length_bias",
    oracle=f"""
        WITH scored AS ({sql_hashed_linear_score()}),
        j AS (
            SELECT d.source, s.score, CAST(d.n_chars AS DOUBLE) AS len
            FROM documents d JOIN scored s USING (doc_id)
        ),
        s AS (
            SELECT source,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   {sql_dsum('score')} AS sx,
                   {sql_dsum('score * score')} AS sxx,
                   {sql_dsum('len')} AS sy,
                   {sql_dsum('len * len')} AS syy,
                   {sql_dsum('score * len')} AS sxy
            FROM j GROUP BY source
        )
        SELECT source, CAST(n AS BIGINT) AS n_docs,
               ((n * sxy) - (sx * sy))
                   / sqrt(((n * sxx) - (sx * sx)) * ((n * syy) - (sy * sy)))
                   AS corr_score_length
        FROM s
    """,
    doc="Quality-score length-bias audit: Pearson correlation between "
    "the hashed-linear quality score and document length, per source — "
    "the first sanity check on any learned quality filter (a score "
    "that just measures length silently starves short-form sources; "
    "Gopher and FineWeb both report exactly this check). Reuses the "
    "zero-shuffle scorer and the agg_corr_manual sufficient-statistic "
    "discipline: one aggregate pass, DECIMAL-exact co-moments, closed "
    "form in shared double order.",
)
def curation_quality_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    scored = hashed_linear_score(
        docs, id_col="doc_id", text_col="text", carry_cols=["source", "n_chars"]
    ).select("source", "score", F.col("n_chars").cast("double").alias("len"))
    s = scored.groupBy("source").agg(
        F.count("*").cast("double").alias("n"),
        dsum("score").alias("sx"),
        dsum(F.col("score") * F.col("score")).alias("sxx"),
        dsum("len").alias("sy"),
        dsum(F.col("len") * F.col("len")).alias("syy"),
        dsum(F.col("score") * F.col("len")).alias("sxy"),
    )
    cov_n = (F.col("n") * F.col("sxy")) - (F.col("sx") * F.col("sy"))
    var_x = (F.col("n") * F.col("sxx")) - (F.col("sx") * F.col("sx"))
    var_y = (F.col("n") * F.col("syy")) - (F.col("sy") * F.col("sy"))
    return s.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        (cov_n / F.sqrt(var_x * var_y)).alias("corr_score_length"),
    )


_PARETO_PCTS = (10, 20, 50)


@register(
    "events_pareto_concentration",
    oracle=f"""
        WITH u AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY user_id
        ),
        t AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(cnt) AS BIGINT) AS n_events
            FROM u
        ),
        r AS (
            SELECT cnt,
                   CAST(row_number() OVER (ORDER BY cnt DESC, user_id)
                        AS BIGINT) AS rk
            FROM u
        ),
        pct(p) AS (VALUES {", ".join(f"({p})" for p in _PARETO_PCTS)})
        SELECT CAST(p AS BIGINT) AS top_pct,
               CAST(FLOOR(t.n_users * p / 100) AS BIGINT) AS n_top_users,
               CAST(SUM(CASE WHEN rk <= FLOOR(t.n_users * p / 100)
                             THEN cnt ELSE 0 END) AS BIGINT) AS top_events,
               CAST(SUM(CASE WHEN rk <= FLOOR(t.n_users * p / 100)
                             THEN cnt ELSE 0 END) AS DOUBLE)
                   / CAST(t.n_events AS DOUBLE) AS events_share
        FROM r CROSS JOIN t CROSS JOIN pct
        GROUP BY p, t.n_users, t.n_events
    """,
    doc="Pareto concentration of activity: the share of all events "
    "generated by the top 10/20/50% most-active users — the Lorenz-"
    "curve points behind '80/20' engagement analysis, bot triage, and "
    "per-user rate-cap design. The per-user count relation is keyed on "
    "high-cardinality user_id (one map-side-combinable pass); the "
    "descending activity rank then runs through the bucketed two-level "
    "rank (value = -count), never a single-task global sort; the "
    "cutoff test and event sums are exact integers.",
)
def events_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    u = _persist(
        ev.groupBy("user_id").agg(F.count("*").cast("long").alias("cnt"))
    )
    t = u.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("cnt").cast("long").alias("n_events"),
    )
    ranked = bucketed_value_rank(
        u.withColumn("neg", -F.col("cnt")),
        part_cols=[],
        value_col="neg",
        tie_col="user_id",
        n_rows=u.count(),
        out_col="rk",
    )
    pcts = F.explode(F.array(*[F.lit(p) for p in _PARETO_PCTS])).alias("p")
    base = ranked.crossJoin(F.broadcast(t)).select(
        "cnt", "rk", "n_users", "n_events", pcts
    )
    cutoff = F.floor(F.col("n_users") * F.col("p") / 100)
    return (
        base.groupBy(
            F.col("p").cast("long").alias("top_pct"), "n_users", "n_events"
        )
        .agg(
            F.sum(F.when(F.col("rk") <= cutoff, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("top_events")
        )
        .select(
            "top_pct",
            F.floor(F.col("n_users") * F.col("top_pct") / 100)
            .cast("long")
            .alias("n_top_users"),
            "top_events",
            (
                F.col("top_events").cast("double")
                / F.col("n_events").cast("double")
            ).alias("events_share"),
        )
    )


@register(
    "events_anomaly_iqr",
    oracle=None,  # spliced below from the exact-percentile oracle
    doc="Tukey-fence (IQR) outliers per event type, COMPOSED on the "
    "exact-percentile relation: flag values outside [p25 - 1.5*IQR, "
    "p75 + 1.5*IQR] — the boxplot rule, the robust complement to the "
    "z-score (parametric) and MAD (median-based) monitors already "
    "shipped. The per-group quartiles come from agg_percentile_exact's "
    "bucketed two-level rank (no value lists); the flagging pass is a "
    "broadcast join + map filter. Returns only the outlier rows.",
)
def events_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.queries.round5_events import agg_percentile_exact

    ev = load(spark, sf_dir, "events")
    pct = agg_percentile_exact(spark, sf_dir).select(
        F.col("event_type").alias("__g"),
        "p25",
        "p75",
    )
    iqr = F.col("p75") - F.col("p25")
    lo = F.col("p25") - F.lit(1.5) * iqr
    hi = F.col("p75") + F.lit(1.5) * iqr
    return (
        ev.join(F.broadcast(pct), ev.event_type == F.col("__g"))
        .where((F.col("value") < lo) | (F.col("value") > hi))
        .select(
            "event_id",
            "event_type",
            "value",
            lo.alias("fence_lo"),
            hi.alias("fence_hi"),
        )
    )


def _iqr_oracle() -> str:
    pct_oracle = _REGISTRY["agg_percentile_exact"].oracle
    return f"""
        WITH pct AS ({pct_oracle})
        SELECT e.event_id, e.event_type, e.value,
               p.p25 - 1.5 * (p.p75 - p.p25) AS fence_lo,
               p.p75 + 1.5 * (p.p75 - p.p25) AS fence_hi
        FROM events e JOIN pct p ON e.event_type = p.event_type
        WHERE e.value < p.p25 - 1.5 * (p.p75 - p.p25)
           OR e.value > p.p75 + 1.5 * (p.p75 - p.p25)
    """


_REGISTRY["events_anomaly_iqr"].oracle = _iqr_oracle()

_SCD2_AS_OF = "1997-01-01"


@register(
    "scd2_as_of_snapshot",
    oracle=None,  # spliced below from the scd2 oracle
    doc=f"Point-in-time snapshot over the SCD2 history: each customer's "
    f"version valid AS OF {_SCD2_AS_OF} (valid_from <= D < valid_to, "
    "NULL-open current rows included) — the read side of type-2 "
    "history, what a reproducible training run or an audit reads "
    "instead of 'current state'. Composes scd2_intervals (one "
    "customer-keyed window) with a map-side filter; customers whose "
    "history starts after the as-of date are correctly absent.",
)
def scd2_as_of_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.queries.extras2 import scd2_intervals

    hist = scd2_intervals(spark, sf_dir)
    d = F.lit(_SCD2_AS_OF).cast("date")
    return hist.where(
        (F.col("valid_from") <= d)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > d))
    ).select("o_custkey", "o_orderkey", "attr_price", "valid_from", "valid_to")


def _scd2_as_of_oracle() -> str:
    scd2_oracle = _REGISTRY["scd2_intervals"].oracle
    return f"""
        WITH hist AS ({scd2_oracle})
        SELECT o_custkey, o_orderkey, attr_price, valid_from, valid_to
        FROM hist
        WHERE valid_from <= DATE '{_SCD2_AS_OF}'
          AND (valid_to IS NULL OR valid_to > DATE '{_SCD2_AS_OF}')
    """


_REGISTRY["scd2_as_of_snapshot"].oracle = _scd2_as_of_oracle()


@register(
    "curation_cluster_size_histogram",
    oracle=None,  # spliced below from the connected-components oracle
    doc="Near-dup cluster-size distribution: how many duplicate "
    "clusters exist at each size, plus the singleton mass (docs in no "
    "near-dup pair) — the shape report that tells a dedup run whether "
    "it is fighting a few mega-clusters (template spam, mirrors) or a "
    "long tail of pairs, which decides keep-best strategy and "
    "per-cluster caps. Composes dedup_connected_components (3-round "
    "min-label propagation over the MinHash pair graph); the histogram "
    "is two bounded aggregates, singletons counted by difference "
    "against the corpus total.",
)
def curation_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.queries.dedup import dedup_connected_components

    docs = load(spark, sf_dir, "documents")
    # cc feeds the size histogram AND the docs-in-clusters count; a
    # persist was TRIED in r13 and measured ~2x SLOWER at sf0.1: the CC
    # loop internally persists + checkpoints its edge relation, so a
    # second reference of the labels plan costs only the 3 broadcast
    # rounds over flat leaves, while the outer persist serialized the
    # query behind a cache-materialization barrier. Reverted.
    cc = dedup_connected_components(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").cast("long").alias("sz"))
    hist = sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
    )
    n_total = docs.agg(F.count("*").cast("long").alias("n")).collect()[0].n
    n_in_clusters = cc.select("doc_id").distinct().count()
    singletons = spark.createDataFrame(
        [(1, n_total - n_in_clusters, n_total - n_in_clusters)],
        "cluster_size long, n_clusters long, n_docs long",
    )
    return (
        hist.unionByName(singletons)
        .groupBy("cluster_size")
        .agg(
            F.sum("n_clusters").cast("long").alias("n_clusters"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )
    )


def _cluster_hist_oracle() -> str:
    cc = _REGISTRY["dedup_connected_components"].oracle
    return f"""
        WITH cc AS ({cc}),
        sizes AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
            FROM cc GROUP BY cluster_id
        ),
        hist AS (
            SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
                   CAST(SUM(sz) AS BIGINT) AS n_docs
            FROM sizes GROUP BY sz
        ),
        singles AS (
            SELECT CAST(1 AS BIGINT) AS cluster_size,
                   (SELECT COUNT(*) FROM documents)
                       - (SELECT COUNT(DISTINCT doc_id) FROM cc) AS n_clusters,
                   (SELECT COUNT(*) FROM documents)
                       - (SELECT COUNT(DISTINCT doc_id) FROM cc) AS n_docs
        )
        SELECT cluster_size,
               CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs
        FROM (SELECT * FROM hist UNION ALL SELECT * FROM singles)
        GROUP BY cluster_size
    """


_REGISTRY["curation_cluster_size_histogram"].oracle = _cluster_hist_oracle()


_ZO_PRICE_LO, _ZO_PRICE_HI = 100000.0, 150000.0
_ZO_CUST_LO, _ZO_CUST_HI = 100, 400


@register(
    "scan_zorder_multicol_prune",
    oracle=f"""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_totalprice BETWEEN {_ZO_PRICE_LO} AND {_ZO_PRICE_HI}
          AND o_custkey BETWEEN {_ZO_CUST_LO} AND {_ZO_CUST_HI}
    """,
    doc="Z-order clustering + MULTI-COLUMN zone-map pruning: orders are "
    "written range-partitioned and sorted by the Morton interleave of "
    "(o_totalprice, o_custkey) (sinks.write_zordered), so every file "
    "covers a small RECTANGLE of the 2-D space and footer min/max "
    "stats prune on EITHER predicate column — the property a plain "
    "sort only gives its leading column, and the reason Delta/Iceberg "
    "ship OPTIMIZE ZORDER. Both columns' zones are read driver-side "
    "from footers (operators/zonemap.footer_file_stats, zero row "
    "reads), files are kept only when BOTH rectangles intersect the "
    "predicate box (conservative on missing stats), and the row "
    "filter re-applies on survivors — so the result is definitionally "
    "the plain double-filtered scan the oracle runs. "
    "tests/test_r6_ops.py pins that pruning actually drops files.",
)
def scan_zorder_multicol_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.sharedcost import tracked_tmpdir
    from sql_engine_spark.sinks import write_zordered

    orders = load(spark, sf_dir, "orders")
    path = tracked_tmpdir("zorder_orders_")
    write_zordered(
        orders, path, cols=("o_totalprice", "o_custkey"), n_files=8
    )
    kept = zorder_kept_files(path)
    df = spark.read.parquet(*kept)
    return df.where(
        F.col("o_totalprice").between(_ZO_PRICE_LO, _ZO_PRICE_HI)
        & F.col("o_custkey").between(_ZO_CUST_LO, _ZO_CUST_HI)
    ).select("o_orderkey", "o_custkey", "o_totalprice")


def zorder_kept_files(path: str) -> list[str]:
    """Driver-side 2-column zone intersection over the z-ordered files:
    keep a file iff BOTH its (min, max) ranges intersect the predicate
    box, conservatively keeping files with missing stats."""
    from sql_engine_spark.operators.zonemap import footer_file_stats

    def survivors(col: str, lo, hi) -> set[str]:
        out = set()
        for z in footer_file_stats(path, col):
            if z.all_null:
                continue
            if not z.has_stats or z.min_val is None:
                out.add(z.file)  # conservative
            elif not (z.max_val < lo or z.min_val > hi):
                out.add(z.file)
        return out

    kept = survivors("o_totalprice", _ZO_PRICE_LO, _ZO_PRICE_HI) & survivors(
        "o_custkey", _ZO_CUST_LO, _ZO_CUST_HI
    )
    # never return an empty read set (no qualifying file still needs a
    # valid DataFrame); fall back to all files, the row filter decides
    if not kept:
        import glob
        import os

        kept = set(glob.glob(os.path.join(path, "*.parquet")))
    return sorted(kept)
