"""Round-8 evaluation/curation set: threshold-sweep class-balance
metrics, effective sample size of importance weights, Fleiss' kappa,
activity Gini, and a lakehouse snapshot-expiry file plan.

Log-free (sqrt only), exact-integer cells and DECIMAL-exact folds per
the house discipline; the sweep reuses round8_quality's one-pass
confusion-cell machinery (no per-threshold corpus rescans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_engine_spark.functions.numeric import dsum, sql_dsum, sql_ssum, ssum
from sql_engine_spark.io import load
from sql_engine_spark.operators.dedup import _persist
from sql_engine_spark.operators.prefix import bucketed_value_rank
from sql_engine_spark.queries.round8_quality import _CONFUSION_SQL, _confusion_cells
from sql_engine_spark.registry import _REGISTRY, register

# ---------------------------------------------------------------------------
# Balanced-accuracy / G-mean / Fowlkes-Mallows sweep
# ---------------------------------------------------------------------------


@register(
    "quality_gmean_sweep",
    oracle=f"""
        WITH {_CONFUSION_SQL}
        SELECT threshold, tp, fp, fn, tn,
               CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS tpr,
               CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) AS tnr,
               (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE)) / 2.0
                   AS balanced_accuracy,
               sqrt((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))
                  * (CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE))) AS gmean,
               CASE WHEN tp + fp = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE sqrt((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
                            * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)))
                    END AS fowlkes_mallows
        FROM cells
    """,
    doc="Class-imbalance-robust metrics at every grid threshold of the "
    "n_chars->lang='en' scorer: TPR/TNR, balanced accuracy (their "
    "mean — the accuracy that doesn't reward majority-class "
    "collapse), G-mean = sqrt(TPR*TNR) (Kubat & Matwin 1997), and "
    "Fowlkes-Mallows = sqrt(precision*recall). Completes the sweep "
    "family (confusion/MCC/Youden read the same cells): all four "
    "derive from the SAME one-pass exact-integer confusion cells "
    "(round8_quality._confusion_cells — a bounded distinct-score "
    "relation, never a per-threshold rescan); sqrt of shared-order "
    "rationals only.",
)
def quality_gmean_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _confusion_cells(spark, sf_dir)
    tpr = F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double")
    tnr = F.col("tn").cast("double") / (F.col("tn") + F.col("fp")).cast("double")
    prec = F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double")
    return cells.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        tpr.alias("tpr"),
        tnr.alias("tnr"),
        ((tpr + tnr) / F.lit(2.0)).alias("balanced_accuracy"),
        F.sqrt(tpr * tnr).alias("gmean"),
        F.when((F.col("tp") + F.col("fp")) == 0, F.lit(0.0))
        .otherwise(F.sqrt(prec * tpr))
        .alias("fowlkes_mallows"),
    )


# ---------------------------------------------------------------------------
# Effective sample size of importance weights
# ---------------------------------------------------------------------------


@register(
    "curation_effective_sample_size",
    oracle=None,  # composed below from the importance-weights oracle
    doc="Kish effective sample size of the DSIR importance weights, "
    "per source: ESS = (sum w)^2 / sum w^2 (Kish 1965) — the standard "
    "check that importance-weighted training data hasn't collapsed "
    "onto a few documents (ess_fraction near 1 = weights are flat; "
    "near 1/n = one doc dominates and the reweighted mixture is "
    "fiction). Weights come from the registered "
    "curation_importance_weights pipeline (its oracle SQL is wrapped "
    "verbatim, so both engines score identically); the per-source "
    "fold crosses engines via dsum/ssum. One id-keyed join to attach "
    "sources, one bounded aggregate.",
)
def curation_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.queries.curation import curation_importance_weights

    w = curation_importance_weights(spark, sf_dir).select("doc_id", "weight")
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    j = w.join(src, "doc_id")
    agg = j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        dsum(F.col("weight")).alias("sw"),
        ssum(F.col("weight") * F.col("weight")).alias("sww"),
    )
    ess = (F.col("sw") * F.col("sw")) / F.col("sww")
    return agg.select(
        "source",
        "n_docs",
        ess.alias("ess"),
        (ess / F.col("n_docs").cast("double")).alias("ess_fraction"),
    )


def _fix_ess_oracle() -> None:
    iw = _REGISTRY["curation_importance_weights"].oracle
    _REGISTRY["curation_effective_sample_size"].oracle = f"""
        WITH w AS ({iw}),
        j AS (
            SELECT d.source, w.weight
            FROM w JOIN documents d USING (doc_id)
        ),
        agg AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   {sql_dsum('weight')} AS sw,
                   {sql_ssum('weight * weight')} AS sww
            FROM j GROUP BY source
        )
        SELECT source, n_docs,
               (sw * sw) / sww AS ess,
               ((sw * sw) / sww) / CAST(n_docs AS DOUBLE) AS ess_fraction
        FROM agg
    """


_fix_ess_oracle()


# ---------------------------------------------------------------------------
# Fleiss' kappa (multi-rater agreement)
# ---------------------------------------------------------------------------

_RATER_TOKENS = ["the", "and", "of"]

# House tokenizer spelling (operators/textprep.sql_tokens) so the rater
# predicate matches Spark's tokens() exactly on punctuated text.
from sql_engine_spark.operators.textprep import sql_tokens as _sql_tokens  # noqa: E402

_TOK_SQL = _sql_tokens("text")


@register(
    "agg_fleiss_kappa",
    oracle=f"""
        WITH r AS (
            SELECT doc_id,
                   {" + ".join(
                       "CASE WHEN list_contains("
                       f"{_TOK_SQL}, '{t}') THEN 1 ELSE 0 END"
                       for t in _RATER_TOKENS
                   )} AS n_t
            FROM documents
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(n_t) AS BIGINT) AS sum_t,
                   CAST(SUM(n_t * n_t + (3 - n_t) * (3 - n_t) - 3) AS BIGINT)
                       AS sum_pairs
            FROM r
        )
        SELECT n_items,
               CAST(sum_pairs AS DOUBLE)
                   / (CAST(n_items AS DOUBLE) * 6.0) AS p_bar,
               (CAST(sum_t AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                   * (CAST(sum_t AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
               + (1.0 - CAST(sum_t AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                   * (1.0 - CAST(sum_t AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                   AS p_e,
               (CAST(sum_pairs AS DOUBLE) / (CAST(n_items AS DOUBLE) * 6.0)
                - ((CAST(sum_t AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                     * (CAST(sum_t AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                   + (1.0 - CAST(sum_t AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                     * (1.0 - CAST(sum_t AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))))
               / (1.0 - ((CAST(sum_t AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                     * (CAST(sum_t AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                   + (1.0 - CAST(sum_t AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                     * (1.0 - CAST(sum_t AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))))
                   AS fleiss_kappa
        FROM s
    """,
    doc="Fleiss' kappa (Fleiss 1971) for THREE raters on two "
    "categories — the multi-rater generalization of "
    "curation_rater_agreement_kappa (Cohen handles exactly two): "
    "raters are the contains-'the'/'and'/'of' heuristics, so the "
    "per-item category counts n_t in 0..3 are exact integers; "
    "P_i = (n_t^2 + (3-n_t)^2 - 3)/6, P_bar their mean, "
    "Pe = p_true^2 + p_false^2 from the pooled marginal. Everything "
    "assembles from TWO integer sums in one shared double order — "
    "one corpus map pass, one 1-row aggregate.",
)
def agg_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.operators.textprep import tokens

    docs = load(spark, sf_dir, "documents").select(tokens("text").alias("__t"))
    n_t = sum(
        F.when(F.array_contains("__t", t), 1).otherwise(0) for t in _RATER_TOKENS
    )
    r = docs.select(n_t.alias("n_t"))
    s = r.agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("n_t").cast("long").alias("sum_t"),
        F.sum(
            F.col("n_t") * F.col("n_t")
            + (3 - F.col("n_t")) * (3 - F.col("n_t"))
            - 3
        )
        .cast("long")
        .alias("sum_pairs"),
    )
    nD = F.col("n_items").cast("double")
    p_bar = F.col("sum_pairs").cast("double") / (nD * F.lit(6.0))
    p_t = F.col("sum_t").cast("double") / (nD * F.lit(3.0))
    p_e = p_t * p_t + (F.lit(1.0) - p_t) * (F.lit(1.0) - p_t)
    return s.select(
        "n_items",
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        ((p_bar - p_e) / (F.lit(1.0) - p_e)).alias("fleiss_kappa"),
    )


# ---------------------------------------------------------------------------
# Gini coefficient of user activity
# ---------------------------------------------------------------------------


@register(
    "events_gini_activity",
    oracle="""
        WITH u AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY user_id
        ),
        r AS (
            SELECT cnt,
                   CAST(row_number() OVER (ORDER BY cnt, user_id) AS BIGINT) AS rk
            FROM u
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cnt) AS BIGINT) AS total,
                   CAST(SUM(rk * cnt) AS BIGINT) AS weighted
            FROM r
        )
        SELECT n AS n_users, total AS n_events,
               (2.0 * CAST(weighted AS DOUBLE)
                - (CAST(n AS DOUBLE) + 1.0) * CAST(total AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)) AS gini
        FROM s
    """,
    doc="Gini coefficient of per-user event counts — the single-number "
    "inequality summary next to events_pareto_concentration's top-k "
    "share curve (Gini = 0 everyone equal, -> 1 one user is the "
    "corpus): G = (2 sum rk*x - (n+1) sum x) / (n sum x) over counts "
    "ranked ascending (ties by user_id). The corpus-sized rank runs "
    "through the bucketed two-level scan (operators/prefix."
    "bucketed_value_rank — no global single-task sort); the three "
    "closing sums are exact integers.",
)
def events_gini_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = _persist(
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    ranked = bucketed_value_rank(
        u,
        part_cols=[],
        value_col="cnt",
        tie_col="user_id",
        n_rows=u.count(),
        out_col="rk",
    )
    s = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("total"),
        F.sum(F.col("rk") * F.col("cnt")).cast("long").alias("weighted"),
    )
    nD = F.col("n").cast("double")
    tD = F.col("total").cast("double")
    return s.select(
        F.col("n").alias("n_users"),
        F.col("total").alias("n_events"),
        (
            (F.lit(2.0) * F.col("weighted").cast("double") - (nD + F.lit(1.0)) * tD)
            / (nD * tD)
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Snapshot expiry plan (lakehouse maintenance)
# ---------------------------------------------------------------------------


_EXPIRY_FILES = ["f0", "f1", "f2", "f01"]


def _latest_version(manifest: dict) -> str:
    """Latest snapshot version key, NUMERICALLY — lexicographic max
    breaks as soon as a version \"10\" exists (\"9\" > \"10\") and would
    silently retain the wrong file set (r8 advice)."""
    return max(manifest, key=int)


def expiry_fixture_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process, dataset) the snapshot-table fixture:
    files f0/f1/f2 plus compaction rewrite f01 and a versioned JSON
    manifest. Shared by the snapshot-expiry plan and the round-9
    manifest diff."""
    import json
    import os

    from sql_engine_spark.sharedcost import materialize

    def build(root: str) -> None:
        od = load(spark, sf_dir, "orders").select("o_orderkey")
        parts = {
            "f0": F.col("o_orderkey") % 3 == 0,
            "f1": F.col("o_orderkey") % 3 == 1,
            "f2": F.col("o_orderkey") % 3 == 2,
            "f01": (F.col("o_orderkey") % 3).isin(0, 1),
        }
        for label, cond in parts.items():
            od.where(cond).write.mode("overwrite").parquet(
                os.path.join(root, label)
            )
        manifest = {
            "0": ["f0", "f1"],
            "1": ["f0", "f1", "f2"],
            "2": ["f01", "f2"],
        }
        with open(os.path.join(root, "manifest.json"), "w") as f:
            json.dump(manifest, f)

    return materialize(spark, sf_dir, "snap_expiry", ("orders",), (), build)


@register(
    "maintenance_snapshot_expiry_plan",
    oracle="""
        WITH c AS (
            SELECT
                CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n0,
                CAST(SUM(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n1,
                CAST(SUM(CASE WHEN o_orderkey % 3 = 2 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n2
            FROM orders
        )
        SELECT f.file, f.n_rows, f.referenced, f.deletable FROM (
            SELECT 'f0' AS file, n0 AS n_rows,
                   FALSE AS referenced, TRUE AS deletable FROM c
            UNION ALL
            SELECT 'f1', n1, FALSE, TRUE FROM c
            UNION ALL
            SELECT 'f01', n0 + n1, TRUE, FALSE FROM c
            UNION ALL
            SELECT 'f2', n2, TRUE, FALSE FROM c
        ) f
    """,
    doc="Snapshot-expiry file plan — the maintenance companion of "
    "scan_manifest_time_travel: the table directory holds files f0, "
    "f1, f2 plus compaction rewrite f01 (= f0+f1), and a JSON "
    "manifest with versions v0:[f0,f1], v1:[f0,f1,f2], "
    "v2:[f01,f2]; expiring every snapshot but the latest makes a "
    "file deletable iff NO retained version references it — the "
    "Iceberg/Delta expire-snapshots + vacuum contract, where "
    "compaction rewrites are what actually free data files (v2 still "
    "covers every row). The operator builds the directory state, "
    "reads the manifest, and verifies each file's row count by "
    "SCANNING it (the plan is evidence, not bookkeeping: counts come "
    "from the parquet footers' rows, deletable from manifest set "
    "algebra on a file-list-sized relation).",
)
def maintenance_snapshot_expiry_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    root = expiry_fixture_root(spark, sf_dir)
    paths = {label: os.path.join(root, label) for label in _EXPIRY_FILES}

    with open(os.path.join(root, "manifest.json")) as f:
        mf = json.load(f)
    retained = set(mf[_latest_version(mf)])
    out = None
    for label in _EXPIRY_FILES:
        n = (
            spark.read.parquet(paths[label])
            .agg(F.count("*").cast("long").alias("n_rows"))
            .select(
                F.lit(label).alias("file"),
                "n_rows",
                F.lit(label in retained).alias("referenced"),
                F.lit(label not in retained).alias("deletable"),
            )
        )
        out = n if out is None else out.unionAll(n)
    return out
