"""Round-7 engine-surface set 2: SQL-standard surface the reference's
planner rejects outright (single-SELECT only,
/root/reference/src/planner/mod.rs:202-207) but any engine replacing it
must speak — bag-semantics set ops (INTERSECT ALL / EXCEPT ALL),
FILTER-clause aggregates, NULLS FIRST ordering, IGNORE NULLS
last-observation-carried-forward gap fill, and schema-evolution reads
(mergeSchema over parquet files written at different schema versions —
the layout reality of any 100 TB lake that has ever added a column).

Scale posture: the set ops and FILTER aggregates are single-shuffle
Catalyst plans (bag set ops compile to a count-compare aggregate, not
a join); LOCF is one window pass per user partition; the
schema-evolution read is a planning-time footer merge, not a data
rewrite. Everything hashed is exact (integers, verbatim column
values); no doubles beyond single divisions of exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_engine_spark.io import load
from sql_engine_spark.registry import register
from sql_engine_spark.sharedcost import tracked_tmpdir


def _li_bucket_sql(where: str) -> str:
    return f"""
        SELECT l_returnflag AS rf, l_linestatus AS ls,
               CAST(FLOOR(l_quantity / 10.0) AS BIGINT) AS qty_bucket
        FROM lineitem WHERE {where}
    """


def _li_bucket(df: DataFrame, cond) -> DataFrame:
    return df.where(cond).select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
        F.floor(F.col("l_quantity") / 10.0).cast("long").alias("qty_bucket"),
    )


@register(
    "setop_intersect_all",
    oracle=f"""
        {_li_bucket_sql("l_discount < 0.05")}
        INTERSECT ALL
        {_li_bucket_sql("l_discount >= 0.03")}
    """,
    doc="INTERSECT ALL (bag semantics: each row kept min(m1, m2) "
    "times) between two overlapping lineitem projections — the "
    "multiset counterpart of the r4 setop_intersect. The reference "
    "has no set ops at all; Spark compiles intersectAll to ONE "
    "aggregate producing per-row counts from both sides plus a "
    "generate — a single shuffle on the row key, no join, which is "
    "the plan that survives 100 TB (bag intersect via join would "
    "multiply duplicates).",
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    a = _li_bucket(li, F.col("l_discount") < 0.05)
    b = _li_bucket(li, F.col("l_discount") >= 0.03)
    return a.intersectAll(b)


@register(
    "setop_except_all",
    oracle=f"""
        {_li_bucket_sql("l_discount >= 0.03")}
        EXCEPT ALL
        {_li_bucket_sql("l_discount < 0.05")}
    """,
    doc="EXCEPT ALL (bag semantics: each row kept max(m1 - m2, 0) "
    "times) over the same overlapping projections, larger side "
    "first so surviving multiplicities are non-trivial — with "
    "setop_intersect_all this pins the full multiset algebra "
    "(m = min on intersect, m1-m2 clamped on except) against DuckDB "
    "row-for-row. Same single-shuffle count-compare plan shape.",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    a = _li_bucket(li, F.col("l_discount") >= 0.03)
    b = _li_bucket(li, F.col("l_discount") < 0.05)
    return a.exceptAll(b)


@register(
    "agg_filter_clause",
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(COUNT(*) FILTER (WHERE l_discount >= 0.05) AS BIGINT)
                   AS n_high_disc,
               CAST(COUNT(*) FILTER (WHERE l_tax = 0.0) AS BIGINT)
                   AS n_tax_free,
               CAST(SUM(CAST(l_quantity AS BIGINT))
                        FILTER (WHERE l_linestatus = 'F') AS BIGINT)
                   AS qty_finished,
               CAST(MAX(l_quantity) FILTER (WHERE l_discount >= 0.05)
                        AS DOUBLE) AS max_qty_high_disc
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="SQL:2003 FILTER-clause aggregates (per-aggregate predicates "
    "inside ONE grouped pass) — the standard spelling both Spark and "
    "DuckDB support natively, vs the reference which has no "
    "conditional aggregation at all. One map-side-combinable "
    "aggregate over lineitem; four differently-filtered aggregates "
    "share the single shuffle instead of four self-joined subqueries "
    "(the 100 TB difference). Counts and an integer-cast SUM hash "
    "exactly; the MAX is a verbatim input double.",
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_all"),
        F.expr("COUNT(*) FILTER (WHERE l_discount >= 0.05)")
        .cast("long")
        .alias("n_high_disc"),
        F.expr("COUNT(*) FILTER (WHERE l_tax = 0.0)").cast("long").alias("n_tax_free"),
        F.expr("SUM(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_linestatus = 'F')")
        .cast("long")
        .alias("qty_finished"),
        F.expr("MAX(l_quantity) FILTER (WHERE l_discount >= 0.05)")
        .cast("double")
        .alias("max_qty_high_disc"),
    )


@register(
    "order_by_nulls_first",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                    ELSE o_orderpriority END AS prio
        FROM orders
        ORDER BY prio NULLS FIRST, o_orderkey
        LIMIT 200
    """,
    doc="Explicit NULL-ordering semantics: a nullable sort key (URGENT "
    "mapped to NULL via NULLIF-style CASE) ordered NULLS FIRST with a "
    "deterministic key tie-break, LIMIT 200. Spark's default for ASC "
    "is NULLS FIRST but the query pins it EXPLICITLY "
    "(asc_nulls_first) so the semantics survive a default change; "
    "DuckDB's default is NULLS LAST, so the oracle only matches "
    "because both sides spell the ordering out — exactly the "
    "cross-engine trap this operator exists to pin. TakeOrdered "
    "top-K plan, no global sort.",
)
def order_by_nulls_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    return (
        od.select(
            "o_orderkey",
            "o_custkey",
            F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(None)).otherwise(
                F.col("o_orderpriority")
            ).alias("prio"),
        )
        .orderBy(F.col("prio").asc_nulls_first(), F.col("o_orderkey").asc())
        .limit(200)
    )


@register(
    "window_ignore_nulls_locf",
    oracle="""
        SELECT event_id, user_id, ts, raw_value,
               last_value(raw_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value
        FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_type = 'error' THEN NULL
                        ELSE value END AS raw_value
            FROM events
        )
    """,
    doc="Last-observation-carried-forward gap fill via IGNORE NULLS "
    "window semantics: sensor-style readings (error events masked to "
    "NULL) filled per user with the latest preceding non-NULL value "
    "— the standard LOCF spelling (Spark last(ignorenulls=True), "
    "DuckDB last_value(x IGNORE NULLS)), complementing "
    "events_gap_fill_asof which fills against a SEPARATE reference "
    "series via as-of join. ONE window pass partitioned by user "
    "(parallel across users at 100 TB, no shuffle beyond the "
    "partition exchange); leading NULLs stay NULL — pinned in "
    "tests.",
)
def window_ignore_nulls_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("value"))
        .alias("raw_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "raw_value",
        F.last("raw_value", ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "scan_schema_evolution",
    oracle="""
        SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, lang, n_chars
        FROM documents WHERE doc_id % 2 = 1
    """,
    doc="Schema-evolution read: two parquet drops written at "
    "different schema versions (v1 lacks n_chars; v2 added it) land "
    "in one dataset directory and are read back with "
    "mergeSchema=true — Spark unions the footers at PLANNING time "
    "and back-fills the missing column with NULL, no data rewrite. "
    "This is the layout reality of any long-lived lake (a 100 TB "
    "table that has ever ADDed a column IS this dataset); the "
    "alternative — rewriting history on every schema change — is "
    "the non-starter this operator exists to avoid. Footer merge "
    "cost is O(files) on the driver; the scan itself stays "
    "column-pruned and parallel. Oracle: UNION ALL of the two "
    "version projections with an explicit NULL back-fill.",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = tracked_tmpdir("schema_evo_")
    docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(out + "/v1")
    docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars").write.mode(
        "overwrite"
    ).parquet(out + "/v2")
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(out)
        .select("doc_id", "lang", "n_chars")
    )
