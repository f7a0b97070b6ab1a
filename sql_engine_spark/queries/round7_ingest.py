"""Round-7 ingest-robustness set: PERMISSIVE corrupt-record JSON
ingest, dynamic partition overwrite (the idempotent backfill write
path), and event-sequence constraint validation — the operational
edges every production lake hits that a query-only engine never
exercises. The reference engine has no write path and no error
tolerance at all (a bad file is a hard Storage Error,
/root/reference/src/error.rs); these operators pin how THIS engine
degrades and repairs.

Everything hashed is exact integers or verbatim values; file fixtures
are generated DISTRIBUTED (a conditional to_json text write — no
driver-side row materialization) and deterministically from the
driver tables, so the oracle derives the same facts relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sql_engine_spark.functions.numeric import dsum, sql_dsum
from sql_engine_spark.io import load
from sql_engine_spark.registry import register
from sql_engine_spark.sharedcost import tracked_tmpdir

_CORRUPT_MOD = 25


@register(
    "scan_corrupt_records",
    oracle=f"""
        WITH tagged AS (
            SELECT CASE WHEN doc_id % {_CORRUPT_MOD} = 0 THEN '__CORRUPT__'
                        ELSE lang END AS bucket
            FROM documents
        )
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM tagged GROUP BY bucket
    """,
    doc="PERMISSIVE-mode corrupt-record ingest: a JSONL drop where "
    f"every {_CORRUPT_MOD}th record is a truncated (unparseable) line "
    "— generated DISTRIBUTED via a conditional to_json text write — "
    "is read back with an explicit schema plus the "
    "_corrupt_record side channel. Good rows parse; bad rows land "
    "with their raw line captured and typed fields NULL, and the "
    "report buckets them under '__CORRUPT__' beside the per-lang "
    "good counts — the quarantine-and-continue posture a 100 TB "
    "ingest needs (FAILFAST would kill the job on one bad upstream "
    "line; DROPMALFORMED would hide the loss; PERMISSIVE counts it). "
    "Planning note: the corrupt-record column must be materialized "
    "through a cache/select before filtering on it (Spark forbids "
    "filtering the internal column directly from the scan).",
)
def scan_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = tracked_tmpdir("corrupt_json_")
    lines = docs.select(
        F.when(
            F.col("doc_id") % _CORRUPT_MOD == 0,
            # deterministic truncated JSON: unparseable, recognizable
            F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"), F.lit(', "lang": ')),
        )
        .otherwise(
            F.to_json(F.struct(F.col("doc_id"), F.col("lang"), F.col("n_chars")))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(out)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        # Spark requires a materializing projection between the scan
        # and any filter that references the corrupt-record column.
        .select("doc_id", "lang", "_corrupt_record")
        .cache()
    )
    tagged = parsed.select(
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("__CORRUPT__"))
        .otherwise(F.col("lang"))
        .alias("bucket")
    )
    return tagged.groupBy("bucket").agg(F.count("*").cast("long").alias("n_rows"))


@register(
    "sink_dynamic_partition_overwrite",
    oracle=f"""
        WITH final AS (
            SELECT event_type,
                   CASE WHEN event_type = 'click' THEN value * 2.0
                        ELSE value END AS value
            FROM events
        )
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum('value')} AS sum_value
        FROM final GROUP BY event_type
    """,
    doc="Dynamic partition overwrite — the idempotent backfill write: "
    "events land Hive-partitioned by event_type; a corrected 'click' "
    "batch (values re-scaled x2) is then written with "
    "partitionOverwriteMode=dynamic, which replaces ONLY the "
    "partitions present in the incoming batch and leaves every other "
    "partition's files untouched (static overwrite mode would wipe "
    "the whole table — the classic backfill footgun this operator "
    "pins the defense against; at 100 TB rewriting one bad day "
    "instead of the table is the difference between minutes and "
    "days). The re-read aggregate proves clicks changed and the "
    "other four partitions survived byte-for-byte.",
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = tracked_tmpdir("dyn_overwrite_")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    corrected = ev.where(F.col("event_type") == "click").withColumn(
        "value", F.col("value") * 2.0
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(out)
    )
    final = spark.read.parquet(out)
    return final.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        dsum(F.col("value")).alias("sum_value"),
    )


@register(
    "events_order_violations",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS t_purchase
            FROM events GROUP BY user_id
        ),
        checks AS (
            SELECT 'purchase_before_any_view' AS rule,
                   CAST(COUNT(*) AS BIGINT) AS n_checked,
                   CAST(SUM(CASE WHEN f.t_view IS NULL
                                   OR e.ts < f.t_view
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
            FROM events e JOIN firsts f ON e.user_id = f.user_id
            WHERE e.event_type = 'purchase'
            UNION ALL
            SELECT 'signup_after_first_purchase',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN f.t_purchase IS NOT NULL
                                   AND e.ts > f.t_purchase
                            THEN 1 ELSE 0 END) AS BIGINT)
            FROM events e JOIN firsts f ON e.user_id = f.user_id
            WHERE e.event_type = 'signup'
        )
        SELECT rule, n_checked, n_violations,
               CAST(n_violations AS DOUBLE) / CAST(n_checked AS DOUBLE)
                   AS violation_rate
        FROM checks
    """,
    doc="Event-sequence constraint validation: the ORDERING rules a "
    "funnel schema implies — a purchase should follow at least one "
    "view (rule 1: purchases preceding the user's first view, or "
    "with no view at all) and signups should not trail a completed "
    "purchase (rule 2) — counted exactly per rule with rates. This "
    "is the temporal sibling of quality_constraint_violations "
    "(value-domain rules): together they are the Deequ-style suite "
    "plus sequence checks. ONE user-level conditional-MIN aggregate "
    "broadcast back onto the two checked event slices; counters are "
    "map-side combinable; output is O(rules).",
)
def events_order_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .agg(
            F.lit("purchase_before_any_view").alias("rule"),
            F.count("*").cast("long").alias("n_checked"),
            F.sum(
                F.when(
                    F.col("t_view").isNull() | (F.col("ts") < F.col("t_view")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_violations"),
        )
    )
    signups = (
        ev.where(F.col("event_type") == "signup")
        .join(firsts, "user_id")
        .agg(
            F.lit("signup_after_first_purchase").alias("rule"),
            F.count("*").cast("long").alias("n_checked"),
            F.sum(
                F.when(
                    F.col("t_purchase").isNotNull()
                    & (F.col("ts") > F.col("t_purchase")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_violations"),
        )
    )
    return purchases.unionByName(signups).select(
        "rule",
        "n_checked",
        "n_violations",
        (
            F.col("n_violations").cast("double") / F.col("n_checked").cast("double")
        ).alias("violation_rate"),
    )
