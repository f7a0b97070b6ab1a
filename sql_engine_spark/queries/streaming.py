"""Structured-Streaming queries registered in the driver gate.

Each runs a real streaming query (file-source replay of the events table,
one chunk per micro-batch trigger) into a memory sink, then returns the
drained result as a batch DataFrame — so the incremental implementations
are oracle-checked against plain SQL, not just smoke-tested. The oracles
are the *batch* semantics each stream must converge to.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_engine_spark.functions.numeric import sql_dsum
from sql_engine_spark.operators.sketch import sql_countmin_heavy_hitters
from sql_engine_spark.operators.textprep import sql_tokens
from sql_engine_spark.io import load
from sql_engine_spark.queries.events import SESSION_GAP_S
from sql_engine_spark.registry import register
from sql_engine_spark.streaming.sessionize import sessionize_replay
from sql_engine_spark.streaming.source import (
    events_stream,
    list_part_files,
    run_to_memory,
    stamp_files_last,
    table_stream,
)
from sql_engine_spark.streaming.windows import (
    session_window_agg,
    sliding_agg,
    tumbling_agg,
)

N_CHUNKS = 4


@contextmanager
def _state_partitions(spark: SparkSession, n: int = 8):
    """Stateful operators run `spark.sql.shuffle.partitions` state tasks
    per trigger; cap them for the bounded replays (the conf is captured at
    query start, so restoring it doesn't affect the running stream)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@register(
    "streaming_tumbling_window",
    oracle=f"""
        SELECT event_type,
               make_timestamp(year(ts), month(ts), day(ts), hour(ts),
                              CAST(floor(minute(ts) / 5) * 5 AS INT), 0.0) AS window_start,
               COUNT(*) AS n,
               {sql_dsum('value')} AS sum_value,
               MIN(value) AS min_value, MAX(value) AS max_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="Incremental 5-minute tumbling windows (watermarked event-time "
    "agg over a 4-chunk replay) — must converge to exactly the batch "
    "events_tumbling_window result.",
)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _state_partitions(spark):
        stream = events_stream(spark, sf_dir, N_CHUNKS)
        return run_to_memory(tumbling_agg(stream), "stream_tumbling", "complete")


@register(
    "streaming_sliding_window",
    oracle=f"""
        WITH grid AS (
            SELECT event_type, value,
                   make_timestamp(year(ts), month(ts), day(ts), hour(ts),
                                  CAST(floor(minute(ts) / 5) * 5 AS INT), 0.0) AS g
            FROM events
        )
        SELECT event_type,
               g - to_minutes(CAST(b * 5 AS BIGINT)) AS window_start,
               COUNT(*) AS n,
               {sql_dsum('value')} AS sum_value
        FROM grid CROSS JOIN range(0, 2) t(b)
        GROUP BY 1, 2
    """,
    doc="Incremental sliding windows (10-min length, 5-min slide): each "
    "event lands in two overlapping windows; oracle materializes both "
    "memberships with a range cross join.",
)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _state_partitions(spark):
        stream = events_stream(spark, sf_dir, N_CHUNKS)
        return run_to_memory(
            sliding_agg(stream, length_minutes=10, slide_minutes=5),
            "stream_sliding",
            "complete",
        )


@register(
    "streaming_session_window",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                >= {SESSION_GAP_S} * 1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sid
            FROM flagged
        )
        SELECT user_id, MIN(ts) AS session_start,
               COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
        FROM sessions GROUP BY user_id, sid
    """,
    doc="Built-in merging session windows (session_window, 30-min gap) "
    "over the replay. Oracle is gap-chaining on raw microseconds: "
    "session_window starts a new session when the gap is >= the window "
    "gap (interval overlap rule), unlike the truncation semantics of "
    "events_sessionize.",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _state_partitions(spark):
        stream = events_stream(spark, sf_dir, N_CHUNKS)
        # No watermark: complete-mode snapshot must retain every session
        # (a watermark would evict finalized ones from the state store).
        return run_to_memory(
            session_window_agg(stream, gap="30 minutes", watermark=None),
            "stream_session_window",
            "complete",
        )


@register(
    "streaming_sessionize_stateful",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_S}
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
    """,
    doc="Custom stateful sessionizer: ordinal session ids per user, "
    "cross-batch state (one open session per user), sentinel-flushed "
    "tails — must reproduce the batch events_sessionize result "
    "exactly. Runs on the exactly-once foreachBatch batch-state runner "
    "(streaming/batchstate.py): the carried open session unions under "
    "each batch as a pseudo-row and the ordinary lag-gap segmentation "
    "closes/extends it — zero Python in the row path (the retired "
    "pandas-state spelling paid the ~7x Arrow floor of "
    "scripts/pandas_state_floor.py, ~8x the JVM twins at the sf1 "
    "stress).",
)
def streaming_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.streaming.source import sentinel_replay_dir

    ev = load(spark, sf_dir, "events")

    def _build(out_dir: str):
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        # One far-future sentinel event per user closes every tail
        # session in the final micro-batch (streaming/sessionize.py).
        sentinels = (
            ev.select("user_id")
            .distinct()
            .withColumn("event_id", F.lit(-1).cast("long"))
            .withColumn("ts", F.lit(max_ts) + F.expr("INTERVAL 3650 DAYS"))
            .withColumn("event_type", F.lit("__end__"))
            .withColumn("value", F.lit(0.0))
            .withColumn("props", F.lit(None).cast("string"))
            .select(ev.columns)
        )
        before = list_part_files(out_dir)
        sentinels.coalesce(1).write.mode("append").parquet(out_dir)
        # Sentinels must be the LAST trigger: make their mtime ordering
        # explicit, not an accident of write timing (stamp_files_last).
        stamp_files_last(out_dir, before)
        return max_ts

    # The sentinel-augmented replay dir is a pure function of the
    # dataset — build it once per process (r12; the drain below still
    # runs per invocation with its own checkpoint).
    out_dir, max_ts = sentinel_replay_dir(
        spark, sf_dir, "events", ["ts", "event_id"], N_CHUNKS, "sessionize", _build
    )

    with _state_partitions(spark):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(out_dir)
        )
        res = sessionize_replay(spark, stream, SESSION_GAP_S)
    cutoff = F.lit(max_ts) + F.expr("INTERVAL 1 DAY")
    return res.where(F.col("session_start") < cutoff)


@register(
    "streaming_drop_duplicates",
    oracle="""
        SELECT user_id, event_type, MIN(event_id) AS first_event_id
        FROM events
        GROUP BY user_id, event_type
    """,
    doc="Streaming deduplication: stateful dropDuplicates keyed on "
    "(user_id, event_type) over the time-ordered replay keeps the FIRST "
    "arrival, so the kept event_id is the per-key minimum (event_id is "
    "monotone in ts in this dataset, and each replay chunk reads as a "
    "single split so within-batch order is the file order). State is one "
    "row per distinct key, sharded by key hash.",
)
def streaming_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _state_partitions(spark):
        stream = events_stream(spark, sf_dir, N_CHUNKS)
        deduped = stream.select("user_id", "event_type", "event_id").dropDuplicates(
            ["user_id", "event_type"]
        )
        res = run_to_memory(deduped, "stream_dropdup", "append")
    return res.select(
        "user_id", "event_type", F.col("event_id").alias("first_event_id")
    )


@register(
    "streaming_static_join",
    oracle=f"""
        SELECT c_mktsegment, COUNT(*) AS n, {sql_dsum('value')} AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
    doc="Stream-static join: every micro-batch joins the static customer "
    "dimension (no join state kept on the stream side — the dim is "
    "re-resolved per batch), feeding a complete-mode aggregate per "
    "market segment. The join strategy is left to size-based selection: "
    "customer is SF-proportional, and a forced per-micro-batch "
    "re-broadcast of a multi-GB dim would OOM at scale (same rule the "
    "batch queries follow); Spark still picks broadcast on its own "
    "whenever the dim fits under the threshold.",
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.functions.numeric import dsum

    with _state_partitions(spark):
        stream = events_stream(spark, sf_dir, N_CHUNKS)
        cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        joined = stream.join(cust, stream.user_id == cust.c_custkey)
        agg = joined.groupBy("c_mktsegment").agg(
            F.count("*").alias("n"), dsum("value").alias("sum_value")
        )
        return run_to_memory(agg, "stream_static_join", "complete")


@register(
    "streaming_stream_join",
    oracle="""
        SELECT p.user_id,
               p.event_id AS purchase_id, v.event_id AS view_id,
               p.ts AS purchase_ts,      v.ts AS view_ts
        FROM events p JOIN events v
          ON p.user_id = v.user_id
         AND p.event_type = 'purchase' AND v.event_type = 'view'
         AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    """,
    doc="Stream-stream inner join: purchases matched to the same user's "
    "views from the preceding hour, both sides arriving incrementally "
    "(each side buffers state; matches emit as the partner arrives). No "
    "watermark on the bounded replay so no state is evicted and the "
    "result converges to the batch interval join exactly; production "
    "adds withWatermark on both sides to bound state.",
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _state_partitions(spark):
        s = events_stream(spark, sf_dir, N_CHUNKS)
        p = s.where(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        v = s.where(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        joined = p.join(
            v,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("view_ts") <= F.col("purchase_ts")),
        ).select(
            F.col("p_user").alias("user_id"),
            "purchase_id",
            "view_id",
            "purchase_ts",
            "view_ts",
        )
        return run_to_memory(joined, "stream_stream_join", "append")


@register(
    "streaming_decontaminate",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS tt
            FROM documents
        ),
        ngs AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(tt) < 3 THEN [array_to_string(tt, ' ')]
                            ELSE list_transform(range(1, len(tt) - 1),
                                 i -> array_to_string(tt[i:i+2], ' ')) END) AS g
            FROM toks
        ),
        probe AS (SELECT DISTINCT unnest(g) AS ng FROM ngs WHERE doc_id % 97 = 0),
        corp AS (SELECT doc_id, unnest(g) AS ng FROM ngs WHERE doc_id % 97 <> 0)
        SELECT corp.doc_id AS doc_id, COUNT(*) AS n_shared_ngrams
        FROM corp JOIN probe USING (ng)
        GROUP BY corp.doc_id
    """,
    doc="Streaming benchmark decontamination: documents arrive in "
    "micro-batches (4-chunk replay); each batch tokenizes, shingles and "
    "joins the BROADCAST static probe n-gram set, feeding a per-doc "
    "running aggregate. Converges to the batch text_decontaminate result "
    "exactly — the shape for screening a live ingest feed against a "
    "frozen eval suite.",
)
def streaming_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.operators.textprep import shingles, tokens
    from sql_engine_spark.streaming.source import table_stream

    with _state_partitions(spark):
        stream = table_stream(spark, sf_dir, "documents", ["doc_id"], N_CHUNKS)
        probes = load(spark, sf_dir, "documents").where(F.col("doc_id") % 97 == 0)
        probe_ngrams = F.broadcast(
            probes.select(tokens("text").alias("__t"))
            .select(F.explode(F.array_distinct(shingles("__t", 3))).alias("__ng"))
            .distinct()
        )
        corp = (
            stream.where(F.col("doc_id") % 97 != 0)
            .select("doc_id", tokens("text").alias("__t"))
            .select("doc_id", F.explode(F.array_distinct(shingles("__t", 3))).alias("__ng"))
        )
        agg = (
            corp.join(probe_ngrams, "__ng")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_shared_ngrams"))
        )
        return run_to_memory(agg, "stream_decontaminate", "complete")


@register(
    "streaming_anomaly_zscore",
    oracle="""
        WITH m0 AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s,
                   SUM(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(13,6))) AS s2d
            FROM events GROUP BY event_type
        ),
        m AS (SELECT event_type, n, s,
                     CAST(CAST((s2d) - ((s2d) % 1) AS DECIMAL(27,0)) AS DOUBLE)
                         + CAST((s2d) % 1 AS DOUBLE) AS s2
              FROM m0),
        st AS (SELECT event_type, (s / n) AS mean,
                      sqrt((s2 / n) - ((s / n) * (s / n))) AS sd
               FROM m)
        SELECT e.event_id, e.event_type, e.value,
               ((e.value - st.mean) / st.sd) AS z
        FROM events e JOIN st USING (event_type)
        WHERE abs((e.value - st.mean) / st.sd) >= 2.5
    """,
    doc="Train/serve anomaly detection on a stream: per-type mean/std are "
    "computed in BATCH (the training pass, exact decimal moments), then "
    "every micro-batch of the event stream joins the tiny stats side and "
    "emits |z| >= 2.5 rows in append mode — stateless serving, no "
    "aggregation state on the stream. The replay converges to the batch "
    "oracle exactly. At scale the stats side is bounded by the distinct "
    "type count (broadcast-size by construction), the standard "
    "offline-train / online-score split.",
)
def streaming_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: maintained by the shared events replay fleet — the per-row
    # train/serve filter is a pure function of (row, trained stats), so
    # the flagged-row union merge is batch-composition-independent and
    # the view joins the one-replay-per-(process, table) pass instead
    # of paying its own availableNow drain (r12 fleet device; drain
    # priced in shared_builds). The trained side is built once per
    # drain by the spec's make_partial (below).
    from sql_engine_spark.streaming.fleet import fleet_view

    with _state_partitions(spark):
        view = fleet_view(spark, sf_dir, "streaming_anomaly_zscore")
    return view.read(spark).select("event_id", "event_type", "value", "z")


def _zscore_make_partial(spark: SparkSession, sf_dir: str):
    from sql_engine_spark.functions.numeric import dsum
    from sql_engine_spark.operators.dedup import _persist
    from sql_engine_spark.queries.extras import _DN, _DW, _exact_double

    ev = load(spark, sf_dir, "events")
    m0 = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        dsum("value").alias("s"),
        F.sum(F.col("value").cast(_DW) * F.col("value").cast(_DN)).alias("s2d"),
    )
    m = m0.selectExpr("event_type", "n", "s", f"{_exact_double('s2d')} AS s2")
    # Persisted: the per-batch join re-resolves the static plan every
    # micro-batch (r12, guide §2.4).
    st = _persist(
        m.selectExpr(
            "event_type",
            "(s / n) AS mean",
            "sqrt((s2 / n) - ((s / n) * (s / n))) AS sd",
        )
    )
    z = (F.col("value") - F.col("mean")) / F.col("sd")

    def partial(b: DataFrame) -> DataFrame:
        return (
            b.join(st, "event_type")
            .where(F.abs(z) >= 2.5)
            .select("event_id", "event_type", "value", z.alias("z"))
        )

    return partial


from sql_engine_spark.queries.curation import MIXTURE_SAMPLE_ORACLE


@register(
    "streaming_mixture_sample",
    oracle=MIXTURE_SAMPLE_ORACLE,
    doc="Curate-as-it-lands: the temperature-flattened (source, lang) "
    "mixture sampler served on a document stream. Keep-thresholds are "
    "'trained' in batch (one bounded per-stratum aggregate — the same "
    "offline-train/online-serve split as streaming_anomaly_zscore); "
    "each micro-batch joins the broadcast-size rates side and applies "
    "the content-hash keep filter in append mode — stateless, and "
    "because the filter is a pure function of each row, the stream "
    "converges to the batch curation_mixture_sample result exactly.",
)
def streaming_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: maintained by the shared documents replay fleet (see
    # streaming_anomaly_zscore — same train-once/serve-per-batch split,
    # same batch-composition-independent kept-row union merge).
    from sql_engine_spark.streaming.fleet import fleet_view

    with _state_partitions(spark):
        view = fleet_view(spark, sf_dir, "streaming_mixture_sample")
    return view.read(spark).select("doc_id", "source", "lang")


def _mixture_make_partial(spark: SparkSession, sf_dir: str):
    from sql_engine_spark.operators.dedup import _persist
    from sql_engine_spark.queries.curation import mixture_hash_u, mixture_rates

    docs = load(spark, sf_dir, "documents")
    rates = _persist(mixture_rates(docs))

    def partial(b: DataFrame) -> DataFrame:
        return (
            b.join(F.broadcast(rates), ["source", "lang"])
            .where(mixture_hash_u() < F.col("__thr"))
            .select("doc_id", "source", "lang")
        )

    return partial


@register(
    "streaming_stream_left_join",
    oracle="""
        SELECT p.user_id,
               p.event_id AS purchase_id, v.event_id AS view_id,
               p.ts AS purchase_ts,      v.ts AS view_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON p.user_id = v.user_id
         AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    """,
    doc="Stream-stream LEFT OUTER join with watermarks on both sides: "
    "purchases matched to same-user views from the preceding hour; a "
    "purchase with NO qualifying view must still emit (with NULLs) — "
    "which only happens once the view-side watermark passes the "
    "purchase's match window. Both sides carry 10-minute watermarks "
    "(bounding join state at scale); a far-future sentinel event in the "
    "final chunk pushes the watermark past every real row so tail "
    "unmatched purchases flush, and Spark's no-data batch emits them. "
    "Converges exactly to the batch LEFT JOIN oracle.",
)
def streaming_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.streaming.source import sentinel_replay_dir

    ev = load(spark, sf_dir, "events")

    def _build(out_dir: str):
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        # Watermarks are computed AFTER each side's event_type filter,
        # so a sentinel must SURVIVE the filter to advance that side's
        # clock: one far-future purchase (user -1) and one far-future
        # view (user -2). They can never join (no real user is
        # negative, nor each other), the view sentinel never emits
        # (unmatched right rows don't in a left join), and the purchase
        # sentinel never flushes because the watermark — defined by its
        # own timestamp minus the delay — never passes it; the output
        # filter drops negatives anyway.
        far = F.lit(max_ts) + F.expr("INTERVAL 3650 DAYS")
        sentinel = (
            spark.range(1)
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                far.alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("purchase").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(None).cast("string").alias("props"),
            )
            .select(ev.columns)
            .unionByName(
                spark.range(1).select(
                    F.lit(-2).cast("long").alias("event_id"),
                    far.alias("ts"),
                    F.lit(-2).cast("long").alias("user_id"),
                    F.lit("view").alias("event_type"),
                    F.lit(0.0).alias("value"),
                    F.lit(None).cast("string").alias("props"),
                ).select(ev.columns)
            )
        )
        before = list_part_files(out_dir)
        sentinel.coalesce(1).write.mode("append").parquet(out_dir)
        # Watermark safety depends on the sentinel file being processed
        # LAST (review: an mtime tie could advance both watermarks on
        # the first trigger and drop every real event as late) — stamp
        # it strictly after every chunk file, not trusting write timing.
        stamp_files_last(out_dir, before)
        return max_ts

    # 2 chunks (+ sentinel): outer-join state still crosses a batch
    # boundary, at half the per-trigger fixed cost of the 4-chunk replay
    # (stream-stream joins run two stateful ops per trigger). The dir is
    # a pure function of the dataset — built once per process (r12).
    out_dir, max_ts = sentinel_replay_dir(
        spark, sf_dir, "events", ["ts", "event_id"], 2, "leftjoin", _build
    )

    with _state_partitions(spark, 4):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(out_dir)
        )
        p = (
            stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                # Watermarks require TIMESTAMP (LTZ); the session TZ is
                # pinned UTC (session.py) so NTZ<->LTZ is a lossless
                # wall-clock reinterpretation, undone on output.
                F.col("ts").cast("timestamp").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "10 minutes")
        )
        v = (
            stream.where(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").cast("timestamp").alias("view_ts"),
            )
            .withWatermark("view_ts", "10 minutes")
        )
        joined = p.join(
            v,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("view_ts") <= F.col("purchase_ts")),
            "left_outer",
        ).select(
            F.col("p_user").alias("user_id"),
            "purchase_id",
            "view_id",
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
            F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        )
        res = run_to_memory(joined, "stream_stream_left_join", "append")
    return res.where(F.col("user_id") >= 0)


@register(
    "streaming_vocab_topk",
    oracle=f"""
        SELECT token, COUNT(*) AS n
        FROM (SELECT unnest({sql_tokens('text')}) AS token
              FROM documents)
        WHERE token <> ''
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 100
    """,
    doc="Streaming distributed word count with running top-k: the "
    "documents table replayed as a micro-batch stream, tokens exploded "
    "in-stream (generators run incrementally), counts maintained in "
    "complete-mode aggregate state, top-100 (ties lexicographic) taken "
    "on the drained result — converges to the batch text_vocab_topk "
    "exactly. The canonical streaming-agg shape: map-side partial "
    "counts per micro-batch, state keyed by token.",
)
def streaming_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: maintained by the shared documents replay fleet — per-batch
    # partial token counts merge by sum (associative + commutative),
    # the same state the complete-mode aggregate held; top-100 on read.
    from sql_engine_spark.streaming.fleet import fleet_view

    with _state_partitions(spark):
        view = fleet_view(spark, sf_dir, "streaming_vocab_topk")
    return (
        view.read(spark).orderBy(F.desc("n"), F.asc("token")).limit(100)
    )


def _vocab_partial(b: DataFrame) -> DataFrame:
    from sql_engine_spark.operators.textprep import tokens

    return (
        b.select(F.explode(tokens("text")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


@register(
    "streaming_countmin_heavy_hitters",
    oracle=sql_countmin_heavy_hitters("user_id", "events", threshold=12),
    doc="Count-Min sketch maintained AS STREAMING STATE: the event "
    "stream folds into the bounded (depth x width) counter matrix via "
    "a complete-mode aggregate — per-trigger state is the sketch "
    "itself, never per-key counts — and heavy hitters are served "
    "post-drain by the same broadcast min-join as the batch operator. "
    "Converges exactly to the batch events_countmin_heavy_hitters: "
    "CMS counters are order-insensitive sums, the defining property "
    "that makes sketches streamable.",
)
def streaming_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    depth, width, threshold = _CMS_DEPTH_W[0], _CMS_DEPTH_W[1], 12
    # r13: the sketch is maintained by the shared events replay fleet —
    # CMS counters are order-insensitive sums (the defining property
    # that makes sketches streamable), so per-batch partial counters
    # merge by elementwise sum into the identical drained matrix.
    from sql_engine_spark.streaming.fleet import fleet_view

    with _state_partitions(spark):
        counters = fleet_view(
            spark, sf_dir, "streaming_countmin_heavy_hitters"
        ).read(spark)
    # Serve: the exact batch serve side, shared via cms_estimate.
    from sql_engine_spark.operators.sketch import cms_estimate

    ev = load(spark, sf_dir, "events")
    keys = (
        ev.select(F.col("user_id").cast("string").alias("__k"))
        .groupBy("__k")
        .agg(F.count("*").cast("long").alias("exact_count"))
    )
    return cms_estimate(keys, counters, threshold=threshold, depth=depth, width=width)



@register(
    "streaming_materialized_agg",
    oracle=f"""
        SELECT event_type,
               COUNT(*) AS n,
               {sql_dsum('value')} AS sum_value
        FROM events GROUP BY event_type
    """,
    doc="Incrementally-maintained materialized aggregate: each "
    "micro-batch's PARTIAL per-type counts/sums merge into a parquet "
    "'materialized view' via foreachBatch (read current -> combine -> "
    "atomic directory swap) — the streaming upsert-sink pattern for "
    "keeping a dashboard table fresh without reprocessing history. "
    "Partials use exact DECIMAL sums so the merged result is "
    "bit-identical to the one-shot batch aggregate regardless of how "
    "rows split across batches. foreachBatch is AT-LEAST-ONCE, so the "
    "merge is made idempotent: the applied batch id rides inside the "
    "view directory (an underscore-prefixed sidecar the parquet reader "
    "ignores) and swaps atomically WITH the data, so a retried "
    "micro-batch sees its own id already applied and skips instead of "
    "double-counting. The view relation stays aggregate-sized "
    "(event-type cardinality); per-trigger cost is O(batch) + "
    "O(view), never O(history). Maintained by the shared events replay "
    "fleet (streaming/fleet.py): one ingest stream updates every "
    "events-sourced view; per-view commit protocol untouched.",
)
def streaming_materialized_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql_engine_spark.streaming.fleet import fleet_view

    view = fleet_view(spark, sf_dir, "streaming_materialized_agg")
    # The view directory persists for the process lifetime (a
    # tracked_tmpdir, swept at exit), so the result reads lazily like
    # any table.
    return view.read(spark).select(
        "event_type", "n", F.col("__dsum").cast("double").alias("sum_value")
    )


def _matview_agg_partial(b: DataFrame) -> DataFrame:
    from sql_engine_spark.functions.numeric import DEC

    return b.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(DEC)).alias("__dsum"),
    )


from sql_engine_spark.streaming.fleet import register_fleet_view  # noqa: E402

register_fleet_view(
    "streaming_materialized_agg",
    table="events",
    partial_of=_matview_agg_partial,
    combine=lambda cur, partial: (
        cur.unionByName(partial)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("__dsum").alias("__dsum"))
    ),
)

# r13 fleet fold-ins: the last bench-tracked solo streams whose merges
# are associative + commutative (union of disjoint per-row results;
# count/counter sums) join the one-replay-per-(process, table) fleet.
# streaming_stream_left_join stays solo deliberately — watermarked
# stream-stream OUTER join state cannot be expressed as a matview merge.

from sql_engine_spark.operators.sketch import CMS_DEPTH, CMS_WIDTH  # noqa: E402

_CMS_DEPTH_W = (CMS_DEPTH, CMS_WIDTH)


def _cms_partial(b: DataFrame) -> DataFrame:
    from sql_engine_spark.operators.sketch import _bucket

    depth, width = _CMS_DEPTH_W
    base = b.select(F.col("user_id").cast("string").alias("__k"))
    bucket_cols = [
        _bucket("__k", r, width).alias(f"__b{r}") for r in range(depth)
    ]
    stack = (
        f"stack({depth}, "
        + ", ".join(f"{r}, __b{r}" for r in range(depth))
        + ") as (__r, __b)"
    )
    return (
        base.select(*bucket_cols)
        .selectExpr(stack)
        .groupBy("__r", "__b")
        .agg(F.count("*").alias("__n"))
    )


register_fleet_view(
    "streaming_anomaly_zscore",
    table="events",
    make_partial=_zscore_make_partial,
    combine=lambda cur, partial: cur.unionByName(partial),
)

register_fleet_view(
    "streaming_mixture_sample",
    table="documents",
    make_partial=_mixture_make_partial,
    combine=lambda cur, partial: cur.unionByName(partial),
)

register_fleet_view(
    "streaming_vocab_topk",
    table="documents",
    partial_of=_vocab_partial,
    combine=lambda cur, partial: (
        cur.unionByName(partial).groupBy("token").agg(F.sum("n").alias("n"))
    ),
)

register_fleet_view(
    "streaming_countmin_heavy_hitters",
    table="events",
    partial_of=_cms_partial,
    combine=lambda cur, partial: (
        cur.unionByName(partial)
        .groupBy("__r", "__b")
        .agg(F.sum("__n").alias("__n"))
    ),
)
