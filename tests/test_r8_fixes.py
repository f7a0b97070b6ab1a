"""Round-8 pins: degree-capped wedge enumeration (r7 verdict #1), the
shared kNN-graph build (r7 verdict #2), as-of state TTL + ordering guard
(r7 verdict #8 / advice), and loud oracle_sql degradation (verdict #7)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# Wedge machinery
# --------------------------------------------------------------------------


def _hub_graph(spark, hub_deg=200):
    """Synthetic directed 'kNN' graph with one in-degree hub: nodes
    1..hub_deg each point at node 0 (plus a few spokes among
    themselves), mimicking a popular vector landing in many top-k
    lists. Undirected degree of node 0 is hub_deg."""
    rows = [(i, 0, 1.0 - i * 1e-6, 1) for i in range(1, hub_deg + 1)]
    # a sprinkle of non-hub edges so wedges exist off the hub too
    rows += [(i, i + 1, 0.5, 2) for i in range(1, 50)]
    return spark.createDataFrame(
        rows, "src long, dst long, cosine double, rank long"
    )


def test_capped_adjacency_bounds_hub_wedges(spark):
    from sql_engine_spark.operators.graph import (
        WEDGE_CAP,
        capped_adjacency,
        und_edges,
    )

    hub_deg = 200
    g = _hub_graph(spark, hub_deg)
    und = und_edges(g)
    # Uncapped: the hub alone contributes C(200, 2) = 19,900 wedges.
    adj_full = und.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    full_deg = {r.node: r.d for r in adj_full.groupBy("node").agg(F.count("*").alias("d")).collect()}
    assert full_deg[0] == hub_deg
    capped = capped_adjacency(g)
    cap_deg = capped.groupBy("node").agg(F.count("*").alias("d")).collect()
    assert max(r.d for r in cap_deg) <= WEDGE_CAP
    # Capped wedge volume at the hub: C(cap,2) not C(200,2).
    x, y = capped.alias("x"), capped.alias("y")
    wedges = x.join(
        y, (F.col("x.node") == F.col("y.node")) & (F.col("x.nb") < F.col("y.nb"))
    )
    hub_wedges = wedges.where(F.col("x.node") == 0).count()
    assert hub_wedges == WEDGE_CAP * (WEDGE_CAP - 1) // 2
    # Determinism: the kept neighbors are the strongest (highest cosine,
    # ties to smallest id) — for the hub these are nodes 1..cap.
    kept = sorted(
        r.nb for r in capped.where(F.col("node") == 0).collect()
    )
    assert kept == list(range(1, WEDGE_CAP + 1))


def test_oriented_triangle_wedges_obey_arboricity_bound(spark):
    """Degree-ordered orientation bounds total wedge rows by
    sum(out_deg^2) with out_deg <= O(sqrt(m)) — on the hub graph the
    hub's wedges all form at its SPOKES (degree 2-3), never at the
    hub, so total oriented wedge volume stays edge-sized while the
    naive per-center enumeration would be >= C(200,2)."""
    from sql_engine_spark.operators.graph import und_edges

    g = _hub_graph(spark, 200)
    und = und_edges(g)
    m = und.count()
    both = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count("*").alias("deg"))
    keyed = (
        both.join(deg.select("u", F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("deg").alias("dv")), "v")
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v")
    )
    out_deg = keyed.groupBy("u").agg(F.count("*").alias("od"))
    oriented_wedges = out_deg.agg(
        F.sum(F.col("od") * (F.col("od") - 1) / 2).alias("w")
    ).collect()[0].w
    naive_hub_wedges = 200 * 199 // 2
    assert oriented_wedges < m * 5  # edge-sized, arboricity-bounded
    assert oriented_wedges < naive_hub_wedges / 100


def test_clustering_coefficient_matches_naive_on_hub_graph(spark):
    """The oriented+redistributed triangle spelling is EXACT: same
    per-node triangle counts as the naive closed-wedge enumeration."""
    from sql_engine_spark.operators.graph import triangle_corner_counts, und_edges

    g = _hub_graph(spark, 60)
    # close some triangles: spokes i -> i+1 edges exist for i<50, and
    # all spokes point at 0, so (i, i+1, 0) are triangles.
    und = und_edges(g)
    got = {
        r.node: r.n_triangles for r in triangle_corner_counts(und).collect()
    }
    edges = {(r.a, r.b) for r in und.collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for n, nbs in adj.items():
        nbs = sorted(nbs)
        t = sum(
            1
            for i in range(len(nbs))
            for j in range(i + 1, len(nbs))
            if (min(nbs[i], nbs[j]), max(nbs[i], nbs[j])) in edges
        )
        if t:
            want[n] = t
    assert got == want
    assert want  # triangles actually exist in the fixture


def test_knn_graph_shared_builds_once_per_dataset(spark, sf_dir):
    from urllib.parse import urlparse

    from sql_engine_spark.operators.graph import knn_graph_shared

    g1 = knn_graph_shared(spark, sf_dir)
    path = os.path.dirname(urlparse(g1.inputFiles()[0]).path)
    assert os.path.basename(path) == "knn.parquet"
    mtime = os.path.getmtime(path)
    g2 = knn_graph_shared(spark, sf_dir)
    assert g2.inputFiles() == g1.inputFiles()  # same materialized relation
    assert os.path.getmtime(path) == mtime  # no rebuild
    assert g1.count() == g2.count()
    # k<KNN_K is a rank filter on the SAME relation
    g3 = knn_graph_shared(spark, sf_dir, k=3)
    assert g3.where(F.col("rank") > 3).count() == 0
    assert g3.count() == g1.where(F.col("rank") <= 3).count()
    with pytest.raises(ValueError):
        knn_graph_shared(spark, sf_dir, k=9)


# --------------------------------------------------------------------------
# Streaming as-of: TTL mode + ordering guard
# --------------------------------------------------------------------------


@pytest.mark.streaming
def test_asof_ttl_mode_converges_on_ordered_replay(spark, sf_dir):
    """With a TTL long enough that nothing expires during the bounded
    replay, the eviction-enabled path must still converge exactly to
    the batch as-of twin (r7 verdict #8)."""
    from sql_engine_spark.queries.streaming import N_CHUNKS, _state_partitions
    from sql_engine_spark.registry import all_queries
    from sql_engine_spark.streaming.asof import asof_enrich_stateful
    from sql_engine_spark.streaming.source import events_stream

    batch = {
        r.event_id: (r.asof_ts, r.asof_event_id)
        for r in all_queries()["asof_join_events"].build(spark, sf_dir).collect()
    }
    with _state_partitions(spark):
        stream = events_stream(spark, sf_dir, N_CHUNKS)
        enriched = asof_enrich_stateful(
            stream,
            right_type="view",
            left_type="purchase",
            idle_ttl_minutes=60,
        )
        res = _run_until_rows(spark, enriched, "asof_ttl_conv", len(batch))
    got = {r.event_id: (r.asof_ts, r.asof_event_id) for r in res}
    assert got == batch


def _run_until_rows(spark, stream_df, name, want_rows, timeout_s=240):
    """Start a memory-sink stream and poll until `want_rows` rows land,
    then stop it. Time-based GroupState timeouts keep scheduling
    timeout-check batches, so neither processAllAvailable nor
    availableNow ever settles (verify-skill gotcha) — but the DATA all
    emits within the first batches; poll for it and stop the query."""
    import tempfile
    import time

    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(ckpt, "cp"))
        .start()
    )
    try:
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if spark.table(name).count() >= want_rows:
                break
            time.sleep(1.0)
        else:
            raise AssertionError(
                f"{name}: {spark.table(name).count()} rows after {timeout_s}s, "
                f"wanted {want_rows}"
            )
        return spark.table(name).collect()
    finally:
        q.stop()


@pytest.mark.streaming
def test_asof_ttl_actually_evicts_idle_state(spark, tmp_path):
    """A user idle past the TTL loses their carried view: a later
    purchase enriches as NULL (the documented dimension-eviction
    trade), proving the ProcessingTimeTimeout path really removes
    state, not just re-arms it."""
    import time

    from sql_engine_spark.queries.streaming import _state_partitions
    from sql_engine_spark.streaming.asof import asof_enrich_stateful

    schema = "event_id long, user_id long, ts timestamp_ntz, event_type string"
    src = tmp_path / "ttl_replay"
    src.mkdir()
    from datetime import datetime

    spark.createDataFrame(
        [(1, 7, datetime(2024, 1, 1, 9, 0, 0), "view")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    with _state_partitions(spark):
        import tempfile

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        enriched = asof_enrich_stateful(stream, idle_ttl_minutes=0.05)  # 3s
        ckpt = tempfile.mkdtemp(prefix="ckpt_asof_evict_")
        q = (
            enriched.writeStream.format("memory")
            .queryName("asof_evict")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(ckpt, "cp"))
            .start()
        )
        try:
            # let the view batch land, then idle past the TTL so the
            # timeout-check batches evict user 7's state
            time.sleep(15)
            spark.createDataFrame(
                [(2, 7, datetime(2024, 1, 1, 10, 0, 0), "purchase")], schema
            ).coalesce(1).write.mode("append").parquet(str(src))
            deadline = time.time() + 120
            while time.time() < deadline:
                rows = spark.table("asof_evict").collect()
                if rows:
                    break
                time.sleep(1.0)
            assert rows, "purchase never emitted"
        finally:
            q.stop()
    # state evicted -> NULL enrichment (with NoTimeout this would be
    # event 1, the 09:00 view — pinned by the convergence tests)
    assert rows[0].asof_event_id is None


@pytest.mark.streaming
def test_asof_strict_order_fails_loudly_on_out_of_order_replay(spark, tmp_path):
    """A right row delivered in a later batch than already-processed
    greater timestamps must kill the query (strict_order=True default)
    instead of silently diverging; strict_order=False tolerates it."""
    import time

    from pyspark.errors import StreamingQueryException

    from sql_engine_spark.queries.streaming import _state_partitions
    from sql_engine_spark.streaming.asof import asof_enrich_stateful
    from sql_engine_spark.streaming.source import run_to_memory

    from datetime import datetime

    schema = "event_id long, user_id long, ts timestamp_ntz, event_type string"
    late = spark.createDataFrame(
        [(1, 7, datetime(2024, 1, 1, 10, 0, 0), "purchase")], schema
    )
    early = spark.createDataFrame(
        [(2, 7, datetime(2024, 1, 1, 9, 0, 0), "view")], schema
    )
    src = tmp_path / "ooo_replay"
    src.mkdir()
    late.coalesce(1).write.mode("append").parquet(str(src))
    early.coalesce(1).write.mode("append").parquet(str(src))
    parts = sorted(
        f for f in os.listdir(src) if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) == 2
    # mtime order decides replay order; make the LATE-ts file first.
    base = time.time() - 3600
    paths = sorted(
        (os.path.getmtime(os.path.join(src, f)), f) for f in parts
    )
    # identify which part holds the purchase (late ts)
    import pyarrow.parquet as pq

    def holds_purchase(f):
        t = pq.read_table(os.path.join(src, f))
        return "purchase" in t.column("event_type").to_pylist()

    first = next(f for f in parts if holds_purchase(f))
    second = next(f for f in parts if not holds_purchase(f))
    os.utime(os.path.join(src, first), (base, base))
    os.utime(os.path.join(src, second), (base + 10, base + 10))

    def run(strict):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        with _state_partitions(spark):
            return run_to_memory(
                asof_enrich_stateful(stream, strict_order=strict),
                f"asof_ooo_{strict}",
                "append",
            )

    with pytest.raises(StreamingQueryException) as exc:
        run(True)
    assert "out-of-order replay" in str(exc.value)
    res = run(False).collect()
    # best-effort mode: the purchase saw no view yet -> NULL enrichment
    assert len(res) == 1 and res[0].asof_event_id is None


# --------------------------------------------------------------------------
# oracle_sql degradation
# --------------------------------------------------------------------------


def test_oracle_sql_degrades_loudly_when_sf_dir_absent(capsys, monkeypatch):
    """Callable oracles that read the dataset must degrade to rows-only
    (entry dropped) with the names on stderr — never silently, never
    failing the whole map (r7 verdict #7 / advice #2)."""
    import __spark_entry__ as entry

    monkeypatch.setattr(entry, "_DRIVER_SF_DIR", "/nonexistent/sfX")
    out = entry.oracle_sql()
    err = capsys.readouterr().err
    # static-SQL oracles all survive
    assert "tpch_q1" in out and "scan_project" in out
    # derived oracles degrade and say so
    assert "degraded to rows-only" in err
    for name in ("ann_lsh_topk_derived", "ann_ivf_kmeans_topk"):
        assert name not in out
        assert name in err


def test_release_since_only_drops_scoped_persists(spark):
    """knn_graph_shared releases ONLY its own persisted intermediates:
    frames a calling operator persisted earlier stay cached."""
    from pyspark.sql import functions as F

    from sql_engine_spark.operators.dedup import (
        _persist,
        cache_mark,
        release_cached,
        release_since,
    )

    release_cached()
    outer = _persist(spark.range(10).select(F.col("id")))
    outer.count()
    mark = cache_mark()
    inner1 = _persist(spark.range(5).select(F.col("id")))
    inner2 = _persist(spark.range(3).select(F.col("id")))
    inner1.count(); inner2.count()
    assert release_since(mark) == 2
    assert outer.storageLevel.useMemory  # outer survives the scoped release
    assert not inner1.storageLevel.useMemory
    assert release_cached() == 1  # just the outer left
