"""Fixed-iteration PageRank (Brin & Page 1998) — distributed, and
bit-reproducible across engines.

The standard large-graph PageRank loop is one join + one aggregate per
iteration (contributions flow along edges, sum per target) — the same
shape as the connected-components loop in operators/dedup.py. Two
disciplines make it oracle-hashable:

- FIXED iteration count (like connected_components_fixed): the result
  is a pure function of the edge set, so the oracle unrolls the same
  rounds. At scale you loop to a convergence tolerance instead.
- DECIMAL-rounded contributions: per-edge contribution rank/out_degree
  is deterministic double arithmetic, but SUMMING doubles depends on
  partition order — so each contribution is cast to DECIMAL(27,6)
  (exact, order-independent sum; functions/numeric.py) and only the
  finished per-node total returns to double. The rounding is part of
  the operator's definition, applied identically in the oracle.

Dangling nodes (no out-edges) keep receiving the teleport term but
their mass is not redistributed — a documented simplification that
keeps every round a single join+aggregate (full dangling handling adds
one bounded global aggregate per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_engine_spark.functions.numeric import DEC

DAMPING = 0.85
# PageRank contribution-rounding scale (see pagerank_fixed): 1e12 keeps
# ~8 significant digits on 1e-4-magnitude contributions while round()
# stays exact in shared IEEE double arithmetic (values < 2^53).
_PR_SCALE = 1_000_000_000_000.0
_PR_SCALE_SQL = "1000000000000.0"

# Measured-size gate for the broadcast PageRank loop — the CC loop's
# _CC_SMALL_EDGES bound (labels/ranks rows stay broadcastable well
# below it); a 100 TB kNN graph exceeds it and keeps the shuffle path.
_PR_SMALL_EDGES = 2_000_000


def pagerank_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping: float = DAMPING,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """(node, pagerank) after `iterations` rounds from a uniform start.

    `nodes` must contain every vertex (isolated vertices keep the
    teleport rank). The per-round shuffles are the edge join keyed by
    src and the contribution aggregate keyed by dst — both
    corpus-of-edges sized, nothing quadratic; rank state is one row
    per node.

    The rank lineage nests one join+aggregate per round; at the
    default 3 iterations that is a fine single plan, at 10+ the plan
    tree (and Catalyst analysis time) grows superlinearly.
    `checkpoint_every=k` truncates lineage with localCheckpoint every
    k rounds — the connected_components_fixed discipline
    (operators/dedup.py): downstream plans see a flat LogicalRDD scan.
    Defaults to None (pure lazy plan) for <=5 iterations and should be
    set (e.g. 2-3) beyond that; on a real cluster swap in checkpoint()
    to reliable storage so the loop survives executor loss.
    """
    from sql_engine_spark.operators.dedup import _persist

    # The node relation is referenced once per iteration (the left side
    # of the rank rebuild) plus the final projection; if `nodes` is
    # itself a pipeline (textrank's vocab top-k, a kNN build), an
    # unpersisted loop re-runs it per reference (r12, guide §1.2).
    nbase = _persist(nodes.select(F.col(node_col).alias("__node")))
    # The broadcast N relation builds from the PERSISTED nodes: each
    # plan reference of `base` re-runs the broadcast job, which before
    # re-ran the whole node pipeline per reference (textrank's vocab
    # top-k — measured as a ~280ms job train in its profile); from the
    # cached 1-row aggregate it is scheduler noise. (A driver-side
    # count() scalar was tried instead — it removes the broadcast jobs
    # entirely but adds an eager action per pagerank build, a net loss
    # for consumers whose node relation is already cheap.)
    n_df = nbase.agg(F.count("*").cast("double").alias("__N"))
    base = nbase.crossJoin(F.broadcast(n_df))
    # Every iteration re-reads the edge list and its out-degrees; if
    # `edges` is itself a pipeline (here: the kNN-graph build), an
    # unpersisted loop recomputes it per round. Caller-owned lifetime.
    e = _persist(edges.select(F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")))
    # Size the loop to the MEASURED graph (r13 — the CC-loop device,
    # operators/dedup.connected_components_fixed): the count
    # materializes the persisted edges, which iteration 1 paid anyway.
    # Small graphs (textrank's k-bounded vocab graph; any consumer
    # whose edge relation fits a broadcast) take a broadcast-join loop
    # over a flat single-task checkpoint — per iteration the only
    # exchange is the tiny contribution groupBy, instead of
    # session-width shuffles of a few-thousand-row relation (measured:
    # textrank spent a ~200-400ms job train in the loop at sf0.1). The
    # big path (the kNN-graph consumer at scale) is unchanged.
    n_edges = e.count()
    if n_edges <= _PR_SMALL_EDGES:
        e = e.coalesce(1).localCheckpoint(eager=True)
        base = base.localCheckpoint(eager=True)
        deg = e.groupBy("__src").agg(
            F.count("*").cast("double").alias("__deg")
        )
        ranks = base.withColumn("__r", F.lit(1.0) / F.col("__N"))
        for it in range(iterations):
            contrib = (
                e.join(
                    F.broadcast(
                        ranks.select(F.col("__node").alias("__src"), "__r")
                    ),
                    "__src",
                )
                .join(F.broadcast(deg), "__src")
                .select("__dst", (F.col("__r") / F.col("__deg")).alias("__c"))
            )
            sums = contrib.groupBy("__dst").agg(
                (
                    F.sum(
                        F.round(F.col("__c") * F.lit(_PR_SCALE)).cast(
                            "decimal(38,0)"
                        )
                    ).cast("double")
                    / F.lit(_PR_SCALE)
                ).alias("__in")
            )
            ranks = base.join(
                F.broadcast(sums), base["__node"] == sums["__dst"], "left"
            ).select(
                "__node",
                "__N",
                (
                    F.lit(1.0 - damping) / F.col("__N")
                    + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
                ).alias("__r"),
            )
            # Plan growth is linear here (flat leaves, one reference of
            # base per round), but the deep-iteration contract stands:
            # checkpoint_every still truncates lineage every k rounds.
            if checkpoint_every and (it + 1) % checkpoint_every == 0:
                ranks = ranks.localCheckpoint(eager=True)
        return ranks.select(
            F.col("__node").alias(node_col), F.col("__r").alias("pagerank")
        )
    deg = _persist(
        e.groupBy("__src").agg(F.count("*").cast("double").alias("__deg"))
    )
    ranks = base.withColumn("__r", F.lit(1.0) / F.col("__N"))
    for it in range(iterations):
        contrib = (
            e.join(ranks.select(F.col("__node").alias("__src"), "__r"), "__src")
            .join(deg, "__src")
            .select("__dst", (F.col("__r") / F.col("__deg")).alias("__c"))
        )
        # ssum discipline, fine scale: contributions are ~1/(N*deg)
        # (1e-4 and below), so rounding them on the DECIMAL(27,6) grid
        # keeps only ~2 significant digits AND delegates the rounding to
        # each engine's double->decimal converter (Spark shortest-repr,
        # DuckDB exact expansion — they disagree at .5 boundaries;
        # observed 8.5e-7 rank divergence on the gen_sf.py clone, r10).
        # round(c * 1e12) in shared IEEE double arithmetic, exact
        # integer sum, one scale-back division: bit-identical per round
        # in both engines, which makes the whole iteration bit-identical
        # by induction.
        sums = contrib.groupBy("__dst").agg(
            (
                F.sum(
                    F.round(F.col("__c") * F.lit(_PR_SCALE)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(_PR_SCALE)
            ).alias("__in")
        )
        ranks = (
            base.join(sums, base["__node"] == sums["__dst"], "left")
            .select(
                "__node",
                "__N",
                (
                    F.lit(1.0 - damping) / F.col("__N")
                    + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
                ).alias("__r"),
            )
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(F.col("__node").alias(node_col), F.col("__r").alias("pagerank"))


def sql_pagerank_fixed(
    nodes_cte: str,
    edges_cte: str,
    *,
    iterations: int = 3,
    damping: float = DAMPING,
) -> str:
    """DuckDB oracle: identical rounds unrolled. `nodes_cte` must yield
    column `node`; `edges_cte` columns `src`, `dst`."""
    rounds = []
    prev = "r0"
    for i in range(1, iterations + 1):
        cur = f"r{i}"
        rounds.append(
            f"""{cur} AS (
            SELECT b.node,
                   {1.0 - damping} / b.N + {damping} * COALESCE(s.inm, 0.0) AS r,
                   b.N AS N
            FROM pr_base b LEFT JOIN (
                SELECT e.dst AS node,
                       CAST(SUM(CAST(round((p.r / d.deg) * {_PR_SCALE_SQL})
                           AS DECIMAL(38,0))) AS DOUBLE) / {_PR_SCALE_SQL}
                           AS inm
                FROM pr_edges e
                JOIN {prev} p ON p.node = e.src
                JOIN pr_deg d ON d.src = e.src
                GROUP BY e.dst
            ) s ON s.node = b.node
        )"""
        )
        prev = cur
    rounds_sql = ",\n        ".join(rounds)
    return f"""
        WITH pr_nodes AS ({nodes_cte}),
        pr_edges AS ({edges_cte}),
        pr_n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS N FROM pr_nodes),
        pr_base AS (SELECT node, N FROM pr_nodes CROSS JOIN pr_n),
        pr_deg AS (
            SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM pr_edges GROUP BY src
        ),
        r0 AS (SELECT node, 1.0 / N AS r, N FROM pr_base),
        {rounds_sql}
        SELECT node, r AS pagerank FROM {prev}
    """


def triangle_triples(und: DataFrame) -> DataFrame:
    """One row (x, y, z) per triangle over an undirected edge set `und`
    with columns (a, b), each edge once in canonical a < b form.
    x is the minimum corner under the (degree, id) orientation order;
    y/z are NOT id-sorted — canonicalize sides with least/greatest
    when unpivoting edges.

    DEGREE-ORDERED orientation (the scalable triangle algorithm:
    Suri & Vassilvitskii WWW 2011 / Chiba-Nishizeki): order vertices by
    (degree, id) and orient every edge from the smaller to the larger
    endpoint, then enumerate each triangle EXACTLY ONCE as a wedge at
    its minimum corner plus a closure check. Orienting by degree — not
    id — bounds per-vertex out-degree by O(sqrt(m)), so the wedge
    self-join's output is sum(out_deg^2) <= O(m^1.5) even when hub
    vertices have huge raw degree; an id-ordered orientation would put
    a hub's whole neighborhood on one wedge corner (the classic
    last-reducer blowup at 100x).

    Returns one row per triangle; the set is orientation-independent
    — the orientation only schedules the enumeration.
    """
    from sql_engine_spark.operators.dedup import _persist

    both = und_both_dirs(und, out_src="u", out_dst="v")
    deg = both.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    # Orientation key per vertex; edges flow small key -> large key.
    keyed = (
        both.join(deg.select(F.col("u"), F.col("deg").alias("du")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("dv")), "v"
        )
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select(
            "u",
            "v",
            F.struct(F.col("dv").alias("d"), F.col("v").alias("i")).alias("__vk"),
        )
    )
    out_edges = _persist(keyed)
    e1, e2 = out_edges.alias("e1"), out_edges.alias("e2")
    wedges = (
        e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.__vk") < F.col("e2.__vk")))
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
    )
    tri = wedges.join(
        out_edges.select(F.col("u").alias("y"), F.col("v").alias("z")),
        ["y", "z"],
        "left_semi",
    )
    return tri


def triangle_corner_counts(und: DataFrame) -> DataFrame:
    """Per-node triangle counts from triangle_triples — see there for
    the degree-ordered enumeration contract. Returns (node,
    n_triangles) for nodes in >= 1 triangle; each triangle contributes
    one count to each of its three corners."""
    tri = triangle_triples(und)
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def sql_triangle_corner_counts(und_cte: str) -> str:
    """DuckDB oracle: identical degree-ordered enumeration. `und_cte`
    must yield columns (a, b), canonical a < b, each edge once."""
    return f"""
        tri_und AS MATERIALIZED ({und_cte}),
        tri_both AS MATERIALIZED (
            SELECT a AS u, b AS v FROM tri_und
            UNION ALL
            SELECT b AS u, a AS v FROM tri_und
        ),
        tri_deg AS (
            SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM tri_both GROUP BY u
        ),
        tri_out AS MATERIALIZED (
            SELECT b.u, b.v
            FROM tri_both b
            JOIN tri_deg d1 ON d1.u = b.u
            JOIN tri_deg d2 ON d2.u = b.v
            WHERE d1.deg < d2.deg OR (d1.deg = d2.deg AND b.u < b.v)
        ),
        tri_keyed AS MATERIALIZED (
            SELECT o.u, o.v, d.deg AS dv FROM tri_out o JOIN tri_deg d ON d.u = o.v
        ),
        tri_wedge AS (
            SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM tri_keyed e1 JOIN tri_keyed e2
              ON e1.u = e2.u
             AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
        ),
        tri_tri AS (
            -- INNER JOIN, not EXISTS: out-edges are unique rows, so the
            -- join is semantically a semi join, and DuckDB plans the
            -- hash join where the correlated EXISTS ran ~50x slower
            SELECT w.x, w.y, w.z
            FROM tri_wedge w
            JOIN tri_out o ON o.u = w.y AND o.v = w.z
        ),
        tri_corners AS (
            SELECT x AS node FROM tri_tri
            UNION ALL SELECT y FROM tri_tri
            UNION ALL SELECT z FROM tri_tri
        )
    """


# ---------------------------------------------------------------------------
# Shared kNN-graph build + degree-capped wedge machinery (round 8).
#
# Every graph-section operator composes the SAME approximate kNN graph over
# the embeddings table. Through round 7 each operator rebuilt it from scratch
# (~4-5s apiece of the extension bench, and at real scale the single most
# expensive redundant build in the repo — r7 verdict #2). The build is a pure
# function of (dataset, params), so it is materialized ONCE per process to a
# temp parquet relation and every operator scans that relation instead. On a
# real cluster this is a bucketed lakehouse table written by the pipeline's
# graph-build stage; locally a temp dir carries the same contract (immutable,
# derived, keyed by dataset + params).
#
# Params are standardized at KNN_TABLES/KNN_DIM/KNN_K for the whole graph
# family (r7 verdict: modularity/triangles/LPA used tables=8, the rest 4 —
# pick one); since round 11 the PLANE count is derived from the corpus size
# (derived_graph_planes — the r10 sf1 stress measured the pinned 4-plane
# build at ~37x wall for 10x vectors as buckets saturated; derived planes
# keep expected bucket volume ~constant, 215s -> 53s at sf1). k<=KNN_K
# variants are a rank filter on the shared relation: rank is the per-src
# (cosine DESC, dst ASC) row_number, so `rank <= 3` of the k=5 build IS the
# k=3 build.
# ---------------------------------------------------------------------------

KNN_PLANES = 4  # legacy pinned count (pre-r11); see derived_graph_planes
KNN_TABLES = 4
KNN_DIM = 64
KNN_K = 5

# Wedge-enumeration degree cap (r7 verdict #1). Out-degree of the kNN graph
# is k by construction but IN-degree is unbounded — a popular vector lands in
# many top-k lists, and a hub of undirected degree D contributes D^2 wedge
# rows. Open-wedge operators (common-neighbors / Jaccard / resource-
# allocation link prediction) therefore enumerate wedges over an adjacency
# CAPPED at the WEDGE_CAP strongest neighbors per center (cosine DESC, id
# ASC — deterministic), mirrored exactly in their DuckDB oracles, so the
# blowup is bounded by cap^2 per center at any scale. Measured headroom:
# max degree 13 at sf0.1 (graph_degree_histogram), so the cap is inert at
# test scale and the recall trade only engages on genuinely hubby graphs.
# Closed-wedge (triangle) work does NOT need the cap: degree-ordered
# orientation (triangle_corner_counts above) is exact at O(m^1.5).
WEDGE_CAP = 32

def _knn_params(sf_dir: str) -> tuple:
    """The shared kNN graph's build parameters — the validity-key params
    of both the graph and the triangle relation derived from it."""
    return (derived_graph_planes(sf_dir), KNN_TABLES, KNN_DIM, KNN_K)


def knn_graph_shared(spark, sf_dir: str, *, k: int = KNN_K) -> DataFrame:
    """Directed approximate kNN graph (src, dst, cosine, rank) over
    `{sf_dir}/embeddings` with the house params, built once per
    (process, dataset) and materialized to parquet. `k` must be
    <= KNN_K and filters the shared relation by rank."""
    import os

    if k > KNN_K:
        raise ValueError(f"k={k} exceeds the shared build's KNN_K={KNN_K}")
    from sql_engine_spark.io import load
    from sql_engine_spark.operators.similarity import knn_graph
    from sql_engine_spark.sharedcost import materialize

    params = _knn_params(sf_dir)

    def build(root: str) -> None:
        emb = load(spark, sf_dir, "embeddings")
        g = knn_graph(
            emb,
            id_col="vec_id",
            vec_col="embedding",
            planes=params[0],
            tables=KNN_TABLES,
            dim=KNN_DIM,
            k=KNN_K,
        )
        g.write.mode("overwrite").parquet(os.path.join(root, "knn.parquet"))

    root = materialize(spark, sf_dir, "knn_graph", ("embeddings",), params, build)
    g = spark.read.parquet(os.path.join(root, "knn.parquet"))
    if k < KNN_K:
        g = g.where(F.col("rank") <= k)
    return g


def triangle_triples_shared(spark, sf_dir: str) -> DataFrame:
    """One row (x, y, z) per triangle of the SHARED kNN graph's
    undirected edge set, built once per (process, dataset) and
    materialized to parquet — the sharedcost.materialize template
    applied to the closed-wedge family. The enumeration is a pure
    function of (dataset, knn params); on a real cluster it is the
    triangle table written by the pipeline's graph stage, and the four
    consumers (triangle counts, clustering coefficient, global
    transitivity, k-truss support) scan it instead of re-running the
    O(m^1.5) wedge join each."""
    import os

    from sql_engine_spark.operators.dedup import _persist
    from sql_engine_spark.sharedcost import materialize

    def build(root: str) -> None:
        und = _persist(und_edges(knn_graph_shared(spark, sf_dir)))
        tri = triangle_triples(und)
        tri.write.mode("overwrite").parquet(os.path.join(root, "triangles.parquet"))

    root = materialize(
        spark, sf_dir, "triangles", ("embeddings",), _knn_params(sf_dir), build
    )
    return spark.read.parquet(os.path.join(root, "triangles.parquet"))


def triangle_corner_counts_shared(spark, sf_dir: str) -> DataFrame:
    """(node, n_triangles) from the shared triangle relation — the
    corner redistribution of triangle_corner_counts as a scan plus one
    aggregate."""
    tri = triangle_triples_shared(spark, sf_dir)
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def und_both_dirs(
    und: DataFrame,
    *,
    a_col: str = "a",
    b_col: str = "b",
    out_src: str = "src",
    out_dst: str = "dst",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Both directions of an undirected edge relation from ONE
    evaluation (r12, guide §1.2): the idiomatic two-leg
    `sel(a,b).unionAll(sel(b,a))` re-runs the whole upstream pipeline
    (typically a distinct or a groupBy over the kNN graph) once per
    leg when `und` is unpersisted; explode of a 2-struct array emits
    src->dst and dst->src in the same map task. Row multiset is
    identical to the union (order differs; every consumer is a
    join/aggregate)."""
    structs = F.array(
        F.struct(F.col(a_col).alias(out_src), F.col(b_col).alias(out_dst)),
        F.struct(F.col(b_col).alias(out_src), F.col(a_col).alias(out_dst)),
    )
    out = und.select(F.explode(structs).alias("__e"), *[F.col(c) for c in carry])
    return out.select("__e.*", *carry)


def und_edges(g: DataFrame) -> DataFrame:
    """Undirected edge set (a, b), a < b, each edge once, from a
    directed kNN graph (src, dst, ...)."""
    return g.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()


def und_edges_weighted(g: DataFrame) -> DataFrame:
    """Undirected weighted edges (a, b, w): w = cosine, identical for
    both directions (dot is commutative and summed in the same index
    order), so max() is a deterministic dedup."""
    return (
        g.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("cosine").alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.max("w").alias("w"))
    )


def capped_adjacency(g: DataFrame, *, cap: int = WEDGE_CAP) -> DataFrame:
    """Mirrored adjacency (node, nb) keeping at most `cap` strongest
    neighbors per node (w DESC, nb ASC). The wedge-enumeration input
    for the open-wedge link-prediction family: per-center wedge volume
    is bounded by C(cap, 2) regardless of hub in-degree. The rank
    window partitions on node (corpus-cardinality key, <=degree rows
    per partition) — no skew funnel."""
    from pyspark.sql import Window

    undw = und_edges_weighted(g)
    adjw = und_both_dirs(undw, out_src="node", out_dst="nb", carry=("w",))
    w = Window.partitionBy("node").orderBy(F.desc("w"), F.asc("nb"))
    return (
        adjw.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= cap)
        .select("node", "nb")
    )


def sql_knn_shared(*, k: int = KNN_K) -> str:
    """Oracle CTE body for the shared kNN graph — a deferred MARKER.

    Oracles are f-string-rendered at import time, but since round 11
    the shared build's plane count is DERIVED from the corpus size
    (derived_planes — the 100 TB operating point; the pinned 4-plane
    build was the graph family's measured sf1 cost driver, ~215s vs
    53s derived). The dataset isn't known at import, so this returns
    `__KNN_SHARED_K{k}__` and registry.resolve_oracle substitutes the
    real SQL (render_knn_shared_sql) once the sf_dir is known. Every
    consumer that embeds this marker flips plane counts in lockstep
    with knn_graph_shared, so Spark and DuckDB always hash the same
    graph."""
    if k > KNN_K:
        raise ValueError(f"k={k} exceeds the shared build's KNN_K={KNN_K}")
    return f"__KNN_SHARED_K{k}__"


def derived_graph_planes(sf_dir: str) -> int:
    """The shared graph's plane count for a dataset: derived_planes of
    the embeddings row count (parquet-footer COUNT — metadata, not a
    row pass). Both engines call THIS, never count independently."""
    from sql_engine_spark.io import table_row_count
    from sql_engine_spark.operators.similarity import derived_planes

    return derived_planes(table_row_count(sf_dir, "embeddings"))


def render_knn_shared_sql(sf_dir: str, *, k: int = KNN_K) -> str:
    """The real oracle SQL behind a sql_knn_shared marker, rendered for
    a concrete dataset with the derived plane count."""
    from sql_engine_spark.operators.similarity import sql_knn_graph

    base = sql_knn_graph(
        planes=derived_graph_planes(sf_dir),
        tables=KNN_TABLES,
        dim=KNN_DIM,
        k=KNN_K,
    )
    if k == KNN_K:
        return base
    return f"SELECT * FROM ({base}) WHERE rank <= {k}"


def sql_capped_adjacency(*, cap: int = WEDGE_CAP) -> str:
    """Oracle CTE fragment: `knn` -> capped mirrored adjacency `adj`
    (node, nb), mirroring capped_adjacency exactly (same weight, same
    tie-break)."""
    return f"""undw AS (
            SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                   max(cosine) AS w
            FROM knn GROUP BY 1, 2
        ),
        adjw AS (
            SELECT a AS node, b AS nb, w FROM undw
            UNION ALL
            SELECT b AS node, a AS nb, w FROM undw
        ),
        adj AS (
            SELECT node, nb FROM (
                SELECT node, nb,
                       row_number() OVER (
                           PARTITION BY node ORDER BY w DESC, nb) AS rk
                FROM adjw
            ) WHERE rk <= {cap}
        )"""
