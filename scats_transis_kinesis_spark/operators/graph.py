"""Iterative graph operators beyond connected components.

PageRank here is the canonical fixed-iteration form: each round is ONE
keyed shuffle (rank join edges on src, re-aggregate on dst) — the same
loop shape as ``dedup.connected_components`` and exactly what a
1000-executor cluster runs per Pregel superstep.  The driver never sees
data rows; iteration count is a constant, so the whole plan is a static
chain Catalyst can pipeline.

Simplifications (documented, mirrored exactly by the SQL oracle):
rank mass entering sink nodes (no out-edges) leaks rather than being
redistributed, and there is no convergence test — fixed iterations,
which is how production batch PageRank is usually run anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DAMPING = 0.85
ITERATIONS = 3


def _normalized_edges(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The loop invariants of both PageRanks over a ``(src, dst,
    weight)`` edge list, cached: the node set ``(node)`` and the
    out-weight-normalized edges ``(_u, _v, _w)``.

    Cached (same pattern as ml.kmeans_assign and
    dedup.connected_components): every round joins ``norm`` and
    ``nodes``, so without the cache each round re-scans and
    re-normalizes the edge list.  The caller unpersists both."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("_out_total"))
    norm = (
        edges.join(out_w, "src")
        .select(
            F.col("src").alias("_u"),
            F.col("dst").alias("_v"),
            (F.col("weight") / F.col("_out_total")).alias("_w"),
        )
        .cache()
    )
    return nodes, norm


def _contrib(ranks: DataFrame, norm: DataFrame) -> DataFrame:
    """One round's in-flow ``(node, _in)``: Σ rank(u)·w(u,v)/out(u)
    over each node's in-edges — one keyed join and one grouped sum."""
    return (
        ranks.join(norm, ranks.node == norm._u)
        .groupBy(F.col("_v").alias("node"))
        .agg(F.sum(F.col("rank") * F.col("_w")).alias("_in"))
    )


def pagerank(edges: DataFrame) -> DataFrame:
    """Weighted PageRank over a ``(src, dst, weight)`` edge list,
    ``ITERATIONS`` rounds with damping ``DAMPING`` → ``(node, rank)``.

    rank_{t+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} rank_t(u) * w(u,v)/out(u)

    Per round: one broadcast-or-shuffle join of the (node, rank) frame
    against the normalized edges on ``src`` and one grouped sum on
    ``dst`` — two keyed exchanges over data partitioned by node id, no
    driver collection, no global ordering anywhere.  At 100 TB the
    edge frame is the big side; it is normalized ONCE up front and
    re-used every round.
    """
    nodes, norm = _normalized_edges(edges)
    n_nodes = nodes.count()
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    base = (1.0 - DAMPING) / n_nodes
    for _ in range(ITERATIONS):
        ranks = (
            nodes.join(_contrib(ranks, norm), "node", "left")
            .select(
                "node",
                (F.lit(base) + DAMPING * F.coalesce(F.col("_in"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
    # Materialize the final ranks once (node-count-sized, the small frame
    # of the algorithm) and truncate the 3-round lineage so the cached
    # loop inputs can be released before returning — otherwise they pin
    # executor memory for as long as the caller holds the lazy plan.
    ranks = ranks.localCheckpoint(eager=True)
    norm.unpersist(blocking=False)
    nodes.unpersist(blocking=False)
    return ranks


def endpoint_degrees(edges: DataFrame) -> DataFrame:
    """``(vertex, d)``: how many edges of an undirected ``(u, v)`` edge
    list touch each vertex — one grouped count over both endpoints."""
    return (
        edges.select(F.col("u").alias("vertex"))
        .unionAll(edges.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("d"))
    )


def both_directions(edges: DataFrame) -> DataFrame:
    """An undirected ``(u, v)`` edge list as directed ``(src, dst)``
    edges, each edge once in each direction."""
    return edges.selectExpr("u AS src", "v AS dst").unionByName(
        edges.selectExpr("v AS src", "u AS dst")
    )


def top_degree_vertex(bi_edges: DataFrame):
    """The ``src`` of a directed ``(src, dst, ...)`` edge list with the
    most edges, the lowest id among ties (``ORDER BY degree DESC, id
    ASC``), collected to the driver."""
    deg = bi_edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return deg.orderBy(F.desc("d"), F.asc("src")).limit(1).collect()[0]["src"]


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count over an undirected ``(u, v)`` edge list →
    one row ``(n_vertices, n_edges, n_triangles)``.

    ``edges`` must carry one row per undirected edge (``u < v``,
    distinct, no self-loops); callers with an expensive edge lineage
    should materialize it first (the queries eagerly checkpoint).

    Degree-orientation algorithm (Cohen's MapReduce formulation; Suri &
    Vassilvitskii's "last reducer" fix): direct every edge from its
    lower-(degree, id) endpoint to the higher, generate wedges from the
    oriented adjacency (equi-join on the wedge center), close them
    against the oriented edges (equi-join on the endpoint pair).  The
    orientation bounds every out-degree by ~sqrt(|E|), so a hot hub
    never emits deg² wedge candidates — the skew defense that makes the
    join shape survive power-law graphs at 100 TB.  Each triangle is
    counted exactly once via its unique cyclic orientation."""
    deg = endpoint_degrees(edges)
    du, dv = deg.alias("du"), deg.alias("dv")
    with_deg = (
        edges.join(du, edges.u == F.col("du.vertex"))
        .join(dv, edges.v == F.col("dv.vertex"))
        .select("u", "v", F.col("du.d").alias("d_u"), F.col("dv.d").alias("d_v"))
    )
    u_first = (F.col("d_u") < F.col("d_v")) | (
        (F.col("d_u") == F.col("d_v")) & (F.col("u") < F.col("v"))
    )
    # The oriented list feeds both wedge sides and the closure probe —
    # materialize it once (dedup pair-generator lifecycle).
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("d_v")).otherwise(F.col("d_u")).alias("ddst"),
    ).localCheckpoint(eager=True)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (
            (F.col("o1.ddst") < F.col("o2.ddst"))
            | (
                (F.col("o1.ddst") == F.col("o2.ddst"))
                & (F.col("o1.dst") < F.col("o2.dst"))
            )
        ),
    ).select(F.col("o1.dst").alias("b"), F.col("o2.dst").alias("c"))
    closed = wedges.join(
        oriented, (wedges.b == oriented.src) & (wedges.c == oriented.dst)
    )
    tri = closed.agg(F.count("*").alias("n_triangles"))
    nv = deg.agg(F.count("*").alias("n_vertices"))
    ne = edges.agg(F.count("*").alias("n_edges"))
    return (
        F.broadcast(nv)
        .crossJoin(F.broadcast(ne))
        .crossJoin(tri)
        .select("n_vertices", "n_edges", "n_triangles")
    )


def lpa_communities(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Synchronous label propagation (Raghavan et al.) over an
    undirected ``(u, v)`` edge list, a FIXED number of rounds →
    ``(vertex, community)`` for every vertex with at least one edge.

    Labels start as vertex ids; each round every vertex adopts the most
    frequent label among its neighbors (ties → smallest label).  The
    fixed round count is the deterministic contract — LPA has no
    engine-stable fixpoint (update order changes it), so the
    synchronous k-round semantic IS the operator, the same trick as
    the fixed-iteration k-means.

    Per round: one equi-join (neighbor label lookup), one grouped
    count, one window partitioned by vertex for the argmax.  All
    shuffles are keyed by vertex; a hub receives one row per DISTINCT
    neighbor label (the grouped pre-count), not per neighbor."""
    if rounds < 1:
        raise ValueError(f"lpa_communities needs rounds >= 1, got {rounds}")
    bi = both_directions(edges)
    # Round 1 from identity labels: neighbor labels ARE the neighbor ids.
    labels = bi.withColumnRenamed("dst", "lbl")
    lab = None
    for _ in range(rounds):
        counted = labels.groupBy("src", "lbl").agg(F.count("*").alias("n"))
        pick = F.row_number().over(
            Window.partitionBy("src").orderBy(F.desc("n"), F.col("lbl"))
        )
        lab = (
            counted.withColumn("rn", pick)
            .where(F.col("rn") == 1)
            .select(F.col("src").alias("vertex"), "lbl")
        )
        labels = bi.join(lab, bi.dst == lab.vertex).select("src", "lbl")
    return lab.select("vertex", F.col("lbl").alias("community"))


def bfs_distances(bi_edges: DataFrame, source, max_hops: int) -> DataFrame:
    """Bounded-depth BFS over a directed ``(src, dst)`` edge list:
    ``(v, hop)`` with the minimal hop count from ``source`` for every
    vertex reachable within ``max_hops``.

    Each round is frontier ⋈ adjacency (keyed equi-join — AQE
    broadcasts while the frontier is small), a ``distinct``, and an
    anti-join against the visited set, lazily ``localCheckpoint``-ed
    so the lineage stays one round deep; the per-round emptiness probe
    (a bounded scalar job) materializes the checkpoint, so a round is
    one job.  The visited set is the lazy union of the per-hop
    checkpoints.  Rounds are bounded by ``max_hops``.  The anti-join
    makes the first reach win, so hop IS the BFS distance without any
    min-aggregation.
    """
    if max_hops < 0:
        raise ValueError(f"bfs_distances needs max_hops >= 0, got {max_hops}")
    visited = (
        bi_edges.select(F.col("src").alias("v"))
        .where(F.col("v") == source)
        .distinct()
        .withColumn("hop", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("v")
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(bi_edges, frontier["v"] == bi_edges["src"])
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(visited.select("v"), "v", "left_anti")
            .withColumn("hop", F.lit(hop))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt.select("v")
    return visited


def pagerank_personalized(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """Personalized PageRank over a ``(src, dst, weight)`` edge list,
    ``ITERATIONS`` rounds with damping ``DAMPING``: teleport mass
    returns to the seed set instead of spreading uniformly —

    rank_{t+1}(v) = (1-d)·tele(v) + d · Σ_{(u,v)∈E} rank_t(u)·w(u,v)/out(u)

    with ``tele(v) = 1/|S|`` on the seed nodes, 0 elsewhere, and
    ``rank_0 = tele`` — the recommender/affinity variant (seed = a
    user's items, scores = proximity to the seed neighborhood).  Same
    per-round shape as :func:`pagerank` (one keyed join + one grouped
    sum); the teleport frame replaces the scalar base term and rides
    the same node-sized join.  ``seeds`` is a 1-column node frame; the
    only extra driver traffic is its bounded count.
    """
    nodes, norm = _normalized_edges(edges)
    # Materialize the loop-invariant caches BEFORE building the lazy
    # 3-round plan (the classic pagerank gets this for free from its
    # n_nodes count): without it the 5-join edge construction under
    # `nodes`/`norm`/`tele` is racing to populate the cache inside the
    # final action — measured 7.4 s vs 3.0 s for the classic twin on
    # the same edge frame at sf0.1.
    nodes.count()
    n_seeds = seeds.count()
    seed_nodes = seeds.toDF("node")
    tele = (
        nodes.join(
            F.broadcast(seed_nodes.withColumn("_s", F.lit(1))), "node", "left"
        )
        .select(
            "node",
            F.when(F.col("_s").isNotNull(), F.lit(1.0 / n_seeds))
            .otherwise(F.lit(0.0))
            .alias("_tele"),
        )
        .cache()
    )
    ranks = tele.select("node", F.col("_tele").alias("rank"))
    for _ in range(ITERATIONS):
        ranks = tele.join(_contrib(ranks, norm), "node", "left").select(
            "node",
            (
                F.lit(1.0 - DAMPING) * F.col("_tele")
                + DAMPING * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("rank"),
        )
    ranks = ranks.localCheckpoint(eager=True)
    for frame in (norm, nodes, tele):
        frame.unpersist(blocking=False)
    return ranks


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-core peeling (Seidman '83 coreness, the bounded
    synchronous variant) of an undirected ``(u, v)`` edge list: each
    round computes degrees over the surviving subgraph, drops every
    vertex with degree < ``k``, and restricts the edge list to
    survivors.  Returns ``(vertex, core_degree)`` — each surviving
    vertex with its degree INSIDE the round-``rounds`` subgraph.

    The true k-core is the fixpoint; the fixed round count is the
    deterministic cross-engine contract (the LPA / k-means trick) —
    a vertex whose degree fell below ``k`` only in the LAST round is
    still reported, exactly as the oracle's unrolled rounds report it.
    Convergence-driven peeling is the same loop with the
    connected-components emptiness probe.

    Per round: one grouped degree count and two semi-joins (the keep
    set is |survivors| vertex ids — broadcastable long after round 1);
    each round's edge list is eagerly localCheckpoint-ed so lineage
    stays flat.  All shuffles are keyed by vertex id."""
    if rounds < 1:
        raise ValueError(f"kcore_peel needs rounds >= 1, got {rounds}")
    alive = edges
    for _ in range(rounds):
        bi = alive.select(F.col("u").alias("x")).unionAll(
            alive.select(F.col("v").alias("x"))
        )
        keep = (
            bi.groupBy("x")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= k)
            .select("x")
        )
        alive = (
            alive.join(keep.withColumnRenamed("x", "u"), "u", "leftsemi")
            .join(keep.withColumnRenamed("x", "v"), "v", "leftsemi")
            .localCheckpoint(eager=True)
        )
    return (
        alive.select(F.col("u").alias("vertex"))
        .unionAll(alive.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )
