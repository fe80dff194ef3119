"""Graph queries over the nation-trade and 1995 co-purchase graphs.

PageRank and personalized PageRank, HITS, triangles, label propagation,
k-core peeling, BFS and weighted shortest paths, link prediction, degree
assortativity, local clustering, modularity, item-item similarity, the
market-basket association rules (pairs and triples) and the stationary
distribution of the event Markov chain.  Iterative algorithms run a
fixed number of synchronous rounds in exact integer micros.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.pairs import pack_pair, unpack_pair
from ..operators.graph import bfs_distances
from ..sources.loaders import load_table
from .common import _idiv
from .registry import register


def _pagerank_oracle(iterations: int = 3, d: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank (same recurrence as
    operators/graph.py:pagerank, sink-leak semantics included)."""
    iters = []
    for k in range(1, iterations + 1):
        iters.append(f"""
        r{k} AS (
            SELECT n.node,
                   (1 - {d}) / (SELECT count(*) FROM nodes)
                   + {d} * coalesce(sum(p.rank * e.wn), 0) AS rank
            FROM nodes n
            LEFT JOIN nrm e ON e.v = n.node
            LEFT JOIN r{k - 1} p ON p.node = e.u
            GROUP BY n.node
        )""")
    return f"""
        WITH edges AS (
            SELECT cn.n_name AS src, sn.n_name AS dst, count(*)::DOUBLE AS w
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation cn ON cn.n_nationkey = c.c_nationkey
            JOIN nation sn ON sn.n_nationkey = s.s_nationkey
            GROUP BY 1, 2
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nrm AS (
            SELECT src AS u, dst AS v,
                   w / sum(w) OVER (PARTITION BY src) AS wn
            FROM edges
        ),
        r0 AS (
            SELECT node, 1.0 / (SELECT count(*) FROM nodes) AS rank FROM nodes
        ),{','.join(iters)}
        SELECT node, round(rank, 6) AS rank FROM r{iterations}
    """


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-level trade graph (customer nation → supplier nation,
    edge weight = line count) — shared by the classic and personalized
    PageRank queries."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("s_nk"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("weight"))
        .cache()
    )


@register(
    "pagerank_nation_trade",
    oracle=_pagerank_oracle(),
    doc="""Weighted PageRank (3 fixed iterations, damping 0.85) over the
    nation-level trade graph (customer nation → supplier nation, edge
    weight = line count) via the generic operators/graph.py:pagerank.
    The iterative family beyond connected components: each round is one
    keyed join + one grouped sum — Pregel superstep shape, no driver
    data movement; the oracle unrolls the identical recurrence so the
    contract is exact (round-6).  The demo graph is 25 nodes; the
    operator is agnostic to edge-frame size (normalize once, iterate
    with keyed shuffles).""",
)
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    edges = _trade_edges(spark, sf_dir)
    ranks = pagerank(edges, iterations=3)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# Personalized-PageRank seed set: 4 seeds so the teleport mass 1/|S| =
# 0.25 is binary-exact in both engines (1/3 would put a repeating
# fraction inside the cross-engine FP contract).
PPR_SEEDS = ("NATION_0", "NATION_7", "NATION_13", "NATION_21")


def _ppr_oracle(iterations: int = 3, d: float = 0.85) -> str:
    """Unrolled personalized PageRank — the :func:`_pagerank_oracle`
    recurrence with the uniform base term replaced by the seed-set
    teleport distribution (rank_0 = tele)."""
    seed_values = ", ".join(f"('{s}')" for s in PPR_SEEDS)
    iters = []
    for k in range(1, iterations + 1):
        iters.append(f"""
        r{k} AS (
            SELECT t.node,
                   (1 - {d}) * t.tl
                   + {d} * coalesce(sum(p.rank * e.wn), 0) AS rank
            FROM tele t
            LEFT JOIN nrm e ON e.v = t.node
            LEFT JOIN r{k - 1} p ON p.node = e.u
            GROUP BY t.node, t.tl
        )""")
    return f"""
        WITH edges AS (
            SELECT cn.n_name AS src, sn.n_name AS dst, count(*)::DOUBLE AS w
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation cn ON cn.n_nationkey = c.c_nationkey
            JOIN nation sn ON sn.n_nationkey = s.s_nationkey
            GROUP BY 1, 2
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nrm AS (
            SELECT src AS u, dst AS v,
                   w / sum(w) OVER (PARTITION BY src) AS wn
            FROM edges
        ),
        seeds AS (SELECT node FROM (VALUES {seed_values}) t(node)),
        tele AS (
            SELECT n.node,
                   CASE WHEN s.node IS NOT NULL
                        THEN 1.0 / (SELECT count(*) FROM seeds)
                        ELSE 0.0 END AS tl
            FROM nodes n LEFT JOIN seeds s ON s.node = n.node
        ),
        r0 AS (SELECT node, tl AS rank FROM tele),{','.join(iters)}
        SELECT node, round(rank, 6) AS rank FROM r{iterations}
    """


@register(
    "ppr_nation_trade_seeds",
    oracle=_ppr_oracle(),
    doc=f"""Personalized PageRank (3 fixed iterations, damping 0.85,
    teleport restricted to the {len(PPR_SEEDS)}-nation seed set) over
    the nation trade graph — proximity-to-seed-neighborhood scores,
    the recommender/affinity variant of the classic rank (seed = a
    user's items at 100 TB; here a fixed nation set so the contract is
    deterministic).  Same Pregel-superstep shape as
    ``pagerank_nation_trade`` (one keyed join + one grouped sum per
    round, node-sized teleport frame riding the same join); the seed
    count divides to a binary-exact 0.25 teleport mass, and the oracle
    unrolls the identical recurrence.""",
)
def ppr_nation_trade_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_personalized

    edges = _trade_edges(spark, sf_dir)
    seeds = spark.createDataFrame([(s,) for s in PPR_SEEDS], "node string")
    ranks = pagerank_personalized(edges, seeds, iterations=3)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# Shared CTE text for the 1995 co-purchase graph, used by the triangle,
# community and association-rule oracles (ONE definition of the date
# window and basket/edge canonicalization — the Spark twin is
# _copurchase_lines/_copurchase_edges below).
_COPURCHASE_LINES_CTE = """lines AS (
            SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderdate >= DATE '1995-01-01'
              AND o.o_orderdate < DATE '1996-01-01'
        )"""
_COPURCHASE_EDGE_CTES = f"""{_COPURCHASE_LINES_CTE}, edges AS (
            SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM lines a JOIN lines b ON a.ok = b.ok AND a.pk < b.pk
        )"""


@register(
    "triangle_count_copurchase",
    oracle=f"""
        WITH {_COPURCHASE_EDGE_CTES}, deg AS (
            SELECT x AS vertex, count(*)::BIGINT AS d
            FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
            GROUP BY x
        ), oriented AS (
            SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END
                       AS src,
                   CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END
                       AS dst,
                   CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END
                       AS ddst
            FROM edges e
            JOIN deg du ON e.u = du.vertex
            JOIN deg dv ON e.v = dv.vertex
        ), wedges AS (
            SELECT o1.dst AS b, o2.dst AS c
            FROM oriented o1 JOIN oriented o2
              ON o1.src = o2.src
             AND (o1.ddst, o1.dst) < (o2.ddst, o2.dst)
        ), tri AS (
            SELECT count(*)::BIGINT AS n_triangles
            FROM wedges w JOIN oriented o ON w.b = o.src AND w.c = o.dst
        )
        SELECT (SELECT count(*)::BIGINT FROM deg) AS n_vertices,
               (SELECT count(*)::BIGINT FROM edges) AS n_edges,
               n_triangles
        FROM tri
    """,
    doc="""Distributed triangle counting over the 1995 co-purchase graph
    (parts are vertices; an edge joins two parts appearing in the same
    order) — the standard graph-health metric for recommender /
    link-analysis corpora.  Uses the degree-orientation algorithm
    (Cohen; Suri & Vassilvitskii's MR "last reducer" fix): every edge
    is directed from its lower-(degree, id) endpoint to the higher, so
    a vertex's out-degree is bounded by ~sqrt(|E|) regardless of how
    skewed the raw degree distribution is — the hub that would
    otherwise emit deg² wedge candidates emits almost none.  Wedge
    generation is an equi-join on the wedge center, closure is an
    equi-join on the (b, c) pair; no cartesian anywhere.  Each triangle
    is counted exactly once (its unique cyclic orientation).""",
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count

    return triangle_count(_copurchase_edges(spark, sf_dir))


LPA_ROUNDS = 2


def _copurchase_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each 1995 order's SORTED DISTINCT part array ``(ok, ps)`` — the
    round-10 basket representation behind the co-purchase pair
    builders (guide §2.4).  One exchange builds it (``collect_set``
    dedups inside the aggregate); flat basket rows come back with a
    narrow ``explode``, and within-basket pairs with chained
    generators (``_basket_pairs``) instead of an ok self-join — which,
    across a localCheckpoint (whose partitioning AQE forgets), paid
    TWO more full exchanges.  Eagerly checkpointed for consumers that
    read it more than once; per-basket memory is |basket| longs, so
    the whale-basket economics match the flat form."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return (
        li.join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
            ).select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .localCheckpoint(eager=True)
    )


def _basket_pairs(baskets: DataFrame) -> DataFrame:
    """The ``u < v`` within-basket pairs of a ``(ok, ps)`` basket-array
    frame, one row per (basket, pair), as a narrow codegen'd
    generator pipeline: ``posexplode`` picks ``u`` and its position,
    ``slice(ps, i + 2, ...)`` yields exactly the strictly-greater
    elements (``ps`` is sorted).  Bit-identical to the old ok
    self-join's pair multiset (verified value-equal at sf0.1) with no
    join and no exchange."""
    return baskets.select("ps", F.posexplode("ps").alias("i", "u")).select(
        "u",
        F.explode(F.expr("slice(ps, i + 2, size(ps) - i - 1)")).alias("v"),
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected 1995 co-purchase edges ``(u, v)`` with
    ``u < v`` — the shared graph behind the triangle and community
    queries.  Eagerly checkpointed: every consumer reads the edge list
    several times, and at 100 TB this is a written adjacency table, not
    a recomputed lineage."""
    # Round-10 optimization (guide §2.4 — remove shuffles outright):
    # the old shape materialized the distinct basket lines (one
    # exchange), then self-joined them on ok — and because a
    # localCheckpoint under AQE forgets its partitioning, the self-join
    # re-exchanged BOTH sides (verified: no ReusedExchange fires across
    # the checkpoint scan).  The basket-array build (one exchange) +
    # generator pair emission replaces all of that; the baskets are
    # built inline (not checkpointed) since this helper only reads
    # them once on the way to the edge checkpoint.  2.5 s → 1.5 s
    # isolated at sf0.1, bit-identical edge set (value-equal checked).
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    baskets = (
        li.join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
            ).select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    return _basket_pairs(baskets).distinct().localCheckpoint(eager=True)


@register(
    "lpa_community_labels",
    oracle=f"""
        WITH {_COPURCHASE_EDGE_CTES}, bi AS (
            SELECT u AS src, v AS dst FROM edges
            UNION ALL
            SELECT v AS src, u AS dst FROM edges
        ), l1 AS (
            SELECT src AS vertex, dst AS lbl
            FROM (
                SELECT src, dst, count(*) AS n FROM bi GROUP BY src, dst
                QUALIFY row_number() OVER (
                    PARTITION BY src ORDER BY n DESC, dst) = 1
            )
        ), l2 AS (
            SELECT src AS vertex, lbl AS community
            FROM (
                SELECT b.src, l.lbl, count(*) AS n
                FROM bi b JOIN l1 l ON b.dst = l.vertex
                GROUP BY b.src, l.lbl
                QUALIFY row_number() OVER (
                    PARTITION BY b.src ORDER BY n DESC, l.lbl) = 1
            )
        )
        SELECT vertex, community FROM l2
    """,
    doc=f"""Community detection via synchronous label propagation
    (Raghavan et al.), {LPA_ROUNDS} fixed rounds over the 1995
    co-purchase graph: every vertex adopts the most frequent label among
    its neighbors (ties → smallest label; labels start as vertex ids).
    The fixed round count makes the declared query oracle-able — LPA
    has no cross-engine-stable fixpoint (update order changes the
    answer), so the synchronous {LPA_ROUNDS}-round contract IS the
    semantic, the same trick as kmeans_embedding_clusters.  Per round:
    one equi-join (neighbor label lookup), one grouped count, one
    window partitioned by vertex for the argmax — all shuffles keyed by
    vertex, no cartesian, hub fan-in bounded by the grouped pre-count
    (a vertex receives one row per DISTINCT neighbor label, not per
    neighbor).""",
)
def lpa_community_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import lpa_communities

    return lpa_communities(_copurchase_edges(spark, sf_dir), rounds=LPA_ROUNDS)


ASSOC_TOPK = 20
ASSOC_MIN_PAIR = 2


@register(
    "association_rules_pairs",
    oracle=f"""
        WITH {_COPURCHASE_LINES_CTE}, n AS (
            SELECT count(DISTINCT ok)::BIGINT AS n_baskets FROM lines
        ), item AS (
            SELECT pk, count(*)::BIGINT AS c FROM lines GROUP BY pk
        ), pair AS (
            SELECT a.pk AS pk_a, b.pk AS pk_b, count(*)::BIGINT AS c_ab
            FROM lines a JOIN lines b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY a.pk, b.pk
        ), top AS (
            SELECT pk_a, pk_b, c_ab FROM pair
            WHERE c_ab >= {ASSOC_MIN_PAIR}
            ORDER BY c_ab DESC, pk_a, pk_b LIMIT {ASSOC_TOPK}
        )
        SELECT t.pk_a, t.pk_b, t.c_ab,
               round(1e6 * t.c_ab / n.n_baskets)::BIGINT AS support_micros,
               round(1e6 * t.c_ab / ia.c)::BIGINT AS confidence_micros,
               round(1e6 * t.c_ab * n.n_baskets / (ia.c * ib.c))::BIGINT
                   AS lift_micros
        FROM top t
        JOIN item ia ON t.pk_a = ia.pk
        JOIN item ib ON t.pk_b = ib.pk
        CROSS JOIN n
        ORDER BY t.c_ab DESC, t.pk_a, t.pk_b
    """,
    doc=f"""Association-rule mining (market-basket pairs, the Apriori
    k=2 report): the top-{ASSOC_TOPK} co-purchased part pairs of 1995
    with support, confidence(a→b) and lift.  Scale shape: pair
    counting is the within-basket self-join (bounded by per-basket
    item count squared, never |items|²), item supports and the basket
    total are grouped counts; the tiny top-{ASSOC_TOPK} report frame
    BROADCASTS into the support joins (the Kneser-Ney report pattern)
    and the 1-row basket total is a bounded broadcast (allowlisted).
    All metric inputs are integer counts; each metric rounds to micros
    once.""",
)
def association_rules_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Basket-array form (round-10, guide §2.4): one checkpointed
    # (ok, ps) build; n_baskets is the checkpoint's row count, item
    # supports explode narrowly, and the pair counts come from the
    # generator pipeline instead of the ok self-join (which paid two
    # post-checkpoint exchanges).  Identical counts by construction.
    baskets = _copurchase_baskets(spark, sf_dir)
    n = baskets.agg(F.count("*").alias("n_baskets"))
    lines = baskets.select("ok", F.explode("ps").alias("pk"))
    item = lines.groupBy(F.col("pk")).agg(F.count("*").alias("c"))
    pair = (
        _basket_pairs(baskets)
        .groupBy(F.col("u").alias("pk_a"), F.col("v").alias("pk_b"))
        .agg(F.count("*").alias("c_ab"))
    )
    top = (
        pair.where(F.col("c_ab") >= ASSOC_MIN_PAIR)
        .orderBy(F.desc("c_ab"), "pk_a", "pk_b")
        .limit(ASSOC_TOPK)
    )
    ia = item.select(F.col("pk").alias("pk_a"), F.col("c").alias("c_a"))
    ib = item.select(F.col("pk").alias("pk_b"), F.col("c").alias("c_b"))
    return (
        F.broadcast(top)
        .join(ia, "pk_a")
        .join(ib, "pk_b")
        .crossJoin(F.broadcast(n))
        .select(
            "pk_a",
            "pk_b",
            "c_ab",
            F.round(1e6 * F.col("c_ab") / F.col("n_baskets"))
            .cast("long")
            .alias("support_micros"),
            F.round(1e6 * F.col("c_ab") / F.col("c_a"))
            .cast("long")
            .alias("confidence_micros"),
            F.round(
                1e6 * F.col("c_ab") * F.col("n_baskets")
                / (F.col("c_a") * F.col("c_b"))
            )
            .cast("long")
            .alias("lift_micros"),
        )
        .orderBy(F.desc("c_ab"), "pk_a", "pk_b")
    )


LINK_TOPK = 20


@register(
    "link_prediction_scores",
    oracle=f"""
        WITH {_COPURCHASE_EDGE_CTES}, deg AS (
            SELECT x AS vertex, count(*)::BIGINT AS d
            FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
            GROUP BY x
        ), adj AS (
            SELECT u AS w, v AS n FROM edges
            UNION ALL
            SELECT v AS w, u AS n FROM edges
        ), wed AS (
            SELECT a.n AS u, b.n AS v, a.w AS w
            FROM adj a JOIN adj b ON a.w = b.w AND a.n < b.n
        ), cn AS (
            SELECT u, v, count(*)::BIGINT AS common_n,
                   sum(round(1e6 / ln(dw.d)))::BIGINT AS aa_micros
            FROM wed JOIN deg dw ON wed.w = dw.vertex
            GROUP BY u, v
        ), ne AS (
            SELECT cn.* FROM cn
            LEFT JOIN edges e ON cn.u = e.u AND cn.v = e.v
            WHERE e.u IS NULL
        )
        SELECT ne.u, ne.v, ne.common_n, ne.aa_micros,
               round(ne.common_n::DOUBLE
                     / (du.d + dv.d - ne.common_n), 6) AS jaccard
        FROM ne
        JOIN deg du ON ne.u = du.vertex
        JOIN deg dv ON ne.v = dv.vertex
        ORDER BY ne.common_n DESC, ne.aa_micros DESC, ne.u, ne.v
        LIMIT {LINK_TOPK}
    """,
    doc=f"""Link prediction over the 1995 co-purchase graph: the top
    {LINK_TOPK} NON-adjacent part pairs by common co-purchase
    neighbors, with the classical score family (Liben-Nowell &
    Kleinberg '03): common-neighbor count, Jaccard of neighborhoods,
    and Adamic–Adar (Σ 1/ln deg(w), per-wedge terms rounded to integer
    micros BEFORE the sum — wedge centers have degree ≥ 2, so ln is
    never zero).  Scale shape: each center's sorted distinct neighbor
    array is built in ONE vertex-keyed exchange and the wedges are
    emitted by chained posexplode/slice generators — no self-join (the
    output IS the wedge set, so Σ deg(w)² rows are inherent to the
    exact scores; at 100 TB a power-law graph caps hub centers first —
    the LSH-style candidate cap the dedup family already applies),
    partial-aggregated into packed-key (u,v) scores, anti-joined
    against the edge list to keep non-edges, and top-k'd via
    TakeOrderedAndProject.  No cartesian anywhere; every join is an
    equi-join.""",
)
def link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    adj = edges.select(
        F.col("u").alias("w"), F.col("v").alias("n")
    ).unionAll(edges.select(F.col("v").alias("w"), F.col("u").alias("n")))
    # Per-center SORTED DISTINCT neighbor array in ONE exchange (the
    # _basket_pairs / change-5 pattern: a join that can be a generator
    # should not be a join).  The old shape paid a vertex-keyed degree
    # exchange, an adj⋈deg join, two explicit repartition(32, w)
    # exchanges and a SortMergeJoin to emit the wedges; the array form
    # pays the one groupBy(w) exchange and emits the identical wedge
    # multiset (u < v pairs of distinct neighbors per center — edges
    # are distinct, so collect_set loses nothing) through chained
    # posexplode/slice generators.  Degree and the per-wedge
    # Adamic–Adar term both read off the SAME array (deg(w) = size(ns)
    # = the old endpoint-count — one row per incident edge); the
    # CASE keeps the ln division total on degree-1 centers, which emit
    # no wedge but whose aa_term the projection still evaluates (the
    # shingle_sets clamp lesson).  Checkpointed: the frame feeds the
    # wedge generator once and the final deg(u)/deg(v) joins twice.
    # Explicit user repartition between the aggregate and the
    # checkpoint: the nbrs frame is |V| tiny rows, so AQE coalesces the
    # groupBy exchange to ~2 tasks — but the generator chained on the
    # checkpoint scan emits sum(deg(w)²) wedge rows (heavy compute) at
    # the checkpoint's partition count.  User repartition with an
    # explicit count is AQE-exempt (the SemDeDup/containment-verify
    # pattern, sized to the session's core count, not a constant).
    nbrs = (
        adj.groupBy("w")
        .agg(F.array_sort(F.collect_set("n")).alias("ns"))
        .withColumn("d", F.size("ns").cast("long"))
        .repartition(spark.sparkContext.defaultParallelism, "w")
        .localCheckpoint(eager=True)
    )
    deg = nbrs.select(F.col("w").alias("vertex"), F.col("d"))
    # The wedge aggregate shuffles one PACKED long per wedge instead of
    # the (u, v) pair (pack_pair — partkeys fit in 31 bits at any SF,
    # and a larger one fails the job), and the existing-edge anti-join probes the
    # same packed key; u and v unpack on the aggregated (small) frame.
    cn = (
        nbrs.select(
            "ns",
            F.when(
                F.col("d") > 1, F.round(F.lit(1e6) / F.log(F.col("d")))
            )
            .cast("long")
            .alias("aa_term"),
            F.posexplode("ns").alias("i", "nu"),
        )
        .select(
            "aa_term",
            "nu",
            F.explode(
                F.expr("slice(ns, i + 2, size(ns) - i - 1)")
            ).alias("nv"),
        )
        .select(pack_pair("nu", "nv").alias("uv"), "aa_term")
        .groupBy("uv")
        .agg(
            F.count("*").cast("long").alias("common_n"),
            F.sum("aa_term").cast("long").alias("aa_micros"),
        )
    )
    u, v = unpack_pair("uv")
    ne = cn.join(
        edges.select(pack_pair("u", "v").alias("uv")),
        "uv",
        "left_anti",
    ).select(
        u.alias("u"),
        v.alias("v"),
        "common_n",
        "aa_micros",
    )
    du = deg.select(F.col("vertex").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("vertex").alias("v"), F.col("d").alias("dv"))
    return (
        ne.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_n",
            "aa_micros",
            F.round(
                F.col("common_n").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_n")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(
            F.col("common_n").desc(),
            F.col("aa_micros").desc(),
            "u",
            "v",
        )
        .limit(LINK_TOPK)
    )


# BFS report depth: 4 hops covers the co-purchase graph's effective
# diameter while keeping the oracle's recursive CTE bounded at
# |V| × (depth+1) working rows.
BFS_MAX_HOPS = 4


@register(
    "copurchase_item_similarity",
    oracle=f"""
        WITH {_COPURCHASE_LINES_CTE}, deg AS (
            SELECT pk, count(*)::BIGINT AS d FROM lines GROUP BY pk
        ), pairs AS (
            SELECT a.pk AS u, b.pk AS v, count(*)::BIGINT AS co_count
            FROM lines a JOIN lines b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY a.pk, b.pk
        )
        SELECT p.u, p.v, p.co_count, du.d AS deg_u, dv.d AS deg_v,
               round(1000000.0 * p.co_count * p.co_count
                     / (du.d * dv.d))::BIGINT AS cos2_ppm
        FROM pairs p
        JOIN deg du ON p.u = du.pk
        JOIN deg dv ON p.v = dv.pk
        ORDER BY cos2_ppm DESC, p.u, p.v LIMIT 100
    """,
    doc="""Item-item collaborative-filtering similarity over the 1995
    co-purchase matrix (orders are implicit baskets): top-100 part
    pairs by squared cosine ``c²/(dᵤ·dᵥ)`` in exact integer ppm.
    Scale shape: candidate pairs come ONLY from the within-basket
    self-join (the inverted-index trick — parts never co-purchased are
    never paired; no |parts|² anywhere); the two degree attachments are
    broadcast joins against the |parts|-row degree table; the top-100
    is a TakeOrderedAndProject (per-partition heads, no global sort
    materialization).  Hot-basket skew is the LSH hot-band cap pattern
    if basket sizes grow super-linear; TPC-H baskets are ≤7 lines.
    Squaring the cosine keeps the contract in integer arithmetic plus
    ONE correctly rounded IEEE division — no ``sqrt`` drift across
    engines.""",
)
def copurchase_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Basket-array form (round-10, guide §2.4): degrees explode
    # narrowly off the one checkpointed (ok, ps) build and pair counts
    # come from the generator pipeline instead of the ok self-join.
    baskets = _copurchase_baskets(spark, sf_dir)
    lines = baskets.select("ok", F.explode("ps").alias("pk"))
    deg = lines.groupBy("pk").agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        _basket_pairs(baskets)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("co_count"))
    )
    sim = (
        pairs.join(
            F.broadcast(deg.select(F.col("pk").alias("u"), F.col("d").alias("deg_u"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("pk").alias("v"), F.col("d").alias("deg_v"))),
            "v",
        )
        .withColumn(
            "cos2_ppm",
            F.round(
                F.lit(1000000.0)
                * F.col("co_count")
                * F.col("co_count")
                / (F.col("deg_u") * F.col("deg_v"))
            ).cast("long"),
        )
    )
    return (
        sim.orderBy(F.desc("cos2_ppm"), "u", "v")
        .limit(100)
        .select("u", "v", "co_count", "deg_u", "deg_v", "cos2_ppm")
    )


@register(
    "bfs_hops_from_hub",
    oracle=f"""
        WITH RECURSIVE {_COPURCHASE_EDGE_CTES}, bi AS (
            SELECT u AS src, v AS dst FROM edges
            UNION ALL
            SELECT v AS src, u AS dst FROM edges
        ), deg AS (
            SELECT src, count(*)::BIGINT AS d FROM bi GROUP BY src
        ), hub AS (
            SELECT src AS h FROM deg ORDER BY d DESC, src LIMIT 1
        ), walk(v, hop) AS (
            SELECT h, 0 FROM hub
            UNION
            SELECT b.dst, w.hop + 1
            FROM walk w JOIN bi b ON b.src = w.v
            WHERE w.hop < {BFS_MAX_HOPS}
        ), dist AS (
            SELECT v, min(hop) AS hop FROM walk GROUP BY v
        )
        SELECT hop, count(*)::BIGINT AS n_vertices,
               sum(v)::BIGINT AS vertex_checksum
        FROM dist GROUP BY hop
    """,
    doc=f"""Bounded-depth BFS from the highest-(degree, id)-ranked hub
    of the 1995 co-purchase graph: vertices reached per hop (≤
    {BFS_MAX_HOPS}) with an identity checksum (sum of vertex ids) so
    the contract pins the reached SET, not just its size.  Scale
    shape: each round is frontier ⋈ adjacency (keyed equi-join; AQE
    broadcasts while the frontier is small) followed by a distinct and
    an anti-join against the visited set, eagerly localCheckpoint-ed —
    bounded rounds, each emptiness probe a bounded scalar job; the
    1-row hub argmax is the only other collect.  The oracle replays
    the traversal as a recursive CTE (``min(hop)`` over the ≤
    |V|·(depth+1) working rows).""",
)
def bfs_hops_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    bi = (
        edges.selectExpr("u AS src", "v AS dst")
        .unionByName(edges.selectExpr("v AS src", "u AS dst"))
        .localCheckpoint(eager=True)
    )
    deg = bi.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hub = deg.orderBy(F.desc("d"), F.asc("src")).limit(1).collect()[0]["src"]
    visited = bfs_distances(bi, hub, BFS_MAX_HOPS)
    return visited.groupBy("hop").agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum("v").alias("vertex_checksum"),
    )


# --- k-core peeling ----------------------------------------------------
KCORE_K = 12
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:

    ctes = [_COPURCHASE_EDGE_CTES, "e0 AS (SELECT u, v FROM edges)"]
    for r in range(KCORE_ROUNDS):
        ctes.append(
            f"""k{r} AS (
                SELECT x FROM (
                    SELECT u AS x FROM e{r}
                    UNION ALL SELECT v FROM e{r}
                ) GROUP BY x HAVING count(*) >= {KCORE_K}
            )"""
        )
        ctes.append(
            f"""e{r + 1} AS (
                SELECT u, v FROM e{r}
                WHERE u IN (SELECT x FROM k{r})
                  AND v IN (SELECT x FROM k{r})
            )"""
        )
    last = f"e{KCORE_ROUNDS}"
    return f"""
        WITH {", ".join(ctes)}
        SELECT x AS vertex, count(*)::BIGINT AS core_degree
        FROM (SELECT u AS x FROM {last} UNION ALL SELECT v FROM {last})
        GROUP BY x
    """


@register(
    "kcore_peel_copurchase",
    oracle=_kcore_oracle(),
    doc=f"""k-core peeling (Seidman '83) of the 1995 co-purchase graph,
    k={KCORE_K}, {KCORE_ROUNDS} synchronous rounds
    (operators/graph.py:kcore_peel): each round drops vertices whose
    degree in the SURVIVING subgraph fell below k, cascading — the
    graph-density screen that separates a dense recommendation core
    from peripheral long-tail parts (and, on dedup-cluster graphs,
    genuine duplicate cores from chance-collision tendrils).  The
    fixed round count is the deterministic contract (the LPA/k-means
    trick; the true core is the fixpoint of the same loop).  Per
    round: one grouped degree count + two vertex-keyed semi-joins,
    round edges eagerly checkpointed.  The oracle unrolls the
    {KCORE_ROUNDS} rounds as chained CTEs.""",
)
def kcore_peel_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore_peel

    return kcore_peel(
        _copurchase_edges(spark, sf_dir), k=KCORE_K, rounds=KCORE_ROUNDS
    )


HITS_ROUNDS = 2
HITS_TOPK = 10


MARKOV_ROUNDS = 3


# --- HITS ----------------------------------------------------------------


def _hits_oracle() -> str:
    ctes = [
        """ce AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderdate >= DATE '1995-01-01'
              AND o.o_orderdate < DATE '1996-01-01'
        )""",
        "h0 AS (SELECT c, 1000000::BIGINT AS hm FROM (SELECT DISTINCT c FROM ce))",
    ]
    for t in range(HITS_ROUNDS):
        ctes.append(
            f"""a{t + 1}r AS (
                SELECT p, sum(hm)::BIGINT AS ar
                FROM ce JOIN h{t} USING (c) GROUP BY p
            )"""
        )
        ctes.append(f"a{t + 1}m AS (SELECT max(ar) AS m FROM a{t + 1}r)")
        ctes.append(
            f"""a{t + 1} AS (
                SELECT p, ((ar::HUGEINT * 1000000) // m)::BIGINT AS am
                FROM a{t + 1}r, a{t + 1}m
            )"""
        )
        ctes.append(
            f"""h{t + 1}r AS (
                SELECT c, sum(am)::BIGINT AS hr
                FROM ce JOIN a{t + 1} USING (p) GROUP BY c
            )"""
        )
        ctes.append(f"h{t + 1}m AS (SELECT max(hr) AS m FROM h{t + 1}r)")
        ctes.append(
            f"""h{t + 1} AS (
                SELECT c, ((hr::HUGEINT * 1000000) // m)::BIGINT AS hm
                FROM h{t + 1}r, h{t + 1}m
            )"""
        )
    last = HITS_ROUNDS
    return f"""
        WITH {", ".join(ctes)}
        SELECT * FROM (
            SELECT 'authority' AS role, p AS node_id, am AS score_micros
            FROM a{last} ORDER BY am DESC, p LIMIT {HITS_TOPK}
        )
        UNION ALL
        SELECT * FROM (
            SELECT 'hub' AS role, c AS node_id, hm AS score_micros
            FROM h{last} ORDER BY hm DESC, c LIMIT {HITS_TOPK}
        )
    """


@register(
    "hits_hubs_authorities",
    oracle=_hits_oracle(),
    doc=f"""HITS (Kleinberg '99) on the bipartite 1995 customer→part
    purchase graph: hubs are customers (they buy broadly-endorsed
    parts), authorities are parts (they are bought by strong hubs) —
    the mutual-reinforcement companion to pagerank_nation_trade, and
    on a dedup-candidate graph the standard way to separate template
    "hub" documents from the genuine centers they link.
    {HITS_ROUNDS} synchronous rounds, each half-step max-normalized to
    integer micros (``(raw·1e6) div max`` — no FP anywhere, the Holt
    lesson); top {HITS_TOPK} per role with id tiebreaks.  Scale shape:
    the edge list shuffles once per half-round for a grouped sum
    (partial-aggregated map-side), the max is a broadcast scalar;
    int64 headroom is raw ≤ 1e6·|customers| so micros·raw stays under
    2^63 up to ~9e6 customers per part — past that the same plan runs
    on decimal(38).""",
)
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    ce = (
        li.join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
            ).select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = ce.select("c").distinct().withColumn(
        "hm", F.lit(1_000_000).cast("long")
    )
    auth = None
    # Round-10 session 2 (change-8 class, multiplicative variant): each
    # raw-score frame feeds BOTH its own max and the normalized scores,
    # and the rounds nest, so the lazy unrolled loop re-evaluated the
    # ce-join subtrees ~4^rounds times in the final action.  Pinning
    # araw/hraw per round makes each half-round exactly one join +
    # grouped sum over the edge checkpoint (the Pregel superstep shape
    # the doc promises).
    for _ in range(HITS_ROUNDS):
        araw = ce.join(hub, "c").groupBy("p").agg(
            F.sum("hm").cast("long").alias("ar")
        ).localCheckpoint(eager=True)
        amax = araw.agg(F.max("ar").alias("m"))
        auth = araw.crossJoin(F.broadcast(amax)).select(
            "p", _idiv(F.col("ar") * F.lit(1_000_000), F.col("m")).alias("am")
        )
        hraw = ce.join(auth, "p").groupBy("c").agg(
            F.sum("am").cast("long").alias("hr")
        ).localCheckpoint(eager=True)
        hmax = hraw.agg(F.max("hr").alias("m"))
        hub = hraw.crossJoin(F.broadcast(hmax)).select(
            "c", _idiv(F.col("hr") * F.lit(1_000_000), F.col("m")).alias("hm")
        )
    top_auth = (
        auth.orderBy(F.col("am").desc(), "p")
        .limit(HITS_TOPK)
        .select(
            F.lit("authority").alias("role"),
            F.col("p").alias("node_id"),
            F.col("am").alias("score_micros"),
        )
    )
    top_hub = (
        hub.orderBy(F.col("hm").desc(), "c")
        .limit(HITS_TOPK)
        .select(
            F.lit("hub").alias("role"),
            F.col("c").alias("node_id"),
            F.col("hm").alias("score_micros"),
        )
    )
    return top_auth.unionAll(top_hub)


# --- Markov stationary distribution -------------------------------------


def _markov_oracle() -> str:
    ctes = [
        """seq AS (
            SELECT event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        )""",
        """tc AS (
            SELECT prev_type AS prev, event_type AS nxt,
                   count(*)::BIGINT AS c
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        )""",
        "rt AS (SELECT prev, sum(c)::BIGINT AS tot FROM tc GROUP BY prev)",
        """pm AS (
            SELECT prev, nxt, ((c * 1000000) // tot)::BIGINT AS p
            FROM tc JOIN rt USING (prev)
        )""",
        "st AS (SELECT DISTINCT event_type AS s FROM events)",
        "k AS (SELECT count(*)::BIGINT AS kk FROM st)",
        "v0 AS (SELECT s, (1000000 // kk)::BIGINT AS vm FROM st, k)",
    ]
    for t in range(MARKOV_ROUNDS):
        ctes.append(
            f"""w{t + 1} AS (
                SELECT pm.nxt AS s,
                       sum((v{t}.vm * pm.p) // 1000000)::BIGINT AS vm
                FROM v{t} JOIN pm ON pm.prev = v{t}.s GROUP BY pm.nxt
            )"""
        )
        ctes.append(
            f"""v{t + 1} AS (
                SELECT st.s, coalesce(w{t + 1}.vm, 0)::BIGINT AS vm
                FROM st LEFT JOIN w{t + 1} ON w{t + 1}.s = st.s
            )"""
        )
    return f"""
        WITH {", ".join(ctes)}
        SELECT s AS event_type, vm AS stationary_micros
        FROM v{MARKOV_ROUNDS}
    """


@register(
    "markov_stationary_events",
    oracle=_markov_oracle(),
    doc=f"""Stationary distribution of the first-order event-type
    Markov chain: event_transition_matrix's (prev→next) counts made
    row-stochastic in integer micros, then {MARKOV_ROUNDS} unrolled
    power-iteration rounds v·P from a uniform start — "where does user
    behavior settle", the steady-state companion to the transition
    counts and event_path_trigrams.  Every probability and every
    update term is floored integer micros (per-term flooring BEFORE
    the sum keeps the result independent of addition order — no FP in
    the contract; the ≤|types| floor losses per round are documented
    estimator bias, not noise).  Scale shape: the row-scale work is
    the one per-user lag shuffle that builds the counts; the chain
    itself is a |types|² table iterated entirely on broadcast-size
    frames — driver-size state over arbitrarily large event logs.""",
)
def markov_stationary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    )
    tc = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("nxt"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    rt = tc.groupBy("prev").agg(F.sum("c").cast("long").alias("tot"))
    # Round-10 session 2 (change-8 class): the transition matrix and the
    # state list are loop invariants referenced by every unrolled round,
    # and each reference re-ran the per-user lag window + aggregates
    # over the full event log (before plan: 22 parquet scans).  Both are
    # |types|-bounded — pin them once; the iteration itself is broadcast
    # arithmetic over the checkpoints.
    pm = tc.join(rt, "prev").select(
        "prev", "nxt", _idiv(F.col("c") * F.lit(1_000_000), F.col("tot")).alias("p")
    ).localCheckpoint(eager=True)
    st = events.select(
        F.col("event_type").alias("s")
    ).distinct().localCheckpoint(eager=True)
    k = st.agg(F.count(F.lit(1)).cast("long").alias("kk"))
    v = st.crossJoin(F.broadcast(k)).select(
        "s", _idiv(F.lit(1_000_000), F.col("kk")).alias("vm")
    )
    for _ in range(MARKOV_ROUNDS):
        terms = v.join(F.broadcast(pm), v.s == pm.prev).select(
            F.col("nxt").alias("s2"),
            _idiv(F.col("vm") * F.col("p"), F.lit(1_000_000)).alias("term"),
        )
        sums = terms.groupBy("s2").agg(F.sum("term").cast("long").alias("vm2"))
        v = st.join(F.broadcast(sums), st.s == sums.s2, "left").select(
            "s", F.coalesce("vm2", F.lit(0)).cast("long").alias("vm")
        )
    return v.select(
        F.col("s").alias("event_type"), F.col("vm").alias("stationary_micros")
    )


# --- A-priori frequent triples ------------------------------------------

ASSOC3_MIN = 3
ASSOC3_TOPK = 20

# Customer-lifetime baskets (all parts a customer ever bought): the
# 1995 order baskets peak at pair support 2, so the k=3 level needs the
# wider basket definition to have any support->=3 structure to mine.
_CUST_LINES_CTE = """lines AS (
            SELECT DISTINCT o.o_custkey AS ok, l.l_partkey AS pk
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )"""


@register(
    "association_rules_triples",
    oracle=f"""
        WITH {_CUST_LINES_CTE}, n AS (
            SELECT count(DISTINCT ok)::BIGINT AS n_baskets FROM lines
        ), item AS (
            SELECT pk, count(*)::BIGINT AS c FROM lines GROUP BY pk
        ), f1 AS (
            SELECT pk FROM item WHERE c >= {ASSOC3_MIN}
        ), linesf AS (
            SELECT l.ok, l.pk FROM lines l JOIN f1 USING (pk)
        ), bp AS (
            SELECT a.ok, a.pk AS u, b.pk AS v
            FROM linesf a JOIN linesf b ON a.ok = b.ok AND a.pk < b.pk
        ), pc AS (
            SELECT u, v, count(*)::BIGINT AS c_ab FROM bp GROUP BY u, v
        ), f2 AS (
            SELECT u, v FROM pc WHERE c_ab >= {ASSOC3_MIN}
        ), cand AS (
            SELECT bp.ok, bp.u, bp.v FROM bp JOIN f2 USING (u, v)
        ), tri AS (
            SELECT cand.u AS pk_a, cand.v AS pk_b, l.pk AS pk_c,
                   count(*)::BIGINT AS c_abc
            FROM cand
            JOIN linesf l ON l.ok = cand.ok AND l.pk > cand.v
            JOIN f2 f23 ON f23.u = cand.v AND f23.v = l.pk
            JOIN f2 f13 ON f13.u = cand.u AND f13.v = l.pk
            GROUP BY cand.u, cand.v, l.pk
            HAVING count(*) >= {ASSOC3_MIN}
        ), top AS (
            SELECT * FROM tri
            ORDER BY c_abc DESC, pk_a, pk_b, pk_c LIMIT {ASSOC3_TOPK}
        )
        SELECT t.pk_a, t.pk_b, t.pk_c, t.c_abc,
               ((t.c_abc::HUGEINT * 1000000) // n.n_baskets)::BIGINT
                   AS support_micros,
               ((t.c_abc::HUGEINT * 1000000) // pc.c_ab)::BIGINT
                   AS confidence_micros,
               ((t.c_abc::HUGEINT * 1000000 * n.n_baskets)
                    // (pc.c_ab * item.c))::BIGINT AS lift_micros
        FROM top t
        JOIN pc ON pc.u = t.pk_a AND pc.v = t.pk_b
        JOIN item ON item.pk = t.pk_c
        CROSS JOIN n
    """,
    doc=f"""Apriori level-3 market-basket mining (Agrawal & Srikant
    '94) over customer-lifetime baskets: the top-{ASSOC3_TOPK}
    3-itemsets with support >= {ASSOC3_MIN}, plus support, confidence
    ((a,b) -> c) and lift in floor-integer micros.  The Spark path is
    the REAL Apriori economics: within-basket pairs are semi-joined
    against the frequent-pair set F2 BEFORE extending to a third item,
    and both closing sub-pairs (b,c), (a,c) must also be in F2 — the
    downward-closure prune is LOSSLESS for support >= {ASSOC3_MIN}
    (every frequent triple's sub-pairs are frequent), so the candidate
    triple enumeration touches a vanishing fraction of the naive
    |basket|^3 blow-up.  The oracle applies the identical (lossless)
    prune.  Scale shape: within-basket pairs are emitted by narrow
    generators over the ONE-exchange sorted basket arrays (no basket
    self-join anywhere); the L2 count shuffles one PACKED long per
    pair; F2 is a filtered aggregate that broadcasts; the L3 extension
    semi-joins the narrow pair stream and re-attaches the basket array
    to the few survivors only (broadcast on the basket key); and the
    {ASSOC3_TOPK}-row report frame broadcasts into the metric joins
    (the pairs-query pattern).""",
)
def association_rules_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    # ONE exchange builds the basket table (round-10 optimization,
    # guide §2.4): hash-partitioning by ok satisfies the (ok, pk)
    # dedup's clustering requirement (subset key), so repartition
    # FIRST and let dropDuplicates run exchange-free on top — the old
    # distinct-then-repartition shape paid a second full (ok, pk)
    # shuffle just to land on the ok layout the self-join needs.
    # Numberless repartition sizes from spark.sql.shuffle.partitions
    # (scale-adaptive) instead of a pinned 32.
    lines = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .repartition(F.col("ok"))
        .dropDuplicates(["ok", "pk"])
        .localCheckpoint(eager=True)
    )
    n = lines.select("ok").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets")
    )
    item = lines.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # L1 projection (standard Apriori, lossless by downward closure): a
    # triple with support >= ASSOC3_MIN can only contain items whose own
    # basket count is >= ASSOC3_MIN, so infrequent items drop out BEFORE
    # any within-basket pair join.  This is also the whale-basket guard:
    # the pair frame is Σ|frequent items in basket|², not Σ|basket|² —
    # a 1e5-part one-off basket contributes pairs only over its items
    # that are frequent CORPUS-wide.  (A lossy per-basket width cap on
    # top of this would change mined supports, so it stays out; at real
    # 100 TB retail shape, raise ASSOC3_MIN with the data like any
    # min-support knob and the projection does the capping.)
    # f1 pins as a tiny checkpoint so each downstream action broadcasts
    # it without re-running the item aggregate; the L1 semi-join itself
    # is a broadcast probe that PRESERVES the checkpoint's ok
    # partitioning, so lines_f needs neither its own repartition nor a
    # second 600k-row materialization (round-10: the old second
    # checkpoint cost a full extra pass for layout the semi-join never
    # destroyed).
    f1 = (
        item.where(F.col("c") >= ASSOC3_MIN)
        .select("pk")
        .localCheckpoint(eager=True)
    )
    lines_f = lines.join(F.broadcast(f1), "pk", "left_semi")
    # L2 pair generation without the ok self-join (round-10, guide
    # §2.4): collect each basket's frequent items into ONE sorted array
    # (one exchange — the basket rows are already distinct, so
    # collect_list suffices) and emit the u < v pairs with chained
    # generators, a narrow codegen'd pipeline; the old self-join
    # re-exchanged both checkpoint sides (AQE checkpoints forget their
    # partitioning and no ReusedExchange fires).  The map-side partial
    # aggregation on (u, v) stays: at sf0.1 it dedups almost nothing
    # (13.1M pairs → 12.7M distinct) but at real retail scale pair
    # counts repeat heavily and the partial pass is what keeps the
    # shuffle bounded.
    # The basket-array frame feeds BOTH the L2 counting pass and the
    # L3 candidate extension (round-10: the extension used to re-join
    # basket LINES on ok — the dominant shuffle of the whole query);
    # checkpointing it (|baskets| rows) makes each pass a scan.
    fb = lines_f.groupBy("ok").agg(
        F.sort_array(F.collect_list("pk")).alias("ps")
    ).localCheckpoint(eager=True)
    # The within-basket u < v pairs, NARROW (ok + the pair packed into
    # one long by pack_pair — partkeys fit in 31 bits at any TPC-H scale
    # factor, and a larger one fails the job).  One
    # generate feeds both the L2 count (pruned to just the packed key —
    # the 13M-row shuffle carries ONE long per pair instead of two) and
    # the candidate filter (pruned to ok + key).  Round-10 session 2:
    # the previous shape re-emitted every pair CARRYING the basket
    # array (ps copied onto 13M rows) just so the few f2 survivors kept
    # their tail; profiling showed that array traffic + the 2-long
    # shuffle were the two dominant stages of the whole query.
    bp = (
        fb.select("ok", "ps", F.posexplode("ps").alias("i", "u"))
        .select(
            "ok",
            "u",
            F.explode(F.expr("slice(ps, i + 2, size(ps) - i - 1)")).alias("v"),
        )
        .select("ok", pack_pair("u", "v").alias("uv"))
    )
    pc = bp.groupBy("uv").agg(
        F.count(F.lit(1)).cast("long").alias("c_ab")
    )
    f2 = (
        pc.where(F.col("c_ab") >= ASSOC3_MIN)
        .select("uv")
        .localCheckpoint(eager=True)
    )
    # L3 extension: the frequent-pair semi-join survives only
    # |f2| × c_ab occurrence rows (thousands, not millions), so the
    # basket array is re-attached to the SURVIVORS ONLY — broadcast the
    # survivor frame against the checkpointed baskets on ok, recover
    # v's position with array_position (ps is sorted DISTINCT, so the
    # first occurrence is the only one), and explode the tail past v as
    # the third item: every element after position(v) is exactly
    # {w ∈ basket : w > v} (guide §8 — decide with small rows, move the
    # heavy arrays once).  Both closing sub-pairs then semi-join f2 as
    # before.
    u, v = unpack_pair("uv")
    cand = bp.join(F.broadcast(f2), "uv", "left_semi").select(
        "ok", u.alias("u"), v.alias("v")
    )
    ext = (
        fb.join(F.broadcast(cand), "ok")
        .select("u", "v", "ps", F.expr("array_position(ps, v)").alias("p"))
        .select(
            "u",
            "v",
            F.explode(
                F.expr("slice(ps, p + 1, size(ps) - p)")
            ).alias("w"),
        )
    )
    ext = ext.join(
        F.broadcast(f2.select(F.col("uv").alias("uv_vw"))),
        pack_pair("v", "w") == F.col("uv_vw"),
        "left_semi",
    ).join(
        F.broadcast(f2.select(F.col("uv").alias("uv_uw"))),
        pack_pair("u", "w") == F.col("uv_uw"),
        "left_semi",
    )
    tri = (
        ext.groupBy(
            F.col("u").alias("pk_a"),
            F.col("v").alias("pk_b"),
            F.col("w").alias("pk_c"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c_abc"))
        .where(F.col("c_abc") >= ASSOC3_MIN)
    )
    top = tri.orderBy(
        F.desc("c_abc"), "pk_a", "pk_b", "pk_c"
    ).limit(ASSOC3_TOPK).localCheckpoint(eager=True)
    # Confidence needs c_ab for the {TOPK} report pairs only — re-count
    # those from the basket lines under a broadcast of the report frame
    # instead of evaluating the full L2 pair aggregate a second time
    # (two broadcast-hash probes over lines vs another |basket|²
    # self-join; the L2 pass already ran once to produce f2).
    tp = top.select("pk_a", "pk_b").distinct()
    cab = (
        lines_f.join(F.broadcast(tp), lines_f.pk == tp.pk_a)
        .select("ok", "pk_a", "pk_b")
        .join(
            lines_f.select("ok", F.col("pk").alias("pk_b")),
            ["ok", "pk_b"],
            "left_semi",
        )
        .groupBy("pk_a", "pk_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    m = F.lit(1_000_000)
    return (
        F.broadcast(top)
        .join(F.broadcast(cab), ["pk_a", "pk_b"])
        .join(item.select(F.col("pk").alias("pk_c"), "c"), "pk_c")
        .crossJoin(F.broadcast(n))
        .select(
            "pk_a",
            "pk_b",
            "pk_c",
            "c_abc",
            _idiv(F.col("c_abc") * m, F.col("n_baskets")).alias(
                "support_micros"
            ),
            _idiv(F.col("c_abc") * m, F.col("c_ab")).alias(
                "confidence_micros"
            ),
            _idiv(
                F.col("c_abc") * m * F.col("n_baskets"),
                F.col("c_ab") * F.col("c"),
            ).alias("lift_micros"),
        )
    )


# --- Weighted SSSP (Bellman–Ford, bounded rounds) -----------------------

SSSP_ROUNDS = 4
SSSP_TOPK = 50


def _sssp_oracle() -> str:

    ctes = [
        _COPURCHASE_LINES_CTE,
        """pw AS (
            SELECT a.pk AS u, b.pk AS v, count(*)::BIGINT AS c
            FROM lines a JOIN lines b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY a.pk, b.pk
        )""",
        """e AS (
            SELECT u AS src, v AS dst, 1 + (1000000 // c) AS w FROM pw
            UNION ALL
            SELECT v, u, 1 + (1000000 // c) FROM pw
        )""",
        "deg AS (SELECT src, count(*)::BIGINT AS d FROM e GROUP BY src)",
        "hub AS (SELECT src AS h FROM deg ORDER BY d DESC, src LIMIT 1)",
        "d0 AS (SELECT h AS v, 0::BIGINT AS dist FROM hub)",
    ]
    for t in range(SSSP_ROUNDS):
        ctes.append(
            f"""d{t + 1} AS (
                SELECT v, min(dist)::BIGINT AS dist FROM (
                    SELECT v, dist FROM d{t}
                    UNION ALL
                    SELECT e.dst AS v, d{t}.dist + e.w
                    FROM d{t} JOIN e ON e.src = d{t}.v
                ) GROUP BY v
            )"""
        )
    return f"""
        WITH {", ".join(ctes)}
        SELECT v AS vertex, dist AS dist_micros
        FROM d{SSSP_ROUNDS} ORDER BY dist, v LIMIT {SSSP_TOPK}
    """


@register(
    "sssp_weighted_copurchase",
    oracle=_sssp_oracle(),
    doc=f"""Weighted single-source shortest paths by {SSSP_ROUNDS}
    synchronous Bellman–Ford relaxation rounds on the 1995 co-purchase
    graph, edge length = 1 + (1e6 div co-purchase-count) — strong
    co-purchase affinity is a short hop, so distance is a
    multi-hop-affinity read the unweighted BFS can't give (the
    {SSSP_TOPK} nearest parts to the hub, with hop-count x affinity
    trade-offs resolved by actual path length).  All-integer weights
    and distances; fixed round count makes the oracle an exactly
    unrolled CTE chain (the k-core/PPR convention — no
    convergence-dependent nondeterminism).  Scale shape: each round is
    frontier-set join adjacency (src-keyed equi-join) + a grouped min
    partial-aggregated map-side, eagerly localCheckpoint-ed so lineage
    stays one round deep; the 1-row hub argmax is the only driver
    scalar and the report is TakeOrdered.""",
)
def sssp_weighted_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:

    # Basket-array pair counts (round-10, guide §2.4): the generator
    # pipeline replaces the ok self-join and its two post-checkpoint
    # exchanges; identical (u, v, c) weights by construction.
    baskets = _copurchase_baskets(spark, sf_dir)
    pw = (
        _basket_pairs(baskets)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wexpr = (F.lit(1) + _idiv(F.lit(1_000_000), F.col("c"))).alias("w")
    e = (
        pw.select(F.col("u").alias("src"), F.col("v").alias("dst"), wexpr)
        .unionAll(
            pw.select(F.col("v").alias("src"), F.col("u").alias("dst"), wexpr)
        )
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hub = deg.orderBy(F.desc("d"), F.asc("src")).limit(1).collect()[0]["src"]
    d = (
        e.select(F.col("src").alias("v"))
        .where(F.col("v") == hub)
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(SSSP_ROUNDS):
        relaxed = d.join(e, d.v == e.src).select(
            F.col("dst").alias("v"), (F.col("dist") + F.col("w")).alias("dist")
        )
        d = (
            d.unionByName(relaxed)
            .groupBy("v")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return (
        d.orderBy(F.asc("dist"), F.asc("v"))
        .limit(SSSP_TOPK)
        .select(F.col("v").alias("vertex"), F.col("dist").alias("dist_micros"))
    )


# --- Degree assortativity ------------------------------------------------


@register(
    "degree_assortativity_copurchase",
    oracle=f"""
        WITH {_COPURCHASE_EDGE_CTES}, deg AS (
            SELECT x AS vertex, count(*)::BIGINT AS d
            FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
            GROUP BY x
        ), pairs AS (
            SELECT du.d AS x, dv.d AS y
            FROM edges e
            JOIN deg du ON e.u = du.vertex
            JOIN deg dv ON e.v = dv.vertex
            UNION ALL
            SELECT dv.d, du.d
            FROM edges e
            JOIN deg du ON e.u = du.vertex
            JOIN deg dv ON e.v = dv.vertex
        ), s AS (
            SELECT count(*)::BIGINT AS n,
                   sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                   sum(x * y)::BIGINT AS sxy,
                   sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
            FROM pairs
        )
        SELECT (SELECT count(*)::BIGINT FROM deg) AS n_vertices,
               (SELECT count(*)::BIGINT FROM edges) AS n_edges,
               round((n::DOUBLE * sxy - sx::DOUBLE * sy)
                     / sqrt((n::DOUBLE * sxx - sx::DOUBLE * sx)
                            * (n::DOUBLE * syy - sy::DOUBLE * sy)), 6)
                   AS assortativity
        FROM s
    """,
    doc="""Newman's degree-assortativity coefficient over the 1995
    co-purchase graph: Pearson correlation of endpoint degrees across
    the symmetrized edge list — positive means hub parts co-sell with
    hubs (social-network shape), negative means hubs bridge niche parts
    (technological/dependency shape).  The sign drives partitioning
    strategy for graph workloads: disassortative hubs are the skew keys
    worth salting.  Determinism: all five sufficient sums are exact
    int64 over integer degrees; the correlation is one identical IEEE
    expression.  Scale shape: degree table via one grouped count;
    endpoint degrees via two hash equi-joins; sums partial-aggregate to
    a single row — no windows, no driver data, a textbook two-shuffle
    graph statistic at any scale.""",
)
def degree_assortativity_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("vertex"))
        .unionAll(edges.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("d"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    both = (
        edges.join(du, edges.u == F.col("du.vertex"))
        .join(dv, edges.v == F.col("dv.vertex"))
        .select(F.col("du.d").alias("x"), F.col("dv.d").alias("y"))
    )
    pairs = both.unionAll(both.select(F.col("y").alias("x"), F.col("x").alias("y")))
    s = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nv = deg.agg(F.count("*").alias("n_vertices"))
    ne = edges.agg(F.count("*").alias("n_edges"))
    nd = F.col("n").cast("double")
    r = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return (
        F.broadcast(nv)
        .crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(s.select(F.round(r, 6).alias("assortativity"))))
    )


# --- Local clustering coefficient ----------------------------------------

_LCC_MIN_DEG = 5
_LCC_TOPK = 20


@register(
    "local_clustering_topk",
    oracle=f"""
        WITH {_COPURCHASE_EDGE_CTES}, tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM edges e1
            JOIN edges e2 ON e2.u = e1.v
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        ), membership AS (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ), tcnt AS (
            SELECT node, count(*)::BIGINT AS triangles
            FROM membership GROUP BY node
        ), deg AS (
            SELECT x AS node, count(*)::BIGINT AS degree
            FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
            GROUP BY x
        )
        SELECT d.node, d.degree,
               coalesce(t.triangles, 0)::BIGINT AS triangles,
               ((coalesce(t.triangles, 0) * 2 * 1000000)
                // (d.degree * (d.degree - 1))) AS lcc_micros
        FROM deg d LEFT JOIN tcnt t ON d.node = t.node
        WHERE d.degree >= {_LCC_MIN_DEG}
        ORDER BY lcc_micros DESC, triangles DESC, d.node
        LIMIT {_LCC_TOPK}
    """,
    doc=f"""Watts–Strogatz local clustering coefficient per vertex over
    the 1995 co-purchase graph — triangles(v) / (deg(v) choose 2), the
    per-node "how clique-like is this neighborhood" signal behind
    community seeding and recommender confidence — reported as the
    top-{_LCC_TOPK} among vertices with degree ≥ {_LCC_MIN_DEG}
    (coefficient in exact integer micros; ties break by triangle count
    then id).  The Spark side enumerates each triangle once via the
    id-ordered u<v<w three-way equi-join over the u<v edge list, then
    explodes the three memberships; per-node counts and degrees are
    grouped sums; the coefficient is an exact floor division.  Scale
    shape: triangle enumeration is the triangle-count join family
    (equi-joins only — at power-law scale the operator library's
    degree-oriented variant bounds wedge fan-out; the id-ordered form
    keeps the ORACLE identical, and the edge frame here is bounded);
    report is TakeOrdered top-{_LCC_TOPK}.""",
)
def local_clustering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    membership = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    tcnt = membership.groupBy("node").agg(F.count("*").alias("triangles"))
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    out = (
        deg.where(F.col("degree") >= _LCC_MIN_DEG)
        .join(tcnt, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            _idiv(
                F.coalesce(F.col("triangles"), F.lit(0)) * 2 * F.lit(1_000_000),
                F.col("degree") * (F.col("degree") - 1),
            ).alias("lcc_micros"),
        )
    )
    return out.orderBy(
        F.desc("lcc_micros"), F.desc("triangles"), "node"
    ).limit(_LCC_TOPK)


# --- modularity -----------------------------------------------------------------


@register(
    "modularity_brand_copurchase",
    oracle=f"""
        WITH {_COPURCHASE_EDGE_CTES}, lbl AS (
            SELECT p_partkey AS pk, p_brand AS c FROM part
        ), deg AS (
            SELECT x AS vertex, count(*)::BIGINT AS d
            FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
            GROUP BY x
        ), dc AS (
            SELECT lbl.c, (sum(deg.d))::BIGINT AS d_c
            FROM deg JOIN lbl ON deg.vertex = lbl.pk GROUP BY lbl.c
        ), agg AS (
            SELECT (SELECT count(*)::BIGINT FROM edges) AS m,
                   (SELECT count(*)::BIGINT FROM (
                        SELECT 1 FROM edges e
                        JOIN lbl a ON e.u = a.pk
                        JOIN lbl b ON e.v = b.pk
                        WHERE a.c = b.c)) AS intra,
                   (SELECT (sum(d_c * d_c))::BIGINT FROM dc) AS sum_dc2,
                   (SELECT count(*)::BIGINT FROM dc) AS n_comm,
                   (SELECT count(*)::BIGINT FROM deg) AS n_vertices
        )
        SELECT n_vertices, m AS n_edges, n_comm AS n_communities,
               ((intra * 1000000) // m) AS intra_share_micros,
               round(intra::DOUBLE / m
                     - sum_dc2::DOUBLE / (4.0 * m * m), 6) AS modularity
        FROM agg
    """,
    doc="""Newman–Girvan modularity of the part-brand partition over
    the 1995 co-purchase graph: Q = intra/m − Σ_c d_c²/(4m²) — above 0
    means same-brand parts co-sell more than a degree-preserving null
    model predicts (shard dedup/recommendation by brand); near 0 means
    the partition is noise.  This is the scalar every community
    detection (LPA, CC clusters) is judged by, computed on a KNOWN
    partition so both engines agree without iteration.  Determinism:
    intra-community edge count, per-community degree sums, and m are
    exact int64; Q is one fixed double expression.  Scale shape:
    reuses the checkpointed co-purchase edge list, one degree
    aggregate, two broadcast label joins (part dim), a |brands|-row
    rollup — no new heavy shuffle beyond the shared edge build.""",
)
def modularity_brand_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir)
    lbl = F.broadcast(
        part.select(F.col("p_partkey").alias("pk"), F.col("p_brand").alias("c"))
    )
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("vertex"))
        .unionAll(edges.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("d"))
    )
    dc = (
        deg.join(lbl, deg.vertex == lbl.pk)
        .groupBy("c")
        .agg(F.sum("d").alias("d_c"))
    )
    la = lbl.select(F.col("pk").alias("pa"), F.col("c").alias("ca"))
    lb = lbl.select(F.col("pk").alias("pb"), F.col("c").alias("cb"))
    intra = (
        edges.join(F.broadcast(la), edges.u == F.col("pa"))
        .join(F.broadcast(lb), edges.v == F.col("pb"))
        .where(F.col("ca") == F.col("cb"))
        .agg(F.count("*").alias("intra"))
    )
    m = edges.agg(F.count("*").alias("m"))
    nv = deg.agg(F.count("*").alias("n_vertices"))
    rollup = dc.agg(
        F.sum(F.col("d_c") * F.col("d_c")).alias("sum_dc2"),
        F.count("*").alias("n_comm"),
    )
    d = F.col
    return (
        m.crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(rollup))
        .crossJoin(F.broadcast(nv))
        .select(
            "n_vertices",
            d("m").alias("n_edges"),
            d("n_comm").alias("n_communities"),
            _idiv(d("intra") * 1_000_000, d("m")).alias("intra_share_micros"),
            F.round(
                d("intra").cast("double") / d("m")
                - d("sum_dc2").cast("double") / (F.lit(4.0) * d("m") * d("m")),
                6,
            ).alias("modularity"),
        )
    )
