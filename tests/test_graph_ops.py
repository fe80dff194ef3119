"""Unit tests for the round-4 graph/skyline operators on tiny
hand-checkable inputs — the oracle gate replays the same algorithm in
SQL, so these pin the semantics against an INDEPENDENT ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from scats_transis_kinesis_spark.operators.graph import (
    lpa_communities,
    triangle_count,
)
from scats_transis_kinesis_spark.operators.relational import skyline_2d


def test_triangle_count_k4_plus_cycle(spark):
    # K4 on {1,2,3,4} has C(4,3)=4 triangles; a 5-cycle on {10..14} has
    # none.  9 vertices, 11 edges, 4 triangles.
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    cyc = [(10, 11), (11, 12), (12, 13), (13, 14), (10, 14)]
    edges = spark.createDataFrame(k4 + cyc, "u long, v long")
    row = triangle_count(edges).collect()[0]
    assert (row["n_vertices"], row["n_edges"], row["n_triangles"]) == (9, 11, 4)


def test_triangle_count_star_has_none(spark):
    # A star (hub 0 to 8 leaves) has no triangles — and under degree
    # orientation the hub (highest degree) emits NO wedges at all.
    edges = spark.createDataFrame([(0, i) for i in range(1, 9)], "u long, v long")
    row = triangle_count(edges).collect()[0]
    assert (row["n_vertices"], row["n_edges"], row["n_triangles"]) == (9, 8, 0)


def test_lpa_two_rounds_disjoint_triangles(spark):
    # Hand-computed synchronous 2-round LPA from identity labels on two
    # disjoint triangles: round 1 gives each vertex its min neighbor id;
    # round 2 collapses each triangle onto its min vertex id.
    tri1 = [(1, 2), (1, 3), (2, 3)]
    tri2 = [(10, 11), (10, 12), (11, 12)]
    edges = spark.createDataFrame(tri1 + tri2, "u long, v long")
    got = {
        r["vertex"]: r["community"] for r in lpa_communities(edges, rounds=2).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_skyline_keeps_nondominated_and_value_ties(spark):
    # (day, val): frontier keeps day 1 (earliest), rising maxima, and
    # the day-4 TIE with the earlier max (domination must be strict in
    # BOTH dimensions); day 3 is dominated by day 2.
    rows = [(1, 10.0), (2, 12.0), (3, 9.0), (4, 12.0), (5, 15.0)]
    df = spark.createDataFrame(rows, "day long, val double").withColumn(
        "bucket", (F.col("day") / 2).cast("long")
    )
    got = sorted(
        r["day"]
        for r in skyline_2d(
            df, order_col="day", value_col="val", bucket_col="bucket"
        ).collect()
    )
    assert got == [1, 2, 4, 5]


def test_skyline_same_day_rows_do_not_dominate_each_other(spark):
    # Two rows on the SAME day never dominate one another (strictly
    # earlier required), so both survive when nothing earlier beats them.
    rows = [(1, 10.0), (1, 20.0), (2, 5.0)]
    df = spark.createDataFrame(rows, "day long, val double").withColumn(
        "bucket", F.lit(0).cast("long")
    )
    got = sorted(
        (r["day"], r["val"])
        for r in skyline_2d(
            df, order_col="day", value_col="val", bucket_col="bucket"
        ).collect()
    )
    assert got == [(1, 10.0), (1, 20.0)]


def test_triangle_count_randomized_parity_with_bruteforce(spark):
    # Random G(n, p) graphs vs an itertools brute force — the unit
    # cases pin chosen shapes; this pins arbitrary ones (the
    # asof-join randomized-parity pattern).
    import itertools
    import random

    rng = random.Random(42)
    for trial in range(4):
        n = rng.randint(6, 14)
        p = rng.choice([0.2, 0.4, 0.6])
        edges = [
            (u, v)
            for u, v in itertools.combinations(range(n), 2)
            if rng.random() < p
        ]
        if not edges:
            continue
        adj = set(edges)
        expected = sum(
            1
            for a, b, c in itertools.combinations(range(n), 3)
            if (a, b) in adj and (b, c) in adj and (a, c) in adj
        )
        vertices = {x for e in edges for x in e}
        row = triangle_count(
            spark.createDataFrame(edges, "u long, v long")
        ).collect()[0]
        assert row["n_triangles"] == expected, (trial, edges)
        assert row["n_vertices"] == len(vertices)
        assert row["n_edges"] == len(edges)


def test_skyline_randomized_parity_with_bruteforce(spark):
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(5, 40)
        width = rng.choice([1, 3, 10])
        rows = [
            (i, rng.randint(0, 20), float(rng.randint(0, 50)))
            for i in range(n)
        ]
        expected = sorted(
            rid
            for rid, d, v in rows
            if not any(d2 < d and v2 > v for _, d2, v2 in rows)
        )
        df = spark.createDataFrame(
            rows, "rid long, day long, val double"
        ).withColumn("bucket", (F.col("day") / width).cast("long"))
        got = sorted(
            r["rid"]
            for r in skyline_2d(
                df, order_col="day", value_col="val", bucket_col="bucket"
            ).collect()
        )
        assert got == expected, (trial, width, rows)


def test_connected_components_randomized_parity_with_union_find(spark):
    """Random G(n, p) graphs (plus isolated self-pair singletons) vs a
    plain union-find — the chain/island unit cases pin chosen shapes,
    this pins arbitrary ones, including the min-label contract
    (cluster_id == min member id of the component)."""
    import itertools
    import random

    from scats_transis_kinesis_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(8, 20)
        p = rng.choice([0.05, 0.15, 0.3])
        edges = [
            (u, v)
            for u, v in itertools.combinations(range(n), 2)
            if rng.random() < p
        ]
        # A couple of vertices that appear only as reflexive pairs —
        # singletons must survive the star rewrite's self-loop filter.
        singles = [(n + 1, n + 1), (n + 2, n + 2)]
        rows = edges + singles
        if not rows:
            continue

        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for u, v in rows:
            union(u, v)
        expected = {(x, find(x)) for x in parent}

        got = {
            (r["member_id"], r["cluster_id"])
            for r in connected_components(
                spark.createDataFrame(rows, "id_a long, id_b long")
            ).collect()
        }
        assert got == expected, (trial, sorted(rows))


def test_pagerank_personalized_path_graph_hand_computed(spark):
    # a→b, seed {a}: tele(a)=1, tele(b)=0.  r0=(1,0);
    # every round a = 0.15·1 (no in-edges), b = 0.85·rank(a) —
    # r3: a = 0.15, b = 0.85·0.15 = 0.1275.
    from scats_transis_kinesis_spark.operators.graph import (
        pagerank_personalized,
    )

    edges = spark.createDataFrame(
        [("a", "b", 1.0)], "src string, dst string, weight double"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: round(r["rank"], 6)
        for r in pagerank_personalized(edges, seeds).collect()
    }
    assert got == {"a": 0.15, "b": 0.1275}


def test_kcore_peel_cascades_and_keeps_cycle(spark):
    """Hand-checked graph: a 5-cycle (every vertex degree 2 — a true
    2-core, survives any number of rounds) with a pendant chain
    10-11-12 hanging off vertex 0.  k=2 peeling: round 1 drops the
    chain tip (12 has degree 1... chain: 0-10, 10-11, 11-12: 12 has
    degree 1, dropped; 11 falls to 1), round 2 drops 11, round 3
    drops 10 — the cascade the fixed rounds must reproduce — while
    the cycle keeps all five vertices at degree exactly 2."""
    from scats_transis_kinesis_spark.operators.graph import kcore_peel

    cycle = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 4)]
    chain = [(0, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(cycle + chain, "u long, v long")

    got = {
        r["vertex"]: r["core_degree"]
        for r in kcore_peel(edges, k=2, rounds=3).collect()
    }
    assert got == {0: 2, 1: 2, 2: 2, 3: 2, 4: 2}

    # One round fewer leaves the last chain vertex still attached.
    partial = {
        r["vertex"]: r["core_degree"]
        for r in kcore_peel(edges, k=2, rounds=2).collect()
    }
    assert partial == {0: 3, 1: 2, 2: 2, 3: 2, 4: 2, 10: 1}
