"""Round-7 anchor batch 2: k-core peeling cascade, bounded-round
weighted SSSP, and the integer power-iteration PCA.

Same rationale as ``test_graph_anchors.py``: the oracle unrolls the
identical fixed-round recurrence, so only an independent plain-Python
replay can catch a definition encoded wrong on both sides (wrong
degree recount timing in the peel, a relaxation round miscounted, a
normalization fold misplaced in the power iteration).
"""

from __future__ import annotations

import datetime
import math

import numpy as np
import pytest


def _replay_kcore(edges, k, rounds):
    """Synchronous fixed-round peel -> {vertex: degree in the final
    surviving subgraph}."""
    alive = list(edges)
    for _ in range(rounds):
        deg = {}
        for u, v in alive:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {x for x, d in deg.items() if d >= k}
        alive = [(u, v) for u, v in alive if u in keep and v in keep]
    out = {}
    for u, v in alive:
        out[u] = out.get(u, 0) + 1
        out[v] = out.get(v, 0) + 1
    return out


def test_kcore_peel_matches_cascade_replay(spark):
    from scats_transis_kinesis_spark.operators.graph import kcore_peel

    # Square A-B-C-D (all degree 2, stable at k=2) with a tail
    # D-E-F-G: G peels in round 1, which drops F below k in round 2,
    # which drops E in round 3 — a 3-step cascade that pins the
    # "recount degrees on the SURVIVING subgraph each round" rule.
    edges = [
        ("A", "B"), ("B", "C"), ("C", "D"), ("D", "A"),
        ("D", "E"), ("E", "F"), ("F", "G"),
    ]
    df = spark.createDataFrame(edges, "u string, v string")

    got = {
        r["vertex"]: r["core_degree"]
        for r in kcore_peel(df, k=2, rounds=3).collect()
    }
    want = _replay_kcore(edges, k=2, rounds=3)
    assert got == want
    # The cascade must have consumed the whole tail but kept the square
    # (and the D-E stub edge dies with E).
    assert want == {"A": 2, "B": 2, "C": 2, "D": 2}

    # One round fewer keeps E (its degree only drops after F peels):
    got2 = {
        r["vertex"]: r["core_degree"]
        for r in kcore_peel(df, k=2, rounds=2).collect()
    }
    want2 = _replay_kcore(edges, k=2, rounds=2)
    assert got2 == want2
    assert "E" in want2 and "F" not in want2


def test_sssp_matches_bellman_ford_replay(spark, tmp_path):
    # Baskets over parts 1..8.  (1,2) co-occurs twice (short edge);
    # part 8 sits 5 hops from the hub, past the 4 relaxation rounds,
    # so it must be ABSENT from the result — the bounded-round
    # contract, which a convergence-driven replay would miss.
    baskets = {
        10: [1, 2],
        20: [1, 3],
        30: [1, 4],
        40: [2, 3],
        50: [4, 5],
        60: [5, 6],
        70: [1, 2],
        80: [6, 7],
        90: [7, 8],
    }
    orders = [
        (ok, datetime.datetime(1995, 4, 1)) for ok in baskets
    ]
    lines = [(ok, pk) for ok, pks in baskets.items() for pk in pks]
    spark.createDataFrame(
        orders, "o_orderkey long, o_orderdate timestamp"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    from scats_transis_kinesis_spark.plans.graph import (
        SSSP_ROUNDS,
        sssp_weighted_copurchase,
    )

    got = [
        (r["vertex"], r["dist_micros"])
        for r in sssp_weighted_copurchase(spark, str(tmp_path)).collect()
    ]

    # --- replay ---
    pair_count = {}
    for pks in baskets.values():
        ps = sorted(set(pks))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_count[(ps[i], ps[j])] = pair_count.get((ps[i], ps[j]), 0) + 1
    adj = {}
    for (u, v), c in pair_count.items():
        w = 1 + 1_000_000 // c
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    deg = {u: len(nbrs) for u, nbrs in adj.items()}
    hub = min(deg, key=lambda u: (-deg[u], u))
    dist = {hub: 0}
    for _ in range(SSSP_ROUNDS):
        new = dict(dist)
        for u, du in dist.items():
            for v, w in adj[u]:
                if du + w < new.get(v, float("inf")):
                    new[v] = du + w
        dist = new
    want = sorted(dist.items(), key=lambda kv: (kv[1], kv[0]))[:50]
    assert got == want
    # Replay sanity: hub is part 1, the double co-purchase is the
    # cheapest edge, and part 8 (5 hops away) is not reached.
    assert hub == 1
    assert dict(want)[2] == 1 + 500_000
    assert 8 not in dict(want)
    assert 7 in dict(want)  # exactly 4 hops -> reached in round 4



@pytest.mark.parametrize(
    "name, want",
    [
        # hop 0 is the hub alone; hop 1 its three neighbors 9, 10, 11.
        ("bfs_hops_from_hub", {(0, 1, 3), (1, 3, 30)}),
        # the hub at distance 0, each neighbor one single-basket edge away.
        (
            "sssp_weighted_copurchase",
            {(3, 0), (9, 1_000_001), (10, 1_000_001), (11, 1_000_001)},
        ),
    ],
)
def test_hub_tie_breaks_on_lower_part_id(spark, tmp_path, name, want):
    # Parts 3 and 5 tie on degree 3 (two disjoint stars; part 1 sits in
    # a lone pair).  The hub is the highest degree, then the LOWER id:
    # part 3, although part 5's baskets come first.
    baskets = {
        10: [5, 6],
        20: [5, 7],
        30: [5, 8],
        40: [3, 9],
        50: [3, 10],
        60: [3, 11],
        70: [1, 2],
    }
    orders = [(ok, datetime.datetime(1995, 4, 1)) for ok in baskets]
    lines = [(ok, pk) for ok, pks in baskets.items() for pk in pks]
    spark.createDataFrame(
        orders, "o_orderkey long, o_orderdate timestamp"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    from scats_transis_kinesis_spark.plans.registry import REGISTRY

    got = {tuple(r) for r in REGISTRY[name].fn(spark, str(tmp_path)).collect()}
    assert got == want

def _round_half(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def test_pca_power_iteration_matches_integer_replay(spark, tmp_path):
    # 3 vectors, dim 4, float32-exact components (multiples of 0.125);
    # n=3 keeps every covariance cell's fraction over denominator 9, so
    # no 1000*cov value can land on an exact .5 rounding boundary.
    vecs = [
        (0, [2.0, 0.25, 0.125, 1.0], 0),
        (1, [4.0, 0.5, 0.25, 1.125], 0),
        (2, [6.0, 0.125, 0.375, 1.25], 1),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    from scats_transis_kinesis_spark.plans.retrieval import (
        _PCA_ROUNDS,
        pca_top_component,
    )

    rows = pca_top_component(spark, str(tmp_path)).collect()

    # --- replay: exact-int covariance + max-norm power iteration ---
    n = len(vecs)
    dims = 4
    mv = [
        [_round_half(float(np.float32(x)) * 1000) for x in emb]
        for _, emb, _ in vecs
    ]
    ti = [sum(row[i] for row in mv) for i in range(dims)]
    cv = [
        [
            _round_half(
                1000
                * (
                    (
                        sum(row[i] * row[j] for row in mv)
                        - ti[i] * ti[j] / n
                    )
                    / n
                )
            )
            for j in range(dims)
        ]
        for i in range(dims)
    ]
    v = [1000] * dims

    def matvec(vec):
        return [sum(cv[i][j] * vec[j] for j in range(dims)) for i in range(dims)]

    for _ in range(_PCA_ROUNDS):
        w = matvec(v)
        mx = max(abs(x) for x in w)
        v = [
            (-1 if x < 0 else 1) * (abs(x) * 1000 // mx if mx > 0 else 0)
            for x in w
        ]
    w_fin = matvec(v)
    a = sum(v[i] * w_fin[i] for i in range(dims))
    dd = sum(x * x for x in v)
    tv = sum(cv[i][i] for i in range(dims))
    lam = a // dd
    evr = lam * 1_000_000 // tv

    assert [r["dim"] for r in rows] == [1, 2, 3, 4]
    assert [r["loading_milli"] for r in rows] == v
    assert all(r["lambda_milli"] == lam for r in rows)
    assert all(r["evr_micros"] == evr for r in rows)
    # Replay sanity: the spread-out first dimension dominates the top
    # component and the eigenvalue explains most of the trace.
    assert abs(v[0]) == 1000
    assert evr > 900_000
