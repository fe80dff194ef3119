"""Plain-Python replay anchors for the iterative-graph family (round 7).

These queries are oracle-checked at three SFs, but oracle and engine
SHARE the unrolled iteration definition — a wrong damping constant,
normalization fold, or switch-penalty placement encoded on both sides
would pass the compare.  Each anchor here replays the published
recurrence independently in plain Python on a tiny hand-built input and
pins the engine output to it, in the style of ``test_holt_anchor.py``:

- ``pagerank``: weighted damped recurrence with sink-leak semantics
  (rank entering a no-out-edge node leaks; it is NOT redistributed).
- ``pagerank_personalized``: teleport mass confined to the seed set,
  rank_0 = the teleport distribution.
- ``hits_hubs_authorities``: Kleinberg mutual reinforcement with the
  exact integer-micros max-normalization ``(raw·1e6) div max``.
- ``burst_detection_daily``: two-state min-plus Viterbi over
  integer-micro Poisson NLL day costs, including the calendar gap-fill
  (a missing day participates as c=0).
"""

from __future__ import annotations

import datetime
import math

import pytest

DAMPING = 0.85


# --- plain-Python replays ---------------------------------------------------


def _replay_pagerank(edges, iterations=3, d=DAMPING, tele=None):
    """edges: list of (src, dst, weight).  ``tele`` maps node ->
    teleport mass; None means the classic uniform 1/N (and a uniform
    rank_0), a dict means personalized (rank_0 = tele)."""
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    out_tot = {}
    for u, _, w in edges:
        out_tot[u] = out_tot.get(u, 0.0) + w
    norm = [(u, v, w / out_tot[u]) for u, v, w in edges]
    if tele is None:
        tele = {n: 1.0 / len(nodes) for n in nodes}
        rank = dict(tele)
    else:
        tele = {n: tele.get(n, 0.0) for n in nodes}
        rank = dict(tele)
    for _ in range(iterations):
        acc = {n: 0.0 for n in nodes}
        for u, v, wn in norm:
            acc[v] += rank[u] * wn
        rank = {n: (1 - d) * tele[n] + d * acc[n] for n in nodes}
    return rank


def _replay_hits(edges, rounds=2):
    """edges: set of (customer, part).  Returns (auth_micros,
    hub_micros) dicts after ``rounds`` of the integer-micros
    max-normalized recurrence."""
    custs = sorted({c for c, _ in edges})
    parts = sorted({p for _, p in edges})
    hub = {c: 1_000_000 for c in custs}
    auth = {}
    for _ in range(rounds):
        raw_a = {p: sum(hub[c] for c, q in edges if q == p) for p in parts}
        m = max(raw_a.values())
        auth = {p: (raw_a[p] * 1_000_000) // m for p in parts}
        raw_h = {c: sum(auth[p] for d, p in edges if d == c) for c in custs}
        m = max(raw_h.values())
        hub = {c: (raw_h[c] * 1_000_000) // m for c in custs}
    return auth, hub


def _replay_burst(counts, gamma=500_000, factor=2):
    """counts: per-day event counts INCLUDING gap days (c=0).  Returns
    a list of (margin_micros, is_burst) per day from the min-plus
    Viterbi over half-up-rounded integer-micro Poisson NLL costs."""
    r0 = sum(counts) / len(counts)
    r1 = factor * r0

    def cost(c, r):
        return math.floor(1_000_000 * (r - c * math.log(r)) + 0.5)

    out = []
    v0 = cost(counts[0], r0)
    v1 = cost(counts[0], r1) + gamma
    out.append((v0 - v1, v0 > v1))
    for c in counts[1:]:
        n0 = cost(c, r0) + min(v0, v1 + gamma)
        n1 = cost(c, r1) + min(v1, v0 + gamma)
        v0, v1 = n0, n1
        out.append((v0 - v1, v0 > v1))
    return out


# --- anchors ----------------------------------------------------------------


def test_pagerank_matches_replay_including_sink_leak(spark):
    from scats_transis_kinesis_spark.operators.graph import pagerank

    # D is a sink (no out-edges): its rank mass must LEAK (total mass
    # drops below 1), not be redistributed — the documented contract.
    # A's out-weights 1:3 pin the weighted normalization.
    edges = [("A", "B", 1.0), ("A", "C", 3.0), ("B", "C", 2.0), ("C", "D", 1.0)]
    df = spark.createDataFrame(edges, "src string, dst string, weight double")
    got = {r["node"]: r["rank"] for r in pagerank(df).collect()}

    want = _replay_pagerank(edges)
    assert set(got) == set(want) == {"A", "B", "C", "D"}
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12), n
    # Sink-leak sanity: mass is strictly below 1 after one round.
    assert sum(got.values()) < 1.0


def test_personalized_pagerank_matches_replay(spark):
    from scats_transis_kinesis_spark.operators.graph import pagerank_personalized

    edges = [
        ("A", "B", 1.0),
        ("B", "A", 1.0),
        ("B", "C", 1.0),
        ("C", "A", 2.0),
        ("C", "D", 2.0),
        ("D", "C", 1.0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, weight double")
    seeds = spark.createDataFrame([("A",), ("C",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank_personalized(df, seeds).collect()
    }

    want = _replay_pagerank(edges, tele={"A": 0.5, "C": 0.5})
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12), n
    # Teleport sanity: every seed keeps at least its own teleport floor
    # (1-d)·1/|S|, which no recurrence without personalization gives it.
    floor = (1 - DAMPING) * 0.5
    assert got["A"] >= floor and got["C"] >= floor


def test_hits_matches_integer_micros_replay(spark, tmp_path):
    # Bipartite 1995 purchase graph: c1-{101,102}, c2-{102,103}, c3-{102}.
    # Part 102 is bought by every hub -> top authority; the asymmetric
    # basket sizes force non-trivial div-normalized micros in round 2.
    pairs = [(1, 101), (1, 102), (2, 102), (2, 103), (3, 102)]
    orders = [
        (ck, ck * 10, datetime.datetime(1995, 6, 1))  # all inside 1995
        for ck in {c for c, _ in pairs}
    ]
    # One order per customer; line rows attach parts to that order.
    lines = [(c * 10, p) for c, p in pairs]
    spark.createDataFrame(
        [(ok, ck, d) for ck, ok, d in orders],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    from scats_transis_kinesis_spark.plans.graph import hits_hubs_authorities

    rows = hits_hubs_authorities(spark, str(tmp_path)).collect()
    got_auth = {
        r["node_id"]: r["score_micros"] for r in rows if r["role"] == "authority"
    }
    got_hub = {r["node_id"]: r["score_micros"] for r in rows if r["role"] == "hub"}

    want_auth, want_hub = _replay_hits(set(pairs))
    assert got_auth == want_auth
    assert got_hub == want_hub
    # Structure sanity from the replay itself: 102 dominates, and the
    # 2-part hubs c1/c2 tie above the 1-part hub c3.
    assert want_auth[102] == 1_000_000
    assert want_hub[1] == want_hub[2] == 1_000_000
    assert want_hub[3] < 1_000_000


def test_burst_viterbi_matches_minplus_replay(spark, tmp_path):
    # 9-day calendar with day 4 MISSING from the data (gap-fill must
    # inject c=0) and a 2-day spike that the switch penalty gamma turns
    # into a contiguous burst rather than two isolated flips.
    counts = [1, 2, 1, 0, 1, 9, 11, 1, 2]
    rows = []
    uid = 0
    for d, c in enumerate(counts):
        ts = datetime.datetime(2024, 5, 1) + datetime.timedelta(days=d)
        for _ in range(c):
            uid += 1
            rows.append((uid, "click", ts))
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.events import burst_detection_daily

    got = sorted(
        (r["day"], r["burst_margin_micros"], r["is_burst"])
        for r in burst_detection_daily(spark, str(tmp_path)).collect()
    )
    assert len(got) == 9  # the c=0 day is present in the output grid

    want = _replay_burst(counts)
    for i, (day, margin, is_burst) in enumerate(got):
        assert day == datetime.datetime(2024, 5, 1) + datetime.timedelta(days=i)
        assert (margin, is_burst) == want[i], f"day {i}"
    # The replay itself must show the expected shape: burst exactly on
    # the spike days, nowhere else.
    assert [b for _, b in want] == [
        False, False, False, False, False, True, True, False, False,
    ]


def test_link_prediction_survives_degree_one_vertex(spark, tmp_path):
    """Regression: the Adamic-Adar term 1e6/ln(deg(w)) is attached to
    the FULL adjacency before the wedge join, so a degree-1 vertex
    (ln 1 = 0) must not crash even when the plan evaluates the
    projection before the join prunes it — under local[7]/AQE at
    sf0.01 the unguarded form raised ANSI DIVIDE_BY_ZERO while
    local[32] happened to defer the projection and passed.  Part 104
    below is bought exactly once: degree 1, never a wedge center."""
    baskets = {1: [101, 102, 103], 2: [101, 102], 3: [103, 104]}
    orders = [
        (ck * 10, ck, datetime.datetime(1995, 6, 1)) for ck in baskets
    ]
    lines = [(ck * 10, p) for ck, parts in baskets.items() for p in parts]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderdate timestamp"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    from scats_transis_kinesis_spark.plans.graph import link_prediction_scores

    rows = link_prediction_scores(spark, str(tmp_path)).collect()
    got = [
        (r["u"], r["v"], r["common_n"], r["aa_micros"], r["jaccard"])
        for r in rows
    ]
    # Plain-Python replay.  Edges: 101-102, 101-103, 102-103 (c1/c2),
    # 103-104 (c3).  Non-adjacent pairs sharing a neighbor: (101,104)
    # and (102,104), both through center 103 (degree 3).  Jaccard =
    # 1 / (2 + 1 - 1) = 0.5 for both; ties break on u.
    aa = math.floor(1e6 / math.log(3) + 0.5)  # F.round is HALF_UP
    assert got == [
        (101, 104, 1, aa, 0.5),
        (102, 104, 1, aa, 0.5),
    ]
