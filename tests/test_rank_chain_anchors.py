"""Round-7 anchor batch 10: global-midrank and integer-chain recurrences.

- ``kruskal_wallis_priority_spend``: H with the tie correction
  replayed from hand-built group samples with heavy cross-group ties
  (the engine computes midranks hierarchically over range buckets; the
  replay sorts the 30-value list directly).
- ``markov_stationary_events``: the floored integer-micros power
  iteration replayed edge-by-edge, including a state with no inbound
  transitions (must report exactly 0) and the documented per-term
  floor losses.
"""

from __future__ import annotations

import datetime
import math

import pytest

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PRIO_SHORT = ("urgent", "high", "medium", "notspec", "low")


def test_kruskal_wallis_matches_midrank_replay(spark, tmp_path):
    # 5 groups, 30 values, with value 100 shared by three groups and
    # value 300 duplicated within one group -> real tie correction.
    groups = {
        "1-URGENT": [100, 150, 200, 250, 300, 300],
        "2-HIGH": [100, 120, 180, 220, 260],
        "3-MEDIUM": [100, 130, 170, 210, 330, 400],
        "4-NOT SPECIFIED": [90, 110, 140, 160, 190, 230, 270],
        "5-LOW": [500, 550, 600, 650, 700, 750],
    }
    rows = [
        (grp, float(v)) for grp, vals in groups.items() for v in vals
    ]
    spark.createDataFrame(
        rows, "o_orderpriority string, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.stats import (
        _KW_CRIT,
        kruskal_wallis_priority_spend,
    )

    row = kruskal_wallis_priority_spend(spark, str(tmp_path)).collect()[0]

    allv = sorted(v for vals in groups.values() for v in vals)
    n = len(allv)
    # 2x midrank of value v: 2*|below| + |ties| + 1 (exact integer)
    r2 = {}
    for v in set(allv):
        below = sum(1 for x in allv if x < v)
        ties = allv.count(v)
        r2[v] = 2 * below + ties + 1
    r2j = {g: sum(r2[v] for v in vals) for g, vals in groups.items()}
    nj = {g: len(vals) for g, vals in groups.items()}
    s_term = sum((r2j[g] ** 2) / (4 * nj[g]) for g in PRIORITIES)
    tie = sum(
        allv.count(v) ** 3 - allv.count(v) for v in set(allv)
    )
    h = ((12.0 / (n * (n + 1))) * s_term - 3.0 * (n + 1)) / (
        1 - tie / (n**3 - n)
    )

    assert row["n_total"] == n == 30
    assert row["df"] == 4
    assert row["h_stat"] == pytest.approx(round(h, 6), abs=2e-6)
    assert row["reject_95"] == (h > _KW_CRIT)
    for g, s in zip(PRIORITIES, PRIO_SHORT):
        assert row[f"mean_rank_{s}"] == pytest.approx(
            round((r2j[g] / 2) / nj[g], 4), abs=1e-4
        ), g
    # The 5-LOW group owns the top 6 ranks, so H must clear the 95%
    # critical value on this data.
    assert h > _KW_CRIT
    assert tie > 0  # the planted ties really fired


def test_markov_stationary_matches_floored_power_iteration(spark, tmp_path):
    # Chains: 'start' transitions out but NOTHING transitions into it,
    # so after round 1 its mass is exactly 0 (the coalesce-to-zero
    # path); 'view'/'click' trade mass; 'buy' absorbs a trickle.
    seqs = [
        (1, ["start", "view", "click", "view", "click", "buy"]),
        (2, ["start", "view", "view", "click", "view"]),
        (3, ["view", "click", "click", "buy", "buy"]),
    ]
    rows = []
    eid = 0
    for uid, chain in seqs:
        for i, et in enumerate(chain):
            eid += 1
            rows.append(
                (eid, uid, et, datetime.datetime(2024, 6, 1)
                 + datetime.timedelta(minutes=i))
            )
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.graph import (
        MARKOV_ROUNDS,
        markov_stationary_events,
    )

    got = {
        r["event_type"]: r["stationary_micros"]
        for r in markov_stationary_events(spark, str(tmp_path)).collect()
    }

    # --- replay ---
    counts = {}
    for _, chain in seqs:
        for a, b in zip(chain, chain[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    tot = {}
    for (a, _), c in counts.items():
        tot[a] = tot.get(a, 0) + c
    p = {(a, b): c * 1_000_000 // tot[a] for (a, b), c in counts.items()}
    states = sorted({et for _, chain in seqs for et in chain})
    k = len(states)
    v = {s: 1_000_000 // k for s in states}
    for _ in range(MARKOV_ROUNDS):
        nxt = {s: 0 for s in states}
        for (a, b), pm in p.items():
            nxt[b] += v[a] * pm // 1_000_000
        v = nxt
    assert got == v
    # Structure sanity from the replay: the source-only state is
    # exactly zero, every state is present, and mass (minus floor
    # losses) stays below the initial total.
    assert v["start"] == 0
    assert set(v) == {"buy", "click", "start", "view"}
    assert sum(v.values()) <= 1_000_000
    assert v["view"] > 0 and v["click"] > 0 and v["buy"] > 0
