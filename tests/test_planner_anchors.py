"""Round-7 anchor batch 4: the capacity-planning / optimizer-statistic
audits in the round-7 driver window.

Each replay re-derives the published closed form (Bloom '70 sizing,
the banded-minhash S-curve, Neyman '34 allocation, exact equi-depth
decile ranks) directly in Python/numpy on hand-built inputs, so a
formula mis-encoded identically in the engine and the DuckDB oracle
cannot survive.
"""

from __future__ import annotations

import datetime
import math

import numpy as np
import pytest


def test_bloom_sizing_matches_closed_form(spark, tmp_path):
    # Known exact NDVs: 7 customers, 5 parts, 3 suppliers.
    orders = [(i, 100 + (i % 7)) for i in range(20)]
    lines = [(i, 200 + (i % 5), 300 + (i % 3)) for i in range(30)]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long, l_suppkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    from scats_transis_kinesis_spark.plans.audits import (
        _BLOOM_FPPS,
        bloom_filter_sizing,
    )

    rows = bloom_filter_sizing(spark, str(tmp_path)).collect()
    ndv_want = {"o_custkey": 7, "l_partkey": 5, "l_suppkey": 3}
    assert len(rows) == len(ndv_want) * len(_BLOOM_FPPS)
    for r in rows:
        n = ndv_want[r["col_name"]]
        p = dict(_BLOOM_FPPS)[r["fpp_label"]]
        m = math.ceil(-(n * math.log(p)) / (math.log(2) ** 2))
        k = math.floor((m / n) * math.log(2) + 0.5)
        assert r["ndv"] == n
        assert r["m_bits"] == m, (r["col_name"], r["fpp_label"])
        assert r["k_hashes"] == k
        assert r["bits_per_key_milli"] == m * 1000 // n
        assert r["kib"] == m // 8192
    # Closed-form sanity: 1% fpp needs ~9.585 bits/key -> k ~ 7.
    one_pct = [r for r in rows if abs(dict(_BLOOM_FPPS)[r["fpp_label"]] - 0.01) < 1e-12]
    assert one_pct and all(9000 <= r["bits_per_key_milli"] <= 10300 for r in one_pct)
    assert all(r["k_hashes"] == 7 for r in one_pct)


def test_lsh_planner_matches_s_curve(spark):
    from scats_transis_kinesis_spark.plans.dedup import (
        _LSH_COMBOS,
        _LSH_SIMS,
        lsh_parameter_planner,
    )

    rows = lsh_parameter_planner(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == len(_LSH_COMBOS) * len(_LSH_SIMS)
    for r in rows:
        b, rr, sc = r["bands"], r["rows_per_band"], r["sim_centi"]
        s = sc / 100
        p = 1 - (1 - s**rr) ** b
        thr = (1 / b) ** (1 / rr)
        assert r["collide_prob_micros"] == pytest.approx(
            round(1_000_000 * p), abs=2
        ), (b, rr, sc)
        assert r["threshold_micros"] == pytest.approx(
            round(1_000_000 * thr), abs=2
        ), (b, rr)
    # S-curve sanity straight from the formula: for the 4x8
    # precision-leaning design the curve must be LOW at 0.5 and HIGH at
    # 0.9, and the 8x4 recall design must dominate it everywhere.
    by = {(r["bands"], r["rows_per_band"], r["sim_centi"]): r for r in rows}
    assert by[(4, 8, 50)]["collide_prob_micros"] < 20_000
    assert by[(4, 8, 90)]["collide_prob_micros"] > 800_000
    for sc in _LSH_SIMS:
        assert (
            by[(8, 4, sc)]["collide_prob_micros"]
            >= by[(4, 8, sc)]["collide_prob_micros"]
        )


def test_neyman_allocation_matches_replay(spark, tmp_path):
    # Three strata with deliberately different sizes AND spreads, plus
    # a single-document stratum that must be EXCLUDED (sigma undefined).
    strata = {
        "en": [100, 200, 300, 400, 500, 600],   # large n, wide sigma
        "de": [250, 255, 260, 245],             # mid n, tight sigma
        "fr": [100, 900],                       # tiny n, huge sigma
        "xx": [123],                            # n=1 -> excluded
    }
    rows = []
    did = 0
    for lang, lengths in strata.items():
        for L in lengths:
            did += 1
            rows.append((did, lang, L))
    spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.sampling import (
        _NEYMAN_BUDGET,
        neyman_allocation_plan,
    )

    got = {r["lang"]: r for r in neyman_allocation_plan(spark, str(tmp_path)).collect()}
    assert set(got) == {"en", "de", "fr"}  # xx excluded

    w = {
        lang: math.floor(
            1_000_000 * len(v) * float(np.std(v, ddof=1)) + 0.5
        )
        for lang, v in strata.items()
        if len(v) > 1
    }
    tw = sum(w.values())
    for lang, wm in w.items():
        r = got[lang]
        assert r["n_h"] == len(strata[lang])
        assert r["share_micros"] == wm * 1_000_000 // tw, lang
        assert r["alloc_floor"] == wm * _NEYMAN_BUDGET // tw, lang
    # Allocation sanity: n_h·sigma_h ranks fr (2 docs, sigma ~566) just
    # above en (6 docs, sigma ~187), both far above the tight de stratum
    # — allocation follows SPREAD, not headcount.
    assert w["fr"] > w["en"] > 20 * w["de"]
    assert sum(r["alloc_floor"] for r in got.values()) <= _NEYMAN_BUDGET


def test_equidepth_deciles_match_exact_rank_replay(spark, tmp_path):
    # 40 prices with heavy duplication (value 10.00 appears 12 times)
    # so several decile ranks land INSIDE one duplicated value — the
    # counts-not-rows semantics an approximate histogram gets wrong.
    prices = (
        [10.00] * 12 + [20.00] * 5 + [30.00] * 8 + [40.00] * 3
        + [50.00] * 6 + [60.00] * 2 + [70.00] * 4
    )
    rows = [(i, float(p)) for i, p in enumerate(prices)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_extendedprice double"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    from scats_transis_kinesis_spark.plans.audits import equidepth_histogram_stats

    got = [
        (r["decile"], r["k_rank"], r["boundary_cents"])
        for r in equidepth_histogram_stats(spark, str(tmp_path)).collect()
    ]

    vals = sorted(round(p * 100) for p in prices)
    n = len(vals)
    want = []
    for q in range(1, 10):
        k = (q * n + 9) // 10
        want.append((q, k, vals[k - 1]))
    assert got == want
    # Replay sanity: deciles 1-3 all sit inside the duplicated 10.00
    # run (k = 4, 8, 12 <= 12 copies).
    assert [b for _, _, b in want[:3]] == [1000, 1000, 1000]
