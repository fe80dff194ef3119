"""Round-7 anchor batch 6: STL-style decomposition and the per-node
graph-shape statistics.

- ``trend_seasonal_decompose`` + ``seasonal_strength_audit``: the
  centered moving-average / hour-of-day-mean decomposition and
  Hyndman's strength ratio replayed row-by-row in plain Python
  (including the clamped window edges and the micros quantization
  between the two stages).
- ``degree_assortativity_copurchase``: Newman's coefficient replayed
  as plain Pearson over the symmetrized endpoint-degree pairs.
- ``local_clustering_topk``: Watts–Strogatz coefficient replayed by
  brute-force triangle enumeration, including the min-degree filter
  and the zero-triangle hub.
"""

from __future__ import annotations

import datetime
import math

import pytest


def _round_half(x: float, nd: int) -> float:
    scale = 10**nd
    v = x * scale
    r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
    return r / scale


def _write_events(spark, tmp_path, hourly_counts):
    rows = []
    uid = 0
    for etype, counts in hourly_counts.items():
        for i, c in enumerate(counts):
            ts = datetime.datetime(2024, 2, 1) + datetime.timedelta(hours=i)
            for _ in range(c):
                uid += 1
                rows.append((uid, etype, ts))
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    ).write.parquet(f"{tmp_path}/events.parquet")


def _replay_decompose(counts, half=12):
    """-> list of (hour_index, observed, trend, seasonal, residual)."""
    n = len(counts)
    trend = [
        _round_half(
            sum(counts[max(0, i - half) : i + half + 1])
            / len(counts[max(0, i - half) : i + half + 1]),
            6,
        )
        for i in range(n)
    ]
    # seasonal: mean of micro-quantized detrended values per hour-of-day
    by_hod = {}
    for i in range(n):
        hod = i % 24  # hours start at midnight and are contiguous
        by_hod.setdefault(hod, []).append(
            _round_half((counts[i] - trend[i]) * 1_000_000, 0)
        )
    seasonal_hod = {
        hod: _round_half(sum(ms) / len(ms) / 1_000_000.0, 6)
        for hod, ms in by_hod.items()
    }
    out = []
    for i in range(n):
        s = seasonal_hod[i % 24]
        out.append(
            (i, counts[i], trend[i], s, _round_half(counts[i] - trend[i] - s, 6))
        )
    return out


def test_decompose_and_strength_match_replay(spark, tmp_path):
    # 30 contiguous hours (wraps one hour-of-day group to 2 members),
    # diurnal-ish pattern + a spike; a second short type rides along.
    click = [3, 5, 2, 7, 4, 6, 1, 8, 5, 3, 9, 2, 6, 4, 7, 1, 5, 8, 2, 6,
             3, 30, 4, 5, 6, 2, 7, 3, 8, 4]
    view = [2, 4, 3, 5]
    _write_events(spark, tmp_path, {"click": click, "view": view})

    from scats_transis_kinesis_spark.plans.events import trend_seasonal_decompose
    from scats_transis_kinesis_spark.plans.events import seasonal_strength_audit

    got = {
        (r["event_type"], r["hour"]): (
            r["observed"], r["trend"], r["seasonal"], r["residual"]
        )
        for r in trend_seasonal_decompose(spark, str(tmp_path)).collect()
    }
    base = datetime.datetime(2024, 2, 1)
    for etype, counts in (("click", click), ("view", view)):
        want = _replay_decompose(counts)
        for i, obs, trend, seasonal, resid in want:
            key = (etype, base + datetime.timedelta(hours=i))
            assert key in got, key
            g = got[key]
            assert g[0] == obs, key
            assert g[1] == pytest.approx(trend, abs=1e-9), key
            assert g[2] == pytest.approx(seasonal, abs=1e-9), key
            assert g[3] == pytest.approx(resid, abs=1e-9), key
    assert len(got) == len(click) + len(view)

    # --- strength: variance ratio over the milli-quantized components ---
    strength = {
        r["event_type"]: (r["n_hours"], r["seasonal_strength"])
        for r in seasonal_strength_audit(spark, str(tmp_path)).collect()
    }
    for etype, counts in (("click", click), ("view", view)):
        rep = _replay_decompose(counts)
        sm = [int(_round_half(1000 * s, 0)) for _, _, _, s, _ in rep]
        rm = [int(_round_half(1000 * r, 0)) for _, _, _, _, r in rep]
        n = len(rep)
        sr, qr = sum(rm), sum(x * x for x in rm)
        ss = sum(sm[i] + rm[i] for i in range(n))
        qs = sum((sm[i] + rm[i]) ** 2 for i in range(n))
        var_r = (qr - sr * sr / n) / (n - 1)
        var_s = (qs - ss * ss / n) / (n - 1)
        want = _round_half(max(0.0, 1 - var_r / var_s), 6)
        assert strength[etype][0] == n
        assert strength[etype][1] == pytest.approx(want, abs=1e-9), etype


def _write_baskets(spark, tmp_path, baskets):
    orders = [(ok, datetime.datetime(1995, 8, 1)) for ok in baskets]
    lines = [(ok, pk) for ok, pks in baskets.items() for pk in pks]
    spark.createDataFrame(
        orders, "o_orderkey long, o_orderdate timestamp"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")


def _edges_of(baskets):
    edges = set()
    for pks in baskets.values():
        ps = sorted(set(pks))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    return edges


def test_degree_assortativity_matches_pearson_replay(spark, tmp_path):
    # A star (hub 1 with leaves 2-5) plus a triangle (6,7,8): the star
    # pushes r negative (hubs attach to degree-1 leaves), the triangle
    # is perfectly assortative filler — net clearly negative.
    baskets = {
        10: [1, 2], 20: [1, 3], 30: [1, 4], 40: [1, 5],
        50: [6, 7], 60: [7, 8], 70: [6, 8],
    }
    _write_baskets(spark, tmp_path, baskets)

    from scats_transis_kinesis_spark.plans.graph import degree_assortativity_copurchase

    row = degree_assortativity_copurchase(spark, str(tmp_path)).collect()[0]

    edges = _edges_of(baskets)
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    xs, ys = [], []
    for u, v in edges:
        xs += [deg[u], deg[v]]
        ys += [deg[v], deg[u]]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    r = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))

    assert row["n_vertices"] == 8
    assert row["n_edges"] == 7
    assert row["assortativity"] == pytest.approx(round(r, 6), abs=2e-6)
    assert r < -0.5  # star-dominated -> strongly disassortative


def test_local_clustering_matches_triangle_replay(spark, tmp_path):
    # Wheel: hub 1 joined to 2..7 with a full rim -> deg(1)=6,
    # triangles(1)=6, lcc = 6/C(6,2) = 0.4.  Star hub 8 joined to
    # 9..13 -> deg 5, zero triangles, lcc 0.  Rim/leaf nodes fall
    # below the min-degree 5 filter.
    baskets = {}
    ok = 0
    for leaf in range(2, 8):
        ok += 10
        baskets[ok] = [1, leaf]
    rim = [(2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (2, 7)]
    for u, v in rim:
        ok += 10
        baskets[ok] = [u, v]
    for leaf in range(9, 14):
        ok += 10
        baskets[ok] = [8, leaf]
    _write_baskets(spark, tmp_path, baskets)

    from scats_transis_kinesis_spark.plans.graph import local_clustering_topk

    got = [
        (r["node"], r["degree"], r["triangles"], r["lcc_micros"])
        for r in local_clustering_topk(spark, str(tmp_path)).collect()
    ]

    edges = _edges_of(baskets)
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    # brute force: every node triple whose three edges all exist
    nodes = sorted(deg)
    tri = {x: 0 for x in deg}
    for i, a in enumerate(nodes):
        for j in range(i + 1, len(nodes)):
            for k in range(j + 1, len(nodes)):
                b, c = nodes[j], nodes[k]
                if (a, b) in edges and (a, c) in edges and (b, c) in edges:
                    tri[a] += 1
                    tri[b] += 1
                    tri[c] += 1
    want = sorted(
        (
            (x, deg[x], tri[x], tri[x] * 2 * 1_000_000 // (deg[x] * (deg[x] - 1)))
            for x in deg
            if deg[x] >= 5
        ),
        key=lambda t: (-t[3], -t[2], t[0]),
    )[:20]
    assert got == want
    assert want == [(1, 6, 6, 400_000), (8, 5, 0, 0)]
