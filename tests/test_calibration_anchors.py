"""Plain-Python replay anchors for the calibration/screening family
(round 7 — these queries lead the round-7 driver window and had only
the shared-definition oracle compare until now).

- ``pav_calibration_bins``: the engine computes isotonic regression
  via the minimax identity f(i) = max_{j<=i} min_{k>=i} avg(y[j..k]);
  the anchor replays it with the CLASSIC sequential pool-adjacent-
  violators stack algorithm — two different algorithms for the same
  function, so a wrong minimax encoding shared with the oracle cannot
  hide.
- ``conformal_coverage_audit``: split-conformal 90% coverage replayed
  end-to-end (integer-milli centroids, exact int squared distances,
  k = ceil(0.9(n+1)) as (9(n+1)+9)//10, k-th smallest, floor-micros
  coverage) on a float32-exact synthetic embedding corpus.
- ``decision_stump_split``: Gini impurity drops replayed with the
  identical fixed-order double arithmetic over hand-chosen counts,
  including the empty-side zero-drop fallback.
"""

from __future__ import annotations

import math

import numpy as np


# --- replays -----------------------------------------------------------------


def _pav_pool(blocks):
    """Classic stack PAV over [(n, pos)] in band order -> fitted mean
    per input block (exact-rational merge decisions)."""
    stack = []  # [n_sum, pos_sum, n_members]
    for n, pos in blocks:
        stack.append([n, pos, 1])
        # merge while the previous block's mean exceeds the last's
        while len(stack) >= 2 and (
            stack[-2][1] * stack[-1][0] > stack[-1][1] * stack[-2][0]
        ):
            n2, p2, m2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += p2
            stack[-1][2] += m2
        # a merge can create a new violation further left
    fitted = []
    for n_sum, p_sum, members in stack:
        fitted.extend([p_sum / n_sum] * members)
    return fitted


def test_pav_matches_classic_pooling_replay(spark, tmp_path):
    # 10 bands, several monotonicity violations with unequal weights so
    # pooling must merge runs of 2 and 3 blocks.
    band_stats = [
        (4, 1),  # 0.25
        (2, 2),  # 1.00  violates vs next
        (4, 1),  # 0.25
        (2, 1),  # 0.50
        (5, 1),  # 0.20  violates vs prev
        (3, 3),  # 1.00  violates vs next two
        (1, 0),  # 0.00
        (4, 2),  # 0.50
        (2, 2),  # 1.00  violates vs next
        (3, 1),  # 1/3
    ]
    # xd = 50 + 100*band -> lo=50, w=(950-50)/10=90, band recovers 0..9.
    rows = []
    for band, (n, pos) in enumerate(band_stats):
        price = float(50 + 100 * band)
        for r in range(n):
            rows.append((price, "F" if r < pos else "O"))
    spark.createDataFrame(
        rows, "o_totalprice double, o_orderstatus string"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.stats import pav_calibration_bins

    got = {
        r["band"]: (r["n"], r["rate_micros"], r["iso_micros"])
        for r in pav_calibration_bins(spark, str(tmp_path)).collect()
    }
    fitted = _pav_pool(band_stats)
    assert set(got) == set(range(10))
    for band, (n, pos) in enumerate(band_stats):
        want_iso = math.floor(1_000_000 * fitted[band] + 0.5)
        assert got[band] == (n, pos * 1_000_000 // n, want_iso), f"band {band}"
    # The replayed fit must itself be non-trivial: monotone, and not
    # equal to the raw rates anywhere a violation was pooled.
    assert all(fitted[i] <= fitted[i + 1] + 1e-12 for i in range(9))
    assert fitted[1] != band_stats[1][1] / band_stats[1][0]


def test_conformal_coverage_matches_replay(spark, tmp_path):
    # 36 vectors (12 per split third), dim 4, 2 labels; components are
    # multiples of 0.125 so float32 -> double -> x1000 -> round is the
    # exact integer 125*k on both engines and in the replay.
    rng = np.random.RandomState(7)
    vecs = []
    for vec_id in range(36):
        label = vec_id % 2
        base = 4.0 if label else 1.0
        comps = base + rng.randint(0, 9, size=4) * 0.125
        vecs.append((vec_id, [float(np.float32(c)) for c in comps], label))
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    from scats_transis_kinesis_spark.plans.stats import conformal_coverage_audit

    row = conformal_coverage_audit(spark, str(tmp_path)).collect()[0]

    # --- replay ---
    v = {
        (vid, i + 1): math.floor(float(np.float32(x)) * 1000 + 0.5)
        for vid, emb, lab in vecs
        for i, x in enumerate(emb)
    }
    cent = {}
    for lab in (0, 1):
        members = [vid for vid, _, l2 in vecs if l2 == lab and vid % 3 == 0]
        for i in range(1, 5):
            m = sum(v[(vid, i)] for vid in members) / len(members)
            cent[(lab, i)] = math.floor(m + 0.5)
    score = {
        vid: sum((v[(vid, i)] - cent[(lab, i)]) ** 2 for i in range(1, 5))
        for vid, _, lab in vecs
        if vid % 3 in (1, 2)
    }
    cal = sorted(score[vid] for vid in score if vid % 3 == 1)
    n_cal = len(cal)
    k = (9 * (n_cal + 1) + 9) // 10
    qhat = cal[k - 1]
    test_scores = [score[vid] for vid in score if vid % 3 == 2]
    covered = sum(1 for s in test_scores if s <= qhat)

    assert row["n_cal"] == n_cal == 12
    assert row["k"] == k == 12
    assert row["qhat"] == qhat
    assert row["n_test"] == len(test_scores) == 12
    assert row["covered"] == covered
    assert row["coverage_micros"] == covered * 1_000_000 // len(test_scores)
    assert row["target_micros"] == 900_000


def test_decision_stump_matches_gini_replay(spark, tmp_path):
    # n_chars 0..1000 -> lo=0, w=100, thresholds exactly 100..900.
    # (xv, lang) chosen so positives concentrate below ~500: the best
    # split sits mid-range and threshold 900 exercises a heavy-left
    # near-empty-right split.
    data = (
        [(50, "en")] * 6
        + [(150, "en")] * 5
        + [(250, "en")] * 4 + [(250, "de")] * 1
        + [(350, "en")] * 3 + [(350, "fr")] * 2
        + [(450, "de")] * 4 + [(450, "en")] * 1
        + [(550, "de")] * 5
        + [(650, "fr")] * 4
        + [(750, "de")] * 3
        + [(850, "fr")] * 2
        + [(0, "en")] * 1
        + [(1000, "de")] * 2
    )
    rows = [(i, xv, lang) for i, (xv, lang) in enumerate(data)]
    spark.createDataFrame(
        rows, "doc_id long, n_chars long, lang string"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.stats import decision_stump_split

    got = {
        r["cut_no"]: r for r in decision_stump_split(spark, str(tmp_path)).collect()
    }

    # --- replay with the identical fixed-order double arithmetic ---
    xs = [(xv, 1 if lang == "en" else 0) for xv, lang in data]
    n = len(xs)
    pos = sum(y for _, y in xs)
    p = pos / n
    parent = 1 - p * p - (1 - p) * (1 - p)
    want = {}
    for t in range(1, 10):
        thr = 0 + math.floor(t * 100.0 + 0.5)
        n_left = sum(1 for xv, _ in xs if xv <= thr)
        pos_left = sum(y for xv, y in xs if xv <= thr)
        if n_left == 0 or n_left == n:
            drop = 0.0
        else:
            pl = pos_left / n_left
            gl = 1 - pl * pl - (1 - pl) * (1 - pl)
            nr = n - n_left
            pr = (pos - pos_left) / nr
            gr = 1 - pr * pr - (1 - pr) * (1 - pr)
            drop = parent - ((n_left / n) * gl + (nr / n) * gr)
        want[t] = (thr, n_left, n - n_left, math.floor(1_000_000 * drop + 0.5))

    assert set(got) == set(want)
    best = max(want, key=lambda t: want[t][3])
    for t, (thr, nl, nr2, micros) in want.items():
        r = got[t]
        assert (
            r["threshold"], r["n_left"], r["n_right"], r["gini_drop_micros"]
        ) == (thr, nl, nr2, micros), f"cut {t}"
        assert r["is_best"] == (t == best), f"cut {t} best flag"
    # Sanity from the replay alone: the best split is in the 400-600
    # range where the en/non-en boundary was planted.
    assert want[best][0] in (400, 500, 600)
