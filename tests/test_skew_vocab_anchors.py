"""Round-7 anchor batch 19: layout-skew and vocabulary-pricing audits.

- ``key_skew_audit``: n_keys/max/median/hot-ratio/imbalance replayed
  from a hand-built whale-key distribution (imbalance =
  k·Σn²/total², the Cauchy-Schwarz-normalized shuffle-skew factor).
- ``vocab_coverage_curve``: top-N token coverage replayed with an
  explicit (count DESC, token ASC) rank, pinning the tie-break at the
  exact N boundary (two types tied in count straddling rank 10).
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


def test_key_skew_matches_replay(spark, tmp_path):
    # One whale user (60 rows) over 9 singleton-ish users.
    counts = {1: 60, 2: 4, 3: 4, 4: 2, 5: 2, 6: 2, 7: 1, 8: 1, 9: 1, 10: 1}
    rows = []
    eid = 0
    for uid, c in counts.items():
        for _ in range(c):
            eid += 1
            rows.append((eid, uid, "click", datetime.datetime(2024, 3, 1), 1.0))
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.audits import key_skew_audit

    row = key_skew_audit(spark, str(tmp_path)).collect()[0]

    ns = sorted(counts.values())
    k, total = len(ns), sum(ns)
    median = (ns[k // 2 - 1] + ns[k // 2]) / 2 if k % 2 == 0 else ns[k // 2]
    assert row["n_keys"] == k
    assert row["n_rows"] == total
    assert row["max_key_rows"] == 60
    assert row["median_key_rows"] == pytest.approx(_round_half(median, 4), abs=1e-9)
    assert row["hot_key_ratio"] == pytest.approx(
        _round_half(60 * k / total, 4), abs=1e-9
    )
    imb = sum(n * n for n in ns) * k / total**2
    assert row["imbalance_factor"] == pytest.approx(_round_half(imb, 6), abs=1e-9)
    # A whale this size dominates: the imbalance factor must exceed 5
    # (perfectly uniform data scores exactly 1).
    assert imb > 5


def test_vocab_coverage_pins_tiebreak_at_the_cut(spark, tmp_path):
    # 12 types; counts chosen so ranks 10 and 11 TIE at count 2 —
    # the (count DESC, token ASC) tie-break decides which one the
    # top-10 cut covers.  t04..t09 at 5; t10/t11 tie at 2; t12 at 1.
    freq = {
        "t01": 40, "t02": 30, "t03": 20,
        "t04": 5, "t05": 5, "t06": 5, "t07": 5, "t08": 5, "t09": 5,
        "aaa": 2, "zzz": 2,   # the tie: 'aaa' wins rank 10 over 'zzz'
        "t12": 1,
    }
    words = [w for t, c in freq.items() for w in [t] * c]
    texts = [" ".join(words[i::5]) for i in range(5)]
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.text import (
        VOCAB_TOP_NS,
        vocab_coverage_curve,
    )

    got = {
        r["top_n"]: (r["n_types"], r["covered_tokens"], r["total_tokens"],
                     r["coverage"])
        for r in vocab_coverage_curve(spark, str(tmp_path)).collect()
    }

    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(freq.values())
    for top_n in VOCAB_TOP_NS:
        covered = sum(c for _, c in ranked[:top_n])
        assert got[top_n] == (
            len(freq),
            covered,
            total,
            pytest.approx(_round_half(covered / total, 6), abs=1e-9),
        ), top_n
    # The tie-break itself: rank 10 is 'aaa', so top-10 coverage
    # includes exactly ONE of the two count-2 types.
    assert got[10][1] == total - 2 - 1  # all but 'zzz' (2) and 't12' (1)
    assert got[100][1] == total        # whole vocabulary fits
