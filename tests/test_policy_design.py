"""Semantic anchors for the round-5 policy/design batch
(``plans/audits.py``, ``plans/sampling.py``, ``plans/stats.py``).

- Bandit replay: the logged baseline matches every event (mean = the
  corpus mean), the constant-purchase policy matches exactly the
  purchase events (mean = the purchase mean), and the hash explorer
  matches a subset — all worked from a 4-event log.
- Feature hashing: the test recomputes occupancy in Python with the
  same md5-prefix hash, so collision counts must agree EXACTLY.
- Neyman: two 2-document strata with σ ratio 1:2 — the test mirrors
  the integer micros/floor arithmetic and demands equality.
"""

from __future__ import annotations

import hashlib


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


def test_bandit_replay_matching(spark, tmp_path):
    import datetime

    from scats_transis_kinesis_spark.plans.stats import bandit_replay_evaluation

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, 10, t0, "purchase", 3.0),
        (2, 11, t0, "purchase", 1.0),
        (3, 12, t0, "click", 5.0),
        (4, 13, t0, "view", 0.0),
    ]
    _write(
        spark, tmp_path, "events", rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double",
    )
    got = {
        r["policy"]: r for r in bandit_replay_evaluation(spark, str(tmp_path)).collect()
    }
    lg = got["logged"]
    assert (lg["n_matched"], lg["match_rate_micros"]) == (4, 1_000_000)
    assert lg["mean_reward_cents_milli"] == 225_000  # (300+100+500+0)/4
    ap = got["always_purchase"]
    assert (ap["n_matched"], ap["match_rate_micros"]) == (2, 500_000)
    assert ap["mean_reward_cents_milli"] == 200_000
    hx = got["hash_explore"]
    assert 0 <= hx["n_matched"] <= 4


def test_feature_hashing_matches_python_md5(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.audits import (
        _HASH_DIMS,
        feature_hashing_collision_audit,
    )

    words = [f"w{i}" for i in range(40)]
    text = " ".join(words)
    rows = [(1, text, "en", "s", len(text))]
    _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    def h32(term: str) -> int:
        return int(hashlib.md5(term.encode()).hexdigest()[:8], 16)

    got = {
        r["dim"]: r
        for r in feature_hashing_collision_audit(spark, str(tmp_path)).collect()
    }
    for d in _HASH_DIMS:
        occupied = len({h32(w) % d for w in words})
        r = got[d]
        assert r["n_terms"] == 40
        assert r["occupied"] == occupied
        assert r["n_collided"] == 40 - occupied
        assert r["collision_rate_micros"] == (40 - occupied) * 1_000_000 // 40


def test_neyman_allocation_integer_arithmetic(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.sampling import neyman_allocation_plan

    rows = [
        (1, "x", "aa", "s", 1),
        (2, "x", "aa", "s", 3),
        (3, "x", "bb", "s", 1),
        (4, "x", "bb", "s", 5),
        (5, "x", "cc", "s", 9),  # singleton stratum -> excluded
    ]
    _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r["lang"]: r for r in neyman_allocation_plan(spark, str(tmp_path)).collect()
    }
    assert set(got) == {"aa", "bb"}  # cc has n_h = 1
    wa = round(1_000_000 * 2 * (2.0**0.5))
    wb = round(1_000_000 * 2 * (8.0**0.5))
    tw = wa + wb
    assert got["aa"]["share_micros"] == wa * 1_000_000 // tw
    assert got["bb"]["share_micros"] == wb * 1_000_000 // tw
    assert got["aa"]["alloc_floor"] == wa * 1000 // tw
    assert got["bb"]["alloc_floor"] == wb * 1000 // tw
    # σ ratio is exactly 2, so shares land at 1/3 vs 2/3.
    assert abs(got["aa"]["share_micros"] - 333_333) <= 1
    assert abs(got["bb"]["share_micros"] - 666_666) <= 1
