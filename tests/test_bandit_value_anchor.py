"""Round-7 value anchor for bandit_replay_evaluation.

Round 6 pinned the zero-match degenerate guard; this anchor pins the
HAPPY PATH: the replay-matching estimator (Li et al. '11) recomputed
in plain Python with the hashlib-md5 explorer arm, on logged data
where each policy matches a different, hand-checkable subset.
"""

from __future__ import annotations

import hashlib

ARMS = ("click", "purchase", "view")


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_bandit_replay_matches_li_estimator(spark, tmp_path):
    # 12 users x 2 logged events each, arms spread across users so the
    # hash explorer matches a nontrivial subset; rewards distinguish
    # matched from unmatched rows.
    logged = []
    eid = 0
    for uid in range(1, 13):
        for j in range(2):
            arm = ARMS[(uid + j) % 3]
            eid += 1
            logged.append((eid, uid, arm, float(10 * uid + j)))
    # plus non-arm events that must be filtered out entirely
    noise = [(900 + i, i, "login", 999.0) for i in range(3)]
    spark.createDataFrame(
        logged + noise, "event_id long, user_id long, event_type string, value double"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.stats import bandit_replay_evaluation

    got = {
        r["policy"]: (r["n_matched"], r["match_rate_micros"],
                      r["mean_reward_cents_milli"])
        for r in bandit_replay_evaluation(spark, str(tmp_path)).collect()
    }

    rows = [
        (uid, arm, round(v * 100)) for _, uid, arm, v in logged
    ]
    n = len(rows)

    def policy_stats(choose):
        hits = [(arm, rc) for uid, arm, rc in rows if arm == choose(uid)]
        m = len(hits)
        mean = sum(rc for _, rc in hits) * 1000 // m if m else None
        return (m, m * 1_000_000 // n, mean)

    want = {
        "always_purchase": policy_stats(lambda uid: "purchase"),
        "hash_explore": policy_stats(
            lambda uid: ARMS[_md5_32(f"arm:{uid}") % len(ARMS)]
        ),
    }
    # 'logged' matches every row by identity.
    total_rc = sum(rc for _, _, rc in rows)
    want["logged"] = (n, 1_000_000, total_rc * 1000 // n)

    assert got == want
    # Scenario sanity: every policy matched a PROPER nonempty subset
    # except the identity baseline.
    assert 0 < want["always_purchase"][0] < n
    assert 0 < want["hash_explore"][0] < n
