"""Hand-replayed anchor for holt_linear_daily's integer recurrence.

The query is oracle-checked at three SFs, but oracle and engine share
the recurrence DEFINITION — if both encoded the wrong fold the compare
would still pass.  This anchor replays the exact-integer-micros Holt
contract (alpha = beta = 1/2, round-half-up halving = floor((x+1)/2))
in plain Python over a known series and pins the engine output to it,
including the single-day seed edge case (level = first count, trend 0).
"""

from __future__ import annotations

import datetime


def _replay(counts: list[int]) -> tuple[int, int]:
    lvl, trd = counts[0] * 1_000_000, 0
    for c in counts[1:]:
        ym = c * 1_000_000
        new_lvl = (ym + lvl + trd + 1) // 2
        trd = (new_lvl - lvl + trd + 1) // 2
        lvl = new_lvl
    return lvl, trd


def test_holt_matches_hand_replayed_integer_recurrence(spark, tmp_path):
    counts = {"click": [2, 4, 3, 5, 1, 6], "view": [7]}
    rows = []
    uid = 0
    for etype, series in counts.items():
        for d, c in enumerate(series):
            ts = datetime.datetime(2024, 3, 1) + datetime.timedelta(days=d)
            for _ in range(c):
                uid += 1
                rows.append((uid, etype, ts))
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.events import holt_linear_daily

    out = {r["event_type"]: r for r in holt_linear_daily(spark, str(tmp_path)).collect()}
    assert set(out) == {"click", "view"}

    lvl, trd = _replay(counts["click"])
    r = out["click"]
    assert r["n_days"] == 6
    assert (r["level_micros"], r["trend_micros"]) == (lvl, trd)
    assert r["forecast_micros"] == lvl + trd

    # Single-day series: state is exactly the seed.
    r1 = out["view"]
    assert r1["n_days"] == 1
    assert r1["level_micros"] == 7_000_000
    assert r1["trend_micros"] == 0
    assert r1["forecast_micros"] == 7_000_000
