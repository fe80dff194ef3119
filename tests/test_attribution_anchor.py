"""Hand-computed anchor for multitouch_attribution (linear credit).

Pins the fractional-credit semantics both engines share by definition:
equal split across in-window touches, window edges (a touch exactly at
the purchase instant or exactly lookback-old is OUT / IN per the strict
< and >= bounds), the 'direct' completeness row, and per-share micro
quantization BEFORE the type sum."""

from __future__ import annotations

import datetime


def test_linear_attribution_split_edges_and_direct(spark, tmp_path):
    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)

    def m(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        # user 1: purchase at t0+120 of value 9.0 with touches at
        # +61 (click, 59 min before: IN), +60 (view, exactly 60 min
        # before: IN via >=), +120 (click, same instant: OUT via <).
        (100, 1, "purchase", m(120), 9.0),
        (101, 1, "click", m(61), 0.0),
        (102, 1, "view", m(60), 0.0),
        (103, 1, "click", m(120), 0.0),
        # user 2: purchase with NO in-window touch -> 'direct'.
        (200, 2, "purchase", m(120), 5.0),
        (201, 2, "click", m(59), 0.0),  # 61 min before: OUT
        # user 3: purchase with 3 touches -> 2.5/3 shares quantize.
        (300, 3, "purchase", m(100), 2.5),
        (301, 3, "click", m(90), 0.0),
        (302, 3, "click", m(80), 0.0),
        (303, 3, "view", m(70), 0.0),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.events import multitouch_attribution

    out = {
        r["touch_type"]: r
        for r in multitouch_attribution(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"click", "view", "direct"}

    # Purchase 100 splits 9.0 across 2 touches -> 4.5 each.
    # Purchase 300 splits 2.5 across 3 -> round(2.5e6/3) = 833333 micros.
    c = out["click"]
    assert c["n_touches"] == 3  # 101, 301, 302
    assert c["attributed_revenue"] == round((4_500_000 + 2 * 833_333) / 1e6, 4)
    v = out["view"]
    assert v["n_touches"] == 2  # 102, 303
    assert v["attributed_revenue"] == round((4_500_000 + 833_333) / 1e6, 4)
    d = out["direct"]
    assert d["n_touches"] == 1
    assert d["attributed_revenue"] == 5.0
