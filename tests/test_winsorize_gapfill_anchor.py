"""Hand-computed anchors for winsorize_order_stats and
resample_gapfill_daily — shared-definition idioms (exact-quantile clip
band; dense grid gap filling) pinned to by-hand traces."""

from __future__ import annotations

import datetime


def test_winsorize_clips_to_exact_interpolated_quantiles(spark, tmp_path):
    d = datetime.datetime(1996, 1, 1)
    # One group, values 0..100 (101 rows): interpolated P05 = 5.0,
    # P95 = 95.0.  Winsorized mean by hand: values 0..4 lift to 5
    # (adds 15 over their sum 10), 96..100 drop to 95 (removes 15 over
    # their sum 490-15=...), symmetric -> mean stays 50.0 exactly; the
    # asymmetric group pins the non-trivial case.
    rows = [(i, 1, "1-URGENT", float(i), d) for i in range(101)]
    # Asymmetric group: [0, 0, 0, 0, 100] -> P05 = 0.0, P95 = 80.0
    # (interpolated: 0.95*(5-1)=3.8 -> 0 + 0.8*(100-0) = 80).
    rows += [
        (200 + i, 2, "2-HIGH", v, d)
        for i, v in enumerate([0.0, 0.0, 0.0, 0.0, 100.0])
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderpriority string, "
        "o_totalprice double, o_orderdate timestamp",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.stats import winsorize_order_stats

    out = {
        r["o_orderpriority"]: r
        for r in winsorize_order_stats(spark, str(tmp_path)).collect()
    }
    u = out["1-URGENT"]
    assert (u["p05"], u["p95"]) == (5.0, 95.0)
    assert u["raw_mean"] == 50.0
    assert u["winsorized_mean"] == 50.0  # symmetric clip
    h = out["2-HIGH"]
    assert (h["p05"], h["p95"]) == (0.0, 80.0)
    assert h["raw_mean"] == 20.0
    # clipped values: [0,0,0,0,80] -> mean 16.0
    assert h["winsorized_mean"] == 16.0


def test_gapfill_emits_zero_rows_for_silent_days(spark, tmp_path):
    def at(day, hour=12):
        return datetime.datetime(2024, 4, 1 + day, hour)

    # user 100: events on day 0 (two) and day 3 (one) -> grid spans
    # days 0..3, days 1 and 2 must appear as explicit zero rows.
    rows = [
        (1, 100, "click", at(0, 9), 1.5),
        (2, 100, "view", at(0, 18), 2.5),
        (3, 100, "click", at(3), 4.0),
        # user 105: single event -> single-day grid, no fills.
        (4, 105, "click", at(1), 7.0),
        # user 300: above the query's user_id < 110 cohort cut -> absent.
        (5, 300, "click", at(0), 9.0),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.events import resample_gapfill_daily

    out = {
        (r["user_id"], r["day"].day): (r["n_events"], r["total_value"])
        for r in resample_gapfill_daily(spark, str(tmp_path)).collect()
    }
    assert out == {
        (100, 1): (2, 4.0),
        (100, 2): (0, 0.0),
        (100, 3): (0, 0.0),
        (100, 4): (1, 4.0),
        (105, 2): (1, 7.0),
    }
