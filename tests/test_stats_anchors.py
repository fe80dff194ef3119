"""Plain-Python replay anchors for the sequential/order-statistics
tier (round 7): Kaplan–Meier, CUSUM, exact two-sample KS, lag-pairs
ACF.  Oracle and engine share each estimator's definition (recursive
CTE vs aggregate-fold, window vs hierarchical prefix), so a wrong fold
or off-by-one in BOTH would pass the compare; each anchor replays the
published estimator independently on hand-built inputs.
"""

from __future__ import annotations

import datetime
import math

import numpy as np
import pytest


def _d(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_kaplan_meier_matches_product_limit_replay(spark, tmp_path):
    # Six customers; cutoff = 2020-12-31 (c4's last order), censor
    # horizon 90 days => anyone whose last order is after 2020-10-02 is
    # CENSORED.  dur 6 carries a mixed group (2 events + 1 censored) to
    # pin the "censored rows leave the risk set without an event" rule.
    spans = {
        1: ("2020-01-01", "2020-01-01"),  # dur 0,  event
        2: ("2020-01-01", "2020-02-15"),  # dur 6,  event
        5: ("2020-01-01", "2020-02-15"),  # dur 6,  event
        6: ("2020-10-15", "2020-12-01"),  # dur 6,  censored
        3: ("2020-01-01", "2020-03-01"),  # dur 8,  event
        4: ("2020-06-01", "2020-12-31"),  # dur 30, censored (== cutoff)
    }
    rows = []
    for ck, (f, l) in spans.items():
        rows.append((ck, _d(f)))
        rows.append((ck, _d(l)))
    spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.stats import kaplan_meier_retention

    got = sorted(
        (r["duration_weeks"], r["n_risk"], r["n_events"], r["surv_micros"])
        for r in kaplan_meier_retention(spark, str(tmp_path)).collect()
    )

    # --- replay: classic product-limit with integer-micros fold ---
    cut = max(_d(l) for _, l in spans.values())
    per = []
    for f, l in spans.values():
        dur = (_d(l) - _d(f)).days // 7
        ev = 1 if _d(l) < cut - datetime.timedelta(days=90) else 0
        per.append((dur, ev))
    grp = {}
    for dur, ev in per:
        c, d = grp.get(dur, (0, 0))
        grp[dur] = (c + 1, d + ev)
    at, s, want = len(per), 1_000_000, []
    for dur in sorted(grp):
        c, d = grp[dur]
        s = s * (at - d) // at
        want.append((dur, at, d, s))
        at -= c
    assert got == want
    # Shape sanity from the replay: durations and the survival curve.
    assert [w[0] for w in want] == [0, 6, 8, 30]
    assert want[-1][3] == want[-2][3]  # censored-only tail: S unchanged
    assert all(want[i][3] >= want[i + 1][3] for i in range(3))  # monotone


def test_cusum_matches_integer_argmax_replay(spark, tmp_path):
    # 14 days with a level shift after day 8 (100 -> 300 dollars/day);
    # day 3 doubles so the pre-shift segment isn't constant.
    dollars = [100, 100, 200, 100, 100, 100, 100, 100, 300, 300, 300, 300, 300, 300]
    rows = [
        (_d("2021-03-01") + datetime.timedelta(days=i), float(v))
        for i, v in enumerate(dollars)
    ]
    spark.createDataFrame(
        rows, "o_orderdate timestamp, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.events import cusum_changepoint_daily

    row = cusum_changepoint_daily(spark, str(tmp_path)).collect()[0]

    cents = [v * 100 for v in dollars]
    n, t = len(cents), sum(cents)
    cum, best = 0, None
    cums = []
    for i, c in enumerate(cents, start=1):
        cum += c
        cums.append(cum)
        s_abs = abs(n * cum - i * t)
        if best is None or s_abs > best[0]:
            best = (s_abs, i, cum)  # strict > keeps the EARLIEST argmax
    s_abs, i, cum_i = best
    assert row["n_days"] == n
    assert row["change_day"] == _d("2021-03-01") + datetime.timedelta(days=i - 1)
    assert row["cusum_dollars"] == pytest.approx(
        round(s_abs / (n * 100.0), 6), abs=1e-9
    )
    assert row["mean_before"] == pytest.approx(
        round(cum_i / (i * 100.0), 6), abs=1e-9
    )
    assert row["mean_after"] == pytest.approx(
        round((t - cum_i) / ((n - i) * 100.0), 6), abs=1e-9
    )
    # The replay must place the changepoint at the shift boundary.
    assert i == 8


def test_ks_matches_exact_ecdf_replay(spark, tmp_path):
    # Reference sample (pre-1998) low-centered, current sample shifted
    # up, with one shared value (30.00) so the grouped-by-value CDF has
    # a mixed row; duplicate values pin the counts-not-rows semantics.
    ref = [10.00, 20.00, 20.00, 30.00, 40.00]
    cur = [30.00, 45.00, 50.00, 50.00, 60.00, 70.00]
    rows = [(_d("1997-05-01"), v) for v in ref] + [
        (_d("1998-05-01"), v) for v in cur
    ]
    spark.createDataFrame(
        rows, "o_orderdate timestamp, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.stats import ks_drift_orders

    row = ks_drift_orders(spark, str(tmp_path)).collect()[0]

    rvals = [round(v * 100) for v in ref]
    cvals = [round(v * 100) for v in cur]
    rn, cn = len(rvals), len(cvals)
    md, at_val = -1, None
    for val in sorted(set(rvals + cvals)):
        cr = sum(1 for x in rvals if x <= val)
        cc = sum(1 for x in cvals if x <= val)
        d = abs(cn * cr - rn * cc)
        if d > md:  # strict > keeps the SMALLEST argmax value
            md, at_val = d, val
    assert (row["n_ref"], row["n_cur"]) == (rn, cn)
    assert row["ks_stat"] == pytest.approx(round(md / (rn * cn), 6), abs=1e-9)
    assert row["ks_at_total"] == pytest.approx(at_val / 100.0, abs=1e-9)
    # Replay sanity: D = 1 - 1/6 at value 40.00 (all ref <= 40, one cur).
    assert md / (rn * cn) == pytest.approx(1 - 1 / 6, abs=1e-12)
    assert at_val == 4000


def test_acf_matches_lag_pairs_replay(spark, tmp_path):
    # 20 hourly buckets with a 3-hour calendar GAP after hour 9: the
    # lag-pairs estimator must pair only hours whose shifted partner
    # exists (well-defined under gaps), which a naive shift-by-row
    # implementation gets wrong.
    counts = [3, 5, 2, 7, 4, 6, 1, 8, 5, 3, 9, 2, 6, 4, 7, 1, 5, 8, 2, 6]
    hours = list(range(10)) + list(range(13, 23))
    rows = []
    uid = 0
    for h, c in zip(hours, counts):
        ts = _d("2024-01-01") + datetime.timedelta(hours=h)
        for _ in range(c):
            uid += 1
            rows.append((uid, "click", ts))
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.events import acf_hourly_traffic

    got = {
        r["lag"]: (r["n_pairs"], r["acf"])
        for r in acf_hourly_traffic(spark, str(tmp_path)).collect()
    }

    by_hour = dict(zip(hours, counts))
    for lag in range(1, 13):
        pairs = [
            (by_hour[h], by_hour[h + lag]) for h in hours if h + lag in by_hour
        ]
        if lag not in got:
            # A lag with <2 pairs (or zero variance) yields no corr row
            # only if no pairs exist at all; with this grid every lag
            # has pairs, so every lag must be present.
            raise AssertionError(f"lag {lag} missing")
        n_pairs, acf = got[lag]
        assert n_pairs == len(pairs), f"lag {lag}"
        a = np.array(pairs, dtype=float)
        want = float(np.corrcoef(a[:, 0], a[:, 1])[0, 1])
        assert acf == pytest.approx(round(want, 6), abs=2e-6), f"lag {lag}"
    # Gap structure sanity: lag 1 loses exactly one pair to the gap
    # boundary... the 3-hour hole removes pairs (9,10),(10,11),(11,12)
    # and adds none, so n_pairs = 19 - 1 - 3 + 3 = 18.
    assert got[1][0] == 18
