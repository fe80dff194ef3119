"""Semantic anchors for the round-5 inference/trend/graph-structure
batch (``plans/events.py``, ``plans/graph.py``, ``plans/stats.py``).

The driver's hash gate proves Spark and DuckDB agree; these pin that
the numbers MEAN what the docstrings claim, on constructed inputs with
closed-form answers:

- Welch t: a 3-vs-4 sample with variance only on one side → t =
  10/sqrt(100/3), df collapses to n−1 of the varying side.
- Theil–Sen: a perfect slope-2 line with one wild outlier day → the
  median slope is STILL exactly 2 and the intercept 0 (OLS would not
  survive this).
- MASE backtest: a perfectly weekly-periodic series → seasonal-naive
  MASE is exactly 0, naive MASE is exactly 1e6 by definition.
- Assortativity: a star K_{1,3} is the canonical r = −1 graph.
- Local clustering: a K6 basket → every vertex has degree 5, 10
  triangles, coefficient exactly 1e6 micros.
- Regex funnel: four hand-spelled sessions cover every pattern's
  match/no-match branch, including the adjacency-vs-gap distinction
  between ``vp`` and ``v.*c.*p``.
"""

from __future__ import annotations

import datetime

ORDERS = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
LINES = "l_orderkey long, l_partkey long"
EVENTS = "event_id long, ts timestamp, user_id long, event_type string"


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


def _d(y, m, d):
    return datetime.datetime(y, m, d)


def _order(key, price, date, prio):
    return (key, 1, "F", float(price), date, prio)


def test_welch_t_hand_computed(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import welch_t_test_orders

    rows = [
        _order(1, 10, _d(1995, 1, 1), "1-URGENT"),
        _order(2, 20, _d(1995, 1, 2), "1-URGENT"),
        _order(3, 30, _d(1995, 1, 3), "1-URGENT"),
        _order(4, 10, _d(1995, 1, 1), "5-LOW"),
        _order(5, 10, _d(1995, 1, 2), "5-LOW"),
        _order(6, 10, _d(1995, 1, 3), "5-LOW"),
        _order(7, 10, _d(1995, 1, 4), "5-LOW"),
        # other priorities must be excluded from the test entirely
        _order(8, 99999, _d(1995, 1, 5), "3-MEDIUM"),
    ]
    _write(spark, tmp_path, "orders", rows, ORDERS)
    [r] = welch_t_test_orders(spark, str(tmp_path)).collect()
    assert (r["n_urgent"], r["n_low"]) == (3, 4)
    assert (r["mean_urgent"], r["mean_low"]) == (20.0, 10.0)
    # va = 100/3, vb = 0 → t = 10 / sqrt(100/3) = sqrt(3) = 1.732051
    assert r["t_stat"] == 1.732051
    # vb = 0 collapses Welch–Satterthwaite to na − 1 = 2
    assert r["df_welch"] == 2.0
    assert r["reject_95"] is False


def test_theil_sen_ignores_the_outlier_day(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.events import theil_sen_trend_daily

    # One order per day: y = 2d exactly, except day 3 explodes to 100.
    ys = {0: 0, 1: 2, 2: 4, 3: 100, 4: 8}
    rows = [
        _order(10 + d, y, _d(1995, 1, 1 + d), "1-URGENT")
        for d, y in ys.items()
    ]
    _write(spark, tmp_path, "orders", rows, ORDERS)
    [r] = theil_sen_trend_daily(spark, str(tmp_path)).collect()
    assert (r["n_days"], r["n_pairs"]) == (5, 10)
    # 6 of the 10 pairwise slopes equal 2 → the median is exactly 2,
    # and median(y − 2d) = median([0, 0, 0, 94, 0]) = 0.
    assert r["ts_slope"] == 2.0
    assert r["ts_intercept"] == 0.0


def test_mase_periodic_series_snaive_wins(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.events import forecast_backtest_mase

    # y_d = (d mod 7) + 1: perfectly weekly-periodic daily ORDER COUNTS
    # for 21 days (the query counts orders per day, so day d gets y_d
    # one-dollar orders).
    rows, key = [], 0
    for d in range(21):
        for _ in range((d % 7) + 1):
            key += 1
            rows.append(
                _order(key, 1, _d(1995, 1, 1) + datetime.timedelta(days=d),
                       "1-URGENT")
            )
    _write(spark, tmp_path, "orders", rows, ORDERS)
    got = {
        r["method"]: (r["mae_micros"], r["mase_micros"])
        for r in forecast_backtest_mase(spark, str(tmp_path)).collect()
    }
    # Eval days 7..20 (14 days): naive |y_d − y_{d−1}| = 1 six days a
    # week, 6 at the weekly reset → Σ = 24, MAE = ⌊24e6/14⌋.
    assert got["naive"] == (1_714_285, 1_000_000)
    # Seasonal-naive lag-7 is EXACT on a period-7 series.
    assert got["seasonal_naive_7"] == (0, 0)
    # Trailing-7 mean predicts the constant 4 → |y − 4| sums to 24 too.
    assert got["trailing_mean_7"] == (1_714_285, 1_000_000)


def test_assortativity_star_is_minus_one(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.graph import degree_assortativity_copurchase

    # Three 1995 baskets {1,2}, {1,3}, {1,4} → the star K_{1,3}.
    orders = [_order(k, 1, _d(1995, 1, k), "1-URGENT") for k in (1, 2, 3)]
    lines = [(1, 1), (1, 2), (2, 1), (2, 3), (3, 1), (3, 4)]
    _write(spark, tmp_path, "orders", orders, ORDERS)
    _write(spark, tmp_path, "lineitem", lines, LINES)
    [r] = degree_assortativity_copurchase(spark, str(tmp_path)).collect()
    assert (r["n_vertices"], r["n_edges"]) == (4, 3)
    assert r["assortativity"] == -1.0


def test_local_clustering_k6_is_exactly_one(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.graph import local_clustering_topk

    # One basket with six parts → K6: deg 5, C(5,2) = 10 triangles per
    # vertex, coefficient 2·10/(5·4) = 1 exactly.
    orders = [_order(1, 1, _d(1995, 6, 1), "1-URGENT")]
    lines = [(1, p) for p in range(1, 7)]
    _write(spark, tmp_path, "orders", orders, ORDERS)
    _write(spark, tmp_path, "lineitem", lines, LINES)
    rows = local_clustering_topk(spark, str(tmp_path)).collect()
    assert [r["node"] for r in rows] == [1, 2, 3, 4, 5, 6]
    assert all(
        (r["degree"], r["triangles"], r["lcc_micros"]) == (5, 10, 1_000_000)
        for r in rows
    )


def test_regex_funnel_hand_sessions(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.events import event_regex_funnel

    t0 = _d(2024, 1, 1)

    def ev(eid, user, minute, etype):
        return (eid, t0 + datetime.timedelta(minutes=minute), user, etype)

    rows = [
        # user 1: v c p  → view_click_purchase only (no adjacent vp)
        ev(1, 1, 0, "view"), ev(2, 1, 1, "click"), ev(3, 1, 2, "purchase"),
        # user 2: v p    → adjacent vp
        ev(4, 2, 0, "view"), ev(5, 2, 1, "purchase"),
        # user 3: s v p  → signup_then_purchase AND adjacent vp
        ev(6, 3, 0, "signup"), ev(7, 3, 1, "view"), ev(8, 3, 2, "purchase"),
        # user 4: v c    → browse_only
        ev(9, 4, 0, "view"), ev(10, 4, 1, "click"),
    ]
    _write(spark, tmp_path, "events", rows, EVENTS)
    got = {
        r["pattern"]: (r["n_sessions"], r["pct_micros"])
        for r in event_regex_funnel(spark, str(tmp_path)).collect()
    }
    assert got == {
        "browse_only": (1, 250_000),
        "error_before_purchase": (0, 0),
        "signup_then_purchase": (1, 250_000),
        "view_click_purchase": (1, 250_000),
        "view_to_purchase_direct": (2, 500_000),
    }
