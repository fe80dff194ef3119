"""Semantic anchor tests for the round-5 statistics/graph queries.

The driver's hash gate proves Spark and DuckDB compute the same
numbers; these pin that the numbers MEAN what the docstrings claim,
on constructed inputs with closed-form answers:

- ACF: a perfectly alternating hourly series must score exactly −1 at
  odd lags and +1 at even lags.
- KS: hand-computed sup-norm distance (0.5 on two offset staircases,
  located at the FIRST attaining value), 0 on identical samples.
- CUSUM: a clean level shift must locate the boundary day and report
  the two segment means exactly.
- MAD fence: a single whale order among constants is the only outlier
  (breakdown the mean/stddev fence does not have); a symmetric small
  sample has none.
- Link prediction: a two-basket graph with one non-adjacent pair whose
  common-neighbor, Jaccard, and Adamic–Adar scores are computed by
  hand.
- Zipf: frequencies exactly C/r must fit slope −1 with r² = 1.
- Heaps: an all-novel token stream must fit β = 1 through the origin.
"""

from __future__ import annotations

import datetime
import math

from pyspark.sql import functions as F


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


# ------------------------------------------------------------------ ACF


def test_acf_alternating_series_hits_plus_minus_one(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.events import acf_hourly_traffic

    base = datetime.datetime(2024, 3, 1)
    rows = []
    for h in range(48):
        for k in range(1 if h % 2 == 0 else 3):
            rows.append((datetime.timedelta(hours=h, minutes=k) + base,))
    _write(spark, tmp_path, "events", rows, "ts timestamp")
    got = {
        r["lag"]: (r["n_pairs"], r["acf"])
        for r in acf_hourly_traffic(spark, str(tmp_path)).collect()
    }
    assert got[1] == (47, -1.0)
    assert got[2] == (46, 1.0)
    assert got[11][1] == -1.0 and got[12][1] == 1.0


# ------------------------------------------------------------------- KS


def _orders(vals_dollars_by_date):
    rows, k = [], 0
    for date, vals in vals_dollars_by_date.items():
        for v in vals:
            rows.append((k, datetime.datetime(*date), float(v)))
            k += 1
    return rows


ORDERS_SCHEMA = "o_orderkey long, o_orderdate timestamp, o_totalprice double"


def test_ks_offset_staircases_score_half_at_first_value(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import ks_drift_orders

    rows = _orders(
        {(1997, 6, 1): [1, 2, 3, 4], (1998, 6, 1): [3, 4, 5, 6]}
    )
    _write(spark, tmp_path, "orders", rows, ORDERS_SCHEMA)
    r = ks_drift_orders(spark, str(tmp_path)).collect()[0]
    # CDF gap is 0.5 at values 2, 3 and 4 — report the first.
    assert (r["n_ref"], r["n_cur"]) == (4, 4)
    assert r["ks_stat"] == 0.5
    assert r["ks_at_total"] == 2.0


def test_ks_identical_samples_score_zero(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import ks_drift_orders

    rows = _orders(
        {(1997, 6, 1): [5, 6, 7, 8], (1998, 6, 1): [5, 6, 7, 8]}
    )
    _write(spark, tmp_path, "orders", rows, ORDERS_SCHEMA)
    r = ks_drift_orders(spark, str(tmp_path)).collect()[0]
    assert r["ks_stat"] == 0.0


# ---------------------------------------------------------------- CUSUM


def test_cusum_locates_level_shift_boundary(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.events import cusum_changepoint_daily

    rows = []
    for d in range(20):
        day = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d)
        rows.append((d, day, 100.0 if d < 10 else 200.0))
    _write(spark, tmp_path, "orders", rows, ORDERS_SCHEMA)
    r = cusum_changepoint_daily(spark, str(tmp_path)).collect()[0]
    assert r["n_days"] == 20
    assert r["change_day"] == datetime.datetime(2024, 1, 10)  # last low day
    assert r["cusum_dollars"] == 500.0  # |cum − t·mean| = 10·(150−100)
    assert r["mean_before"] == 100.0 and r["mean_after"] == 200.0


# ------------------------------------------------------------------ MAD


def test_mad_fence_flags_only_the_whale(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import robust_outliers_mad

    _write(spark, tmp_path, "nation", [(0, "A"), (1, "B")],
           "n_nationkey long, n_name string")
    _write(spark, tmp_path, "customer", [(10, 0), (11, 1)],
           "c_custkey long, c_nationkey long")
    rows = []
    for i in range(50):  # nation A: constants + one whale
        rows.append((i, datetime.datetime(1996, 1, 1), 10.0, 10))
    rows.append((50, datetime.datetime(1996, 1, 1), 1000.0, 10))
    for i, v in enumerate(range(1, 10)):  # nation B: symmetric 1..9
        rows.append((100 + i, datetime.datetime(1996, 1, 1), float(v), 11))
    _write(spark, tmp_path, "orders", rows,
           ORDERS_SCHEMA + ", o_custkey long")
    got = {
        r["nation"]: r
        for r in robust_outliers_mad(spark, str(tmp_path)).collect()
    }
    a, b = got["A"], got["B"]
    # A: median 10, MAD 0 → the zero-width fence flags exactly the whale.
    assert (a["n_orders"], a["median_total"], a["mad_total"]) == (51, 10.0, 0.0)
    assert a["n_outliers"] == 1 and a["outlier_rate"] == round(1 / 51, 6)
    # B: median 5, MAD 2 → fence 3·1.4826·2 ≈ 8.9 > max deviation 4.
    assert (b["median_total"], b["mad_total"]) == (5.0, 2.0)
    assert b["n_outliers"] == 0 and b["outlier_rate"] == 0.0


# -------------------------------------------------------- link prediction


def test_link_prediction_two_basket_graph_by_hand(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.graph import link_prediction_scores

    # Baskets {1,2,3} and {2,3,4} in the 1995 window → edges
    # 12,13,23,24,34; the single non-adjacent pair (1,4) has common
    # neighbors {2,3} (both degree 3).
    _write(spark, tmp_path, "orders",
           [(1, datetime.datetime(1995, 3, 1)), (2, datetime.datetime(1995, 4, 1))],
           "o_orderkey long, o_orderdate timestamp")
    _write(spark, tmp_path, "lineitem",
           [(1, 1), (1, 2), (1, 3), (2, 2), (2, 3), (2, 4)],
           "l_orderkey long, l_partkey long")
    out = link_prediction_scores(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["u"], r["v"], r["common_n"]) == (1, 4, 2)
    assert r["jaccard"] == 1.0  # 2 / (deg 2 + deg 2 − 2)
    assert r["aa_micros"] == 2 * round(1e6 / math.log(3))


# ------------------------------------------------------------- Zipf/Heaps


def test_zipf_exact_power_law_fits_slope_minus_one(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.text import zipf_law_fit

    words = ["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3  # f = 12/r
    _write(spark, tmp_path, "documents", [(0, " ".join(words))],
           "doc_id long, text string")
    r = zipf_law_fit(spark, str(tmp_path)).collect()[0]
    assert (r["n_types"], r["n_tokens"]) == (4, 25)
    assert r["zipf_slope"] == -1.0
    assert r["zipf_intercept"] == round(math.log(12), 6)
    assert r["r2"] == 1.0


def test_heaps_all_novel_stream_fits_beta_one(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.text import heaps_law_fit

    docs, w = [], 0
    for i, k in enumerate([2, 4, 8, 16]):
        terms = [f"t{w + j}" for j in range(k)]
        w += k
        docs.append((i, " ".join(terms)))
    _write(spark, tmp_path, "documents", docs, "doc_id long, text string")
    r = heaps_law_fit(spark, str(tmp_path)).collect()[0]
    # Every token is novel: types == tokens at every prefix → the
    # log-log fit is exactly the identity line.
    assert (r["n_docs"], r["n_tokens"], r["n_types"]) == (4, 30, 30)
    assert r["heaps_beta"] == 1.0
    assert r["heaps_logk"] == 0.0
    assert r["r2"] == 1.0
