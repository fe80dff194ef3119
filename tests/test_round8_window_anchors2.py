"""Round-8 window anchors, batch 2: the TPC-H spine's decision points.

Same discipline as batch 1 (test_round8_window_anchors.py): each test
hand-builds a micro corpus where one boundary/tie/exclusion rule
decides the answer, runs the REGISTERED query, and asserts the
hand-checked result — pinning semantics the DuckDB oracle could only
confirm, not independently define: min-per-group ties kept (q2), semi
multiplicity + strict ship-after (q4), the correlated threshold over
ALL the part's lineitems with strict < (q17), HAVING strictly-greater
(q18), inclusive BETWEEN disjunction arms (q19), the last-shipper
EXISTS/NOT-EXISTS pair incl. the equal-date both-win case (q21), the
positive-only average and urgent-exclusion of q22, UNION distinct,
unpivoted zero rows, and the global top-20 tie cut.
"""

from __future__ import annotations

from datetime import datetime


def T(d):
    return datetime(2020, 1, d)


def _write(spark, tmp_path, name, rows, schema):
    spark.createDataFrame(rows, schema).write.parquet(
        f"{tmp_path}/{name}.parquet"
    )


def _orders(spark, tmp_path, rows):
    _write(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )


def _lineitem(spark, tmp_path, rows):
    """(orderkey, partkey, suppkey, linenumber, qty, price, shipdate)"""
    _write(
        spark, tmp_path, "lineitem",
        [(ok, pk, sk, ln, q, pr, 0.0, 0.0, "N", "O", sd)
         for ok, pk, sk, ln, q, pr, sd in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )


def _supplier(spark, tmp_path, rows):
    _write(spark, tmp_path, "supplier", rows,
           "s_suppkey long, s_name string, s_nationkey int, s_acctbal double")


def _nation(spark, tmp_path, rows):
    _write(spark, tmp_path, "nation", rows,
           "n_nationkey int, n_name string, n_regionkey int")


def _part(spark, tmp_path, rows):
    _write(spark, tmp_path, "part", rows,
           "p_partkey long, p_name string, p_brand string, p_type string, "
           "p_size int, p_retailprice double")


def test_q2_min_per_group_keeps_ties(spark, tmp_path):
    _supplier(spark, tmp_path, [
        (1, "s1", 0, 5.0),
        (2, "s2", 0, 5.0),    # ties with s1 at nation 0's minimum
        (3, "s3", 0, 9.0),
        (4, "s4", 1, -2.0),   # negative minimum, sole supplier
    ])
    _nation(spark, tmp_path, [(0, "N0", 0), (1, "N1", 0)])
    from scats_transis_kinesis_spark.plans.relational import q2_min_per_group_suppliers

    got = sorted(
        (r["s_suppkey"], r["n_name"], r["s_acctbal"])
        for r in q2_min_per_group_suppliers(spark, str(tmp_path)).collect()
    )
    assert got == [(1, "N0", 5.0), (2, "N0", 5.0), (4, "N1", -2.0)]


def test_q4_semi_multiplicity_and_strict_after(spark, tmp_path):
    _orders(spark, tmp_path, [
        (1, 1, "F", 10.0, T(5), "1-URGENT"),   # 3 late items -> counted ONCE
        (2, 1, "F", 10.0, T(5), "1-URGENT"),   # shipped ON orderdate: excluded
        (3, 1, "F", 10.0, T(5), "2-HIGH"),     # one late item
    ])
    _lineitem(spark, tmp_path, [
        (1, 1, 1, 1, 1.0, 1.0, T(6)),
        (1, 1, 1, 2, 1.0, 1.0, T(7)),
        (1, 1, 1, 3, 1.0, 1.0, T(8)),
        (2, 1, 1, 1, 1.0, 1.0, T(5)),   # == orderdate, strict > fails
        (3, 1, 1, 1, 1.0, 1.0, T(9)),
    ])
    from scats_transis_kinesis_spark.plans.relational import q4_priority_exists

    got = {
        r["o_orderpriority"]: r["n_orders"]
        for r in q4_priority_exists(spark, str(tmp_path)).collect()
    }
    assert got == {"1-URGENT": 1, "2-HIGH": 1}


def test_q17_threshold_over_all_part_lines_strict(spark, tmp_path):
    # The 0.2*avg(qty) threshold averages over ALL the part's lineitems
    # (brand-agnostic); only Brand#1 revenue is summed; the compare is
    # STRICT (qty == threshold excluded).
    _part(spark, tmp_path, [
        (1, "p1", "Brand#1", "T", 1, 0.0),
        (2, "p2", "Brand#2", "T", 1, 0.0),   # wrong brand: never summed
        (3, "p3", "Brand#1", "T", 1, 0.0),
    ])
    _lineitem(spark, tmp_path, [
        # part 1: quantities 1, 9, 20 -> avg 10, threshold 2.0
        (1, 1, 1, 1, 1.0, 70.0, T(1)),    # 1 < 2.0: summed
        (2, 1, 1, 1, 9.0, 99.0, T(1)),
        (3, 1, 1, 1, 20.0, 99.0, T(1)),
        # part 3: quantities 2, 18 -> avg 10, threshold 2.0
        (4, 3, 1, 1, 2.0, 99.0, T(1)),    # 2 == 2.0: STRICT, excluded
        (5, 3, 1, 1, 18.0, 99.0, T(1)),
        # part 2 (Brand#2): tiny qty but wrong brand
        (6, 2, 1, 1, 0.5, 99.0, T(1)),
    ])
    from scats_transis_kinesis_spark.plans.relational import q17_small_quantity_revenue

    [row] = q17_small_quantity_revenue(spark, str(tmp_path)).collect()
    assert row["avg_yearly"] == 10.0  # 70.0 / 7


def test_q18_having_strictly_greater(spark, tmp_path):
    _orders(spark, tmp_path, [
        (1, 1, "F", 10.0, T(1), "1-URGENT"),   # sum qty 251: kept
        (2, 1, "F", 20.0, T(1), "1-URGENT"),   # sum qty 250: boundary, dropped
        (3, 1, "F", 30.0, T(1), "1-URGENT"),   # sum qty 100: dropped
    ])
    _lineitem(spark, tmp_path, [
        (1, 1, 1, 1, 200.0, 1.0, T(1)),
        (1, 1, 1, 2, 51.0, 1.0, T(1)),
        (2, 1, 1, 1, 250.0, 1.0, T(1)),
        (3, 1, 1, 1, 100.0, 1.0, T(1)),
    ])
    from scats_transis_kinesis_spark.plans.relational import q18_large_volume_orders

    got = [
        (r["o_orderkey"], r["total_qty"])
        for r in q18_large_volume_orders(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 251.0)]


def test_q19_disjunction_inclusive_arms(spark, tmp_path):
    _part(spark, tmp_path, [
        (1, "p", "Brand#1", "T", 1, 0.0),
        (2, "p", "Brand#2", "T", 1, 0.0),
        (3, "p", "Brand#3", "T", 1, 0.0),
        (4, "p", "Brand#4", "T", 1, 0.0),
    ])
    _lineitem(spark, tmp_path, [
        (1, 1, 1, 1, 11.0, 10.0, T(1)),   # Brand#1 upper bound: in
        (2, 1, 1, 1, 12.0, 99.0, T(1)),   # Brand#1 past bound: out
        (3, 2, 1, 1, 10.0, 20.0, T(1)),   # Brand#2 lower bound: in
        (4, 3, 1, 1, 20.0, 30.0, T(1)),   # Brand#3 lower bound: in
        (5, 4, 1, 1, 5.0, 99.0, T(1)),    # wrong brand, any qty: out
        (6, 3, 1, 1, 19.0, 99.0, T(1)),   # Brand#3 below bound: out
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        q19_disjunctive_predicate_join,
    )

    [row] = q19_disjunctive_predicate_join(spark, str(tmp_path)).collect()
    assert (row["revenue"], row["n_lines"]) == (60.0, 3)


def test_q21_last_shipper_equal_date_both_win(spark, tmp_path):
    _supplier(spark, tmp_path, [
        (1, "sup1", 0, 0.0), (2, "sup2", 0, 0.0), (3, "sup3", 0, 0.0),
    ])
    _orders(spark, tmp_path, [
        (1, 1, "F", 0.0, T(1), "x"),   # A: sup1 ships last
        (2, 1, "F", 0.0, T(1), "x"),   # B: single supplier -> no EXISTS
        (3, 1, "F", 0.0, T(1), "x"),   # C: equal dates -> BOTH win
        (4, 1, "O", 0.0, T(1), "x"),   # D: not finalized -> excluded
    ])
    _lineitem(spark, tmp_path, [
        (1, 1, 1, 1, 1.0, 1.0, T(9)),   # A sup1 last
        (1, 1, 2, 2, 1.0, 1.0, T(3)),
        (2, 1, 1, 1, 1.0, 1.0, T(5)),   # B sole supplier
        (3, 1, 2, 1, 1.0, 1.0, T(4)),   # C tie: no l3 strictly later
        (3, 1, 3, 2, 1.0, 1.0, T(4)),
        (4, 1, 1, 1, 1.0, 1.0, T(9)),   # D order status 'O'
        (4, 1, 2, 2, 1.0, 1.0, T(2)),
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        q21_waiting_orders_multi_exists,
    )

    got = {
        r["s_name"]: r["numwait"]
        for r in q21_waiting_orders_multi_exists(spark, str(tmp_path)).collect()
    }
    assert got == {"sup1": 1, "sup2": 1, "sup3": 1}


def test_q22_positive_only_average_and_urgent_exclusion(spark, tmp_path):
    # avg over POSITIVE balances only = (60+40)/2 = 50; qualifiers need
    # balance > 50; an urgent order disqualifies; other priorities don't.
    _write(spark, tmp_path, "customer", [
        (1, "Customer#AB000001", 0, 60.0, "M"),   # >50, urgent -> out
        (2, "Customer#AB000002", 0, 40.0, "M"),   # <=50 -> out
        (3, "Customer#CD000003", 0, 80.0, "M"),   # >50, non-urgent order -> in
        (4, "Customer#CD000004", 0, -90.0, "M"),  # negative: out of BOTH sides
    ], "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
       "c_mktsegment string")
    _orders(spark, tmp_path, [
        (1, 1, "F", 1.0, T(1), "1-URGENT"),
        (2, 3, "F", 1.0, T(1), "3-MEDIUM"),
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        q22_idle_customers_not_exists,
    )

    got = {
        r["cntrycode"]: (r["numcust"], r["totacctbal"])
        for r in q22_idle_customers_not_exists(spark, str(tmp_path)).collect()
    }
    # substr(name, 10, 2): 'Customer#' is 9 chars -> chars 10-11 = 'CD'/'AB'
    assert got == {"CD": (1, 80.0)}


def test_union_distinct_across_and_within_branches(spark, tmp_path):
    _write(spark, tmp_path, "events", [
        (1, T(1), 1, "click", 0.0, ""),
        (2, T(1), 1, "view", 0.0, ""),     # same user+kind as the click row
        (3, T(1), 1, "purchase", 0.0, ""), # same user, other branch
        (4, T(1), 2, "purchase", 0.0, ""),
        (5, T(1), 2, "purchase", 0.0, ""), # within-branch duplicate
    ], "event_id long, ts timestamp, user_id long, event_type string, "
       "value double, props string")
    from scats_transis_kinesis_spark.plans.relational import union_type_pairs

    got = sorted(
        (r["user_id"], r["kind"])
        for r in union_type_pairs(spark, str(tmp_path)).collect()
    )
    assert got == [(1, "buyer"), (1, "click_or_view"), (2, "buyer")]


def test_unpivot_keeps_zero_metrics(spark, tmp_path):
    _write(spark, tmp_path, "events", [
        (1, T(1), 1, "view", 0.0, ""),
        (2, T(1), 1, "view", 0.0, ""),
    ], "event_id long, ts timestamp, user_id long, event_type string, "
       "value double, props string")
    from scats_transis_kinesis_spark.plans.relational import unpivot_user_metrics

    got = sorted(
        (r["metric"], r["value"])
        for r in unpivot_user_metrics(spark, str(tmp_path)).collect()
    )
    # the melt keeps explicit zeros — unlike a sparse long form
    assert got == [("clicks", 0), ("purchases", 0), ("views", 2)]


def test_orderby_limit_tie_cut_at_boundary(spark, tmp_path):
    # 25 orders all at the same price: the global top-20 must be keys
    # 1..20 exactly (orderkey ascending tiebreak), not an arbitrary 20.
    _orders(spark, tmp_path, [
        (k, 1, "F", 777.0, T(1), "x") for k in range(1, 26)
    ])
    from scats_transis_kinesis_spark.plans.relational import orderby_limit_global

    got = [r["o_orderkey"] for r in orderby_limit_global(spark, str(tmp_path)).collect()]
    assert got == list(range(1, 21))
