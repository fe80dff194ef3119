"""Relational queries: the TPC-H shapes and the SQL operator surface.

Joins (semi, anti, outer, as-of, range, salted, lateral), set
operations, grouping sets, window frames, pivots, subqueries
(correlated, EXISTS, NOT IN, scalar), recursive CTEs, the Spark 4 SQL
surface (pipe syntax, VARIANT, higher-order functions over arrays and
maps) and the change-data shapes (SCD2, upsert, incremental aggregate
maintenance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.relational import asof_join, sessionize, top_k_per_group
from ..sources.loaders import load_table
from .common import _idiv
from .registry import register


@register(
    "q1_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice), 4) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2024-11-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="""TPC-H Q1 shape — the canonical grouped aggregation: 2 keys,
    8 aggregates, predicate pushed to the scan.  Partial aggregation
    map-side means the shuffle carries ~|groups|×|partitions| rows.""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-11-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_top_revenue",
    oracle="""
        SELECT o.o_orderkey,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
               o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey, o.o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    doc="""TPC-H Q3 shape — selective dim filter, 3-way join, grouped
    agg, global top-k with deterministic tiebreak.  The customer side is
    broadcast (post-filter it is small); orders⋈lineitem shuffles on
    orderkey.  TakeOrderedAndProject replaces a full sort for the
    LIMIT.""",
)
def q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir).where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderpriority")
    )


@register(
    "q5_nation_revenue",
    oracle="""
        SELECT n.n_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
    """,
    doc="""TPC-H Q5 shape — star join through two broadcast dims with a
    region filter.  The fact table never shuffles for the joins; only
    the final small aggregation shuffles.""",
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).where(F.col("r_name") == "ASIA")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


@register(
    "join_semi",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400)
    """,
    doc="Left-semi join (EXISTS) — emits each customer at most once.",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).where(F.col("o_totalprice") > 400)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 490000)
    """,
    doc="""Left-anti join (NOT EXISTS) — customers with no order above
    490k (threshold chosen so the result is non-empty at sf0.01).""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).where(F.col("o_totalprice") > 490000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_outer_counts",
    oracle="""
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
               round(coalesce(sum(o.o_totalprice), 0), 4) AS total_spend
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    """,
    doc="Left-outer join + grouped agg, nulls counted as zero.",
)
def join_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias("total_spend"),
        )
    )


@register(
    "setops_users",
    oracle="""
        (SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'purchase')
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'error'
        GROUP BY user_id HAVING count(*) > 20
    """,
    doc="""Set operations: INTERSECT + EXCEPT (distinct set semantics);
    the EXCEPT side is thresholded so the result is non-empty at
    sf0.01.""",
)
def setops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    clickers = ev.where(F.col("event_type") == "click").select("user_id")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    noisy = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 20)
        .select("user_id")
    )
    return clickers.intersect(buyers).exceptAll(noisy)


@register(
    "union_type_pairs",
    oracle="""
        SELECT user_id, 'click_or_view' AS kind FROM events
        WHERE event_type IN ('click', 'view')
        UNION
        SELECT user_id, 'buyer' AS kind FROM events WHERE event_type = 'purchase'
    """,
    doc="UNION (distinct) of two labeled selections.",
)
def union_type_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    a = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id", F.lit("click_or_view").alias("kind")
    )
    b = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.lit("buyer").alias("kind")
    )
    return a.union(b).distinct()


@register(
    "window_order_ranks",
    oracle="""
        SELECT * FROM (
            SELECT o_custkey, o_orderkey,
                   row_number() OVER w AS rn,
                   lag(o_orderkey) OVER w AS prev_order,
                   lead(o_orderkey) OVER w AS next_order,
                   round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                       AS running_spend
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ) t WHERE rn <= 3
    """,
    doc="""Window functions — row_number/lag/lead + running frame sum over
    one shared sort (single shuffle on the partition key).""",
)
def window_order_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.lag("o_orderkey").over(w).alias("prev_order"),
            F.lead("o_orderkey").over(w).alias("next_order"),
            F.round(
                F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 4
            ).alias("running_spend"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "rollup_status_priority",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n, round(sum(o_totalprice), 4) AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP hierarchy totals (status → status+priority → grand).",
)
def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@register(
    "cube_status_priority",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE — all grouping-set combinations.",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
    )


@register(
    "topk_orders_per_customer",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) t WHERE rn <= 3
    """,
    doc="Top-k per group (k=3) with deterministic tiebreak.",
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return top_k_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
    ).select("o_custkey", "o_orderkey", "o_totalprice")


@register(
    "orderby_limit_global",
    oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    doc="""Global sort + limit — Spark plans TakeOrderedAndProject
    (per-partition top-k then merge at the driver), never a full sort.""",
)
def orderby_limit_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "range_join_ship_lag",
    oracle="""
        SELECT o.o_orderpriority, count(*) AS n_items,
               round(sum(l.l_quantity), 4) AS total_qty
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         AND l.l_shipdate >= o.o_orderdate
         AND l.l_shipdate <= o.o_orderdate + INTERVAL 7 DAY
        GROUP BY o.o_orderpriority
    """,
    doc="""Equi + range join — the equi key carries the shuffle; the
    range predicate evaluates post-join (never a cartesian).""",
)
def range_join_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 7 DAY"))
    )
    return (
        li.join(o, cond)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_items"), F.round(F.sum("l_quantity"), 4).alias("total_qty"))
    )


@register(
    "asof_purchase_last_click",
    oracle="""
        SELECT p.event_id, p.user_id,
               floor(epoch(c.ts))::BIGINT AS asof_click_epoch
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="""As-of join — for each purchase, the latest click at or before
    it per user.  Implemented as union + last-ignorenulls over one window
    sort (operators/relational.py:asof_join): one shuffle, no range
    explosion.""",
)
def asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts", right_value_cols=["ts"]
    )
    return joined.select(
        "event_id", "user_id", F.unix_timestamp("asof_ts").alias("asof_click_epoch")
    )


@register(
    "pivot_event_counts",
    oracle="""
        SELECT user_id,
               count(*) FILTER (event_type = 'click') AS click,
               count(*) FILTER (event_type = 'view') AS view,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'signup') AS signup,
               count(*) FILTER (event_type = 'error') AS error
        FROM events GROUP BY user_id
    """,
    doc="Pivot — event-type counts as columns per user.",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, subset=types)
    )


@register(
    "sessionize_users",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        )
        SELECT user_id, sum(is_new)::BIGINT AS n_sessions, count(*) AS n_events
        FROM flagged GROUP BY user_id
    """,
    doc="""Sessionization — 30-min-gap sessions via lag + running sum
    (operators/relational.py:sessionize); streaming twin uses
    session_window.""",
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts")
    sessions = sessionize(ev, key="user_id", ts="ts", gap_minutes=30)
    return sessions.groupBy("user_id").agg(
        F.max("session_seq").alias("n_sessions"), F.count("*").alias("n_events")
    )


@register(
    "distinct_exact",
    oracle="SELECT count(DISTINCT user_id) AS n_users, count(DISTINCT event_type) AS n_types FROM events",
    doc="Exact distinct aggregation (expand + two-phase count).",
)
def distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "approx_distinct",
    oracle="""
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS approx_within_5pct
        FROM events GROUP BY event_type
    """,
    doc="""approx_count_distinct (HyperLogLog++, rsd=0.01).  Sketch
    estimates differ across engines, but the estimate is DETERMINISTIC
    for a fixed input — so the hash-checked contract is a bounded-error
    assertion: the approx estimate must land within 5% of the exact
    count (measured deterministic error ≤ 0.7% at sf 0.001/0.01/0.1 —
    huge margin).  The oracle carries the exact counts plus the
    always-true bound.""",
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_within_5pct"),
    )


@register(
    "q6_forecast_revenue",
    oracle="""
        SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    doc="""TPC-H q6 shape: highly selective conjunctive filter + global
    aggregate.  Every predicate (date range, discount band, quantity)
    reaches the parquet scan as a pushed filter — at 100 TB with
    date-partitioned layout this prunes partitions before reading;
    the aggregate is a single partial+final sum, no keyed shuffle.""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q12_priority_shipping",
    oracle="""
        SELECT l.l_returnflag,
               sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS low_line_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_returnflag
    """,
    doc="""TPC-H q12 shape: fact-fact equi-join + conditional aggregation
    (CASE inside SUM).  The orders⋈lineitem join shuffles both sides on
    the order key once; the conditional sums are partial-aggregated
    map-side so the final exchange carries 3 rows per partition.""",
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q18_large_volume_orders",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
               round(agg.total_qty, 4) AS total_qty
        FROM orders o
        JOIN (
            SELECT l_orderkey, sum(l_quantity) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(l_quantity) > 250
        ) agg ON o.o_orderkey = agg.l_orderkey
    """,
    doc="""TPC-H q18 shape: grouped subquery with HAVING, joined back to
    the parent table.  The quantity rollup aggregates lineitem down to
    |orders| rows *before* the join (aggregate pushdown by
    construction); the HAVING filter then shrinks the join's build side
    to the rare heavy orders — at 100 TB that side becomes
    broadcastable and the orders scan never shuffles.""",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    agg = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return o.join(agg, o.o_orderkey == agg.l_orderkey).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.round("total_qty", 4).alias("total_qty"),
    )


SALT_BUCKETS = 8


@register(
    "salted_join_skew",
    oracle="""
        SELECT c.c_nationkey,
               count(*) AS n_events,
               round(sum(e.value), 4) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_nationkey
    """,
    doc="""Skew-proof salted join: the fact side gets a deterministic
    salt in [0, 8), the dimension side is exploded 8× so every
    (key, salt) combination exists, and the join runs on the composite
    key — a hot user's rows spread over 8 shuffle partitions instead of
    one.  Salting is purely a physical strategy: the result is
    bit-identical to the plain join the oracle runs.  (AQE skew-join
    handles moderate skew automatically; explicit salting is the tool
    for pathological single-key hotspots.)""",
)
def salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import salted_join

    e = load_table(spark, "events", sf_dir)
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    return (
        salted_join(
            e, c, "user_id", "c_custkey",
            salt_on=["event_id"], buckets=SALT_BUCKETS,
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


_CORRELATED_SQL = """
    SELECT o.o_orderkey, o.o_custkey,
           round(o.o_totalprice, 4) AS total_price
    FROM orders o
    WHERE o.o_totalprice > (
        SELECT 1.5 * avg(o2.o_totalprice)
        FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
    )
"""


@register(
    "correlated_subquery_orders",
    oracle=_CORRELATED_SQL,
    doc="""Correlated scalar subquery (orders 1.5× above their
    customer's average), same ANSI text in both engines.  Catalyst
    decorrelates it into an aggregate + self-join on o_custkey — one
    keyed shuffle, no per-row re-execution; the plan is the same shape
    a hand-written window/join would produce.""",
)
def correlated_subquery_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(_CORRELATED_SQL)


@register(
    "q4_priority_exists",
    oracle="""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        )
        GROUP BY o_orderpriority
    """,
    doc="""TPC-H q4 shape: EXISTS correlated subquery → left-semi join.
    The semi join emits each order at most once regardless of matching
    lineitem multiplicity — the build side deduplicates in the join
    itself, no distinct needed.""",
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    cond = (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate)
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "q13_order_count_distribution",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey
        )
        SELECT c_count, count(*) AS custdist
        FROM per_cust GROUP BY c_count
    """,
    doc="""TPC-H q13 shape: left outer join + two-level aggregation —
    customers with zero orders survive the outer join (count of a NULL
    key = 0) and land in the c_count=0 bucket.  The distribution
    aggregate runs over |customers| rows, already reduced.""",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q14_promo_revenue_ratio",
    oracle="""
        SELECT round(
                 100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
    doc="""TPC-H q14 shape: conditional-ratio aggregate over a fact⋈dim
    join — the part side broadcasts, both sums partial-aggregate
    map-side, the final exchange carries two doubles per partition.""",
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"))
    )


@register(
    "q16_supplier_count_excluding",
    oracle="""
        SELECT p.p_brand, p.p_size,
               count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
        )
        GROUP BY p.p_brand, p.p_size
    """,
    doc="""TPC-H q16 shape: NOT IN exclusion subquery (anti join against
    a tiny filtered build side) + grouped distinct count.  The distinct
    aggregates via partial sets per partition — the exchange carries
    (brand, size, suppkey) triples, not raw lineitem rows.""",
)
def q16_supplier_count_excluding(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    bad = s.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q19_disjunctive_predicate_join",
    oracle="""
        SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
               count(*) AS n_lines
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="""TPC-H q19 shape: OR-of-ANDs predicate across both join sides.
    Catalyst keeps the equi-key (partkey) as the join condition and
    evaluates the disjunction post-join; the common subexpressions
    (brand checks) stay on the broadcast side.""",
)
def q19_disjunctive_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    q = F.col("l_quantity")
    b = F.col("p_brand")
    pred = (
        ((b == "Brand#1") & q.between(1, 11))
        | ((b == "Brand#2") & q.between(10, 20))
        | ((b == "Brand#3") & q.between(20, 30))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(pred)
        .agg(F.round(F.sum(rev), 4).alias("revenue"), F.count("*").alias("n_lines"))
    )


@register(
    "upsert_snapshot_changes",
    oracle="""
        WITH changes AS (
            SELECT c_custkey, c_name, c_nationkey,
                   round(c_acctbal + 1000.0, 4) AS c_acctbal, c_mktsegment
            FROM customer WHERE c_custkey % 10 = 0
            UNION ALL
            SELECT c_custkey + 1000000, c_name, c_nationkey,
                   round(c_acctbal, 4), c_mktsegment
            FROM customer WHERE c_custkey < 5
        ),
        tagged AS (
            SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 4) AS c_acctbal,
                   c_mktsegment, 0 AS _src
            FROM customer
            UNION ALL
            SELECT *, 1 AS _src FROM changes
        )
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY c_custkey ORDER BY _src DESC) AS _rn
            FROM tagged
        ) WHERE _rn = 1
    """,
    doc="""Snapshot + change-set merge (MERGE INTO semantics): updates
    replace, unmatched changes insert — the operation the reference's
    topology-delta pull feeds (getTopologyChangesFromDate, reference:
    transis_consumer.py:157-164).  Union + per-key latest-wins: one
    shuffle on the key (operators/relational.py:upsert).  The change
    set here is a deterministic derivation (every 10th customer's
    balance bumped, five re-keyed inserts) so both engines build the
    identical delta.""",
)
def upsert_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import upsert

    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_nationkey",
        F.round("c_acctbal", 4).alias("c_acctbal"), "c_mktsegment",
    )
    updates = c.where(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 1000.0, 4)
    )
    inserts = c.where(F.col("c_custkey") < 5).withColumn(
        "c_custkey", F.col("c_custkey") + 1_000_000
    )
    return upsert(c, updates.unionByName(inserts), "c_custkey")


@register(
    "q17_small_quantity_revenue",
    oracle="""
        SELECT round(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (
              SELECT 0.2 * avg(l2.l_quantity)
              FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
          )
    """,
    doc="""TPC-H q17 shape: correlated average subquery against the same
    fact table.  Catalyst decorrelates into a per-partkey aggregate
    joined back — the aggregate side is |parts| rows, broadcastable;
    the fact table is scanned twice but shuffled once each on the same
    key (a CTE/cache would share the scan at a real deployment).""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(p.where(F.col("p_brand") == "Brand#1"), li.l_partkey == p.p_partkey)
        .join(thresholds, li.l_partkey == thresholds.t_partkey)
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@register(
    "q21_waiting_orders_multi_exists",
    oracle="""
        SELECT s.s_name, count(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > l1.l_shipdate
          )
        GROUP BY s.s_name
    """,
    doc="""TPC-H q21 shape: EXISTS + NOT EXISTS against the same fact
    table (the last supplier to ship on a multi-supplier order).  Two
    self-joins on the order key, planned as a semi then an anti join —
    both shuffles share the l_orderkey partitioning, so AQE reuses the
    exchange; the supplier/orders dims broadcast.""",
)
def q21_waiting_orders_multi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, "supplier", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    l3 = li.alias("l3")
    has_other = l1.join(
        l2,
        (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
        "left_semi",
    )
    not_later = has_other.alias("l1").join(
        l3,
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
        & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
        "left_anti",
    )
    return (
        not_later.join(o.where(F.col("o_orderstatus") == "F"), F.col("l_orderkey") == o.o_orderkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "q22_idle_customers_not_exists",
    oracle="""
        SELECT substr(c.c_name, 10, 2) AS cntrycode,
               count(*) AS numcust,
               round(sum(c.c_acctbal), 4) AS totacctbal
        FROM customer c
        WHERE c.c_acctbal > (
            SELECT avg(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
        )
        GROUP BY 1
    """,
    doc="""TPC-H q22 shape: uncorrelated scalar subquery (global
    average, one row broadcast) + NOT EXISTS anti join (customers
    with no urgent orders) + substring grouping.  The anti join's build side is the orders key set; at
    scale the distinct o_custkey projection shrinks it before the
    broadcast.""",
)
def q22_idle_customers_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.where(F.col("o_orderpriority") == "1-URGENT"),
            c.c_custkey == o.o_custkey,
            "left_anti",
        )
        .groupBy(F.substring("c_name", 10, 2).alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


@register(
    "window_frames_running",
    oracle="""
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                   AS running_total,
               round(avg(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
                   AS moving_avg_3,
               ntile(4) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                   AS quartile
        FROM orders WHERE o_custkey < 200
    """,
    doc="""Window frame surface: running total (unbounded preceding),
    3-row moving average, and ntile quartiles — per-customer frames over
    a deterministic (date, key) order.  One shuffle on the partition
    key; all three functions share the same sort, so Spark evaluates
    them in a single Window operator.""",
)
def window_frames_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, "orders", sf_dir).where(F.col("o_custkey") < 200)
    order = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    moving = order.rowsBetween(-2, W.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(running), 4).alias("running_total"),
        F.round(F.avg("o_totalprice").over(moving), 4).alias("moving_avg_3"),
        F.ntile(4).over(order).alias("quartile"),
    )


@register(
    "q7_nation_trade_volume",
    oracle="""
        SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
               year(l.l_shipdate) AS ship_year,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS volume
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        WHERE cn.n_nationkey < 2 AND sn.n_nationkey < 2
          AND cn.n_nationkey <> sn.n_nationkey
        GROUP BY 1, 2, 3
    """,
    doc="""TPC-H q7 shape: five-way join resolving both trading nations
    of each line item, grouped by (customer nation, supplier nation,
    year).  The one fact-fact shuffle is orders⋈lineitem on the order
    key; customer/supplier/nation all broadcast, and the nation filters
    prune before the join.""",
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    cn = n.where(F.col("n_nationkey") < 2).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.where(F.col("n_nationkey") < 2).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cn, c.c_nationkey == F.col("cn_key"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(sn, s.s_nationkey == F.col("sn_key"))
        .where(F.col("cn_key") != F.col("sn_key"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.round(F.sum(rev), 4).alias("volume"))
    )


@register(
    "q10_returned_revenue_top20",
    oracle="""
        SELECT c.c_custkey, c.c_name, n.n_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE l.l_returnflag = 'R'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
    doc="""TPC-H q10 shape: revenue lost to returns per customer, top
    20.  The returnflag filter pushes to the lineitem scan; one
    orders⋈lineitem shuffle; customer/nation broadcast; the global
    top-20 is a TakeOrdered (per-partition heads merged at the driver),
    never a full sort.""",
)
def q10_returned_revenue_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).where(F.col("l_returnflag") == "R")
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(rev), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q15_top_supplier_by_revenue",
    oracle="""
        WITH sup_rev AS (
            SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS total_revenue
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s
        JOIN sup_rev r ON r.l_suppkey = s.s_suppkey
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM sup_rev)
    """,
    doc="""TPC-H q15 shape: aggregate view + equality-to-max filter (all
    suppliers achieving the maximum revenue — robust to ties, unlike a
    LIMIT 1).  The revenue rollup reduces lineitem to |suppliers| rows;
    the scalar max broadcasts back over that reduced frame.""",
)
def q15_top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    sup_rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "total_revenue"
        )
    )
    max_rev = sup_rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        s.join(sup_rev, s.s_suppkey == sup_rev.l_suppkey)
        .crossJoin(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q2_min_per_group_suppliers",
    oracle="""
        SELECT s.s_suppkey, s.s_name, n.n_name, round(s.s_acctbal, 4) AS s_acctbal
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE s.s_acctbal = (
            SELECT min(s2.s_acctbal) FROM supplier s2
            WHERE s2.s_nationkey = s.s_nationkey
        )
    """,
    doc="""TPC-H q2 shape: correlated min-per-group equality filter (the
    lowest-balance supplier of each nation, ties kept).  Catalyst
    decorrelates into a per-nation min aggregate joined back — the
    aggregate side is |nations| rows, broadcast; no window sort
    needed.""",
)
def q2_min_per_group_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    mins = s.groupBy(F.col("s_nationkey").alias("m_key")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(mins), s.s_nationkey == F.col("m_key"))
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .select(
            "s_suppkey", "s_name", "n_name", F.round("s_acctbal", 4).alias("s_acctbal")
        )
    )


@register(
    "q8_market_share",
    oracle="""
        WITH all_trade AS (
            SELECT year(l.l_shipdate) AS yr,
                   l.l_extendedprice * (1 - l.l_discount) AS volume,
                   sn.n_nationkey AS supp_nation
            FROM lineitem l
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        )
        SELECT yr,
               round(sum(CASE WHEN supp_nation = 0 THEN volume ELSE 0 END)
                     / sum(volume), 6) AS nation0_share
        FROM all_trade GROUP BY yr
    """,
    doc="""TPC-H q8 shape: market-share ratio per year (one nation's
    volume over total volume) — a conditional-sum ratio over a
    fact⋈dim⋈dim join.  Both sums share one aggregation; supplier and
    nation broadcast; round-6 keeps the cross-engine ratio exact.""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(s, li.l_suppkey == s.s_suppkey).join(
        n, s.s_nationkey == n.n_nationkey
    )
    nat0 = F.when(F.col("n_nationkey") == 0, vol).otherwise(0.0)
    return (
        joined.groupBy(F.year("l_shipdate").alias("yr"))
        .agg(F.round(F.sum(nat0) / F.sum(vol), 6).alias("nation0_share"))
    )


@register(
    "q11_important_stock_share",
    oracle="""
        WITH sup_val AS (
            SELECT s.s_nationkey, round(sum(l.l_extendedprice * l.l_quantity), 4)
                       AS value
            FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
            GROUP BY s.s_nationkey
        )
        SELECT s_nationkey, value
        FROM sup_val
        WHERE value > (SELECT 0.05 * sum(value) FROM sup_val)
    """,
    doc="""TPC-H q11 shape: groups whose share exceeds a fraction of the
    global total (HAVING against an uncorrelated scalar aggregate of the
    same rollup).  The rollup runs once; the scalar total broadcasts
    back over |nations| rows.""",
)
def q11_important_stock_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    sup_val = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 4).alias(
                "value"
            )
        )
    )
    total = sup_val.agg((0.05 * F.sum("value")).alias("threshold"))
    return (
        sup_val.crossJoin(F.broadcast(total))
        .where(F.col("value") > F.col("threshold"))
        .select("s_nationkey", "value")
    )


@register(
    "q20_nested_in_chain",
    oracle="""
        SELECT s.s_suppkey, s.s_name
        FROM supplier s
        WHERE s.s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE '%a%'
            )
            GROUP BY l_suppkey
            HAVING sum(l_quantity) > 100
        )
        ORDER BY s.s_suppkey
    """,
    doc="""TPC-H q20 shape: two-level nested IN (suppliers who moved
    >100 units of matching parts) — planned as a chain of semi joins
    with the grouped HAVING filter in between.  Every level shrinks the
    key set before the next join; the final semi join's build side is
    the surviving supplier keys.""",
)
def q20_nested_in_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, "supplier", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    matching_parts = p.where(F.col("p_name").like("%a%")).select("p_partkey")
    heavy_suppliers = (
        li.join(matching_parts, li.l_partkey == matching_parts.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 100)
        .select("l_suppkey")
    )
    return (
        s.join(heavy_suppliers, s.s_suppkey == heavy_suppliers.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "listagg_order_priorities",
    oracle="""
        SELECT o_orderstatus,
               string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
                   AS priorities,
               count(*) AS n_orders
        FROM orders GROUP BY o_orderstatus
    """,
    doc="""Ordered string aggregation (LISTAGG shape): the distinct
    priorities seen per order status, joined in sorted order —
    collect_set + sort_array + array_join on the Spark side makes the
    concatenation deterministic regardless of partitioning (an unsorted
    collect_list would be partition-order-dependent and could never
    hash-match).""",
)
def listagg_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.groupBy("o_orderstatus").agg(
        F.array_join(
            F.sort_array(F.collect_set("o_orderpriority")), ","
        ).alias("priorities"),
        F.count("*").alias("n_orders"),
    )


@register(
    "date_arithmetic_orders",
    oracle="""
        SELECT o_orderkey,
               datediff('day', o_orderdate, TIMESTAMP '2002-01-01')
                   AS age_days,
               (2002 - year(o_orderdate)) * 12 - month(o_orderdate) + 1
                   AS age_months,
               last_day(o_orderdate)::DATE AS month_end,
               quarter(o_orderdate) AS qtr
        FROM orders WHERE o_orderkey < 1000
    """,
    doc="""Calendar arithmetic surface: day-precision age against a
    fixed reference, integer calendar-month index difference (avoids
    the engines' divergent fractional months_between semantics),
    month-end boundary, quarter — all integer-exact expressions pushed
    into the scan stage.""",
)
def date_arithmetic_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.datediff(F.lit("2002-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "age_days"
        ),
        (
            (F.lit(2002) - F.year("o_orderdate")) * 12
            - F.month("o_orderdate")
            + 1
        ).alias("age_months"),
        F.last_day("o_orderdate").alias("month_end"),
        F.quarter("o_orderdate").alias("qtr"),
    )


@register(
    "q9_product_profit",
    oracle="""
        SELECT n.n_name AS nation,
               year(o.o_orderdate) AS yr,
               round(sum(l.l_extendedprice * (1 - l.l_discount)
                         - p.p_retailprice * 0.1 * l.l_quantity), 4)
                   AS profit
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY n.n_name, year(o.o_orderdate)
    """,
    doc="""TPC-H q9 shape (product-type profit by nation and year): a
    5-way join fanning out from lineitem with a LIKE filter on part
    names, conditional profit arithmetic, and a (nation, year) rollup.
    The testdata has no partsupp table, so supply cost is derived as
    10% of p_retailprice — the join/aggregation topology (the point of
    q9) is unchanged.  part/supplier/nation broadcast; orders⋈lineitem
    is the one fact-fact shuffle; the LIKE predicate prunes part before
    the join fan-out.""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).where(F.col("p_name").like("%red%"))
    s = load_table(spark, "supplier", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * 0.1 * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr"))
        .agg(F.round(F.sum(profit), 4).alias("profit"))
    )


@register(
    "grouping_sets_orders",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS (not derivable from cube/rollup shape).",
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "string_functions",
    oracle="""
        SELECT doc_id,
               upper(substr(text, 1, 10)) AS head_upper,
               length(text) AS len,
               replace(substr(text, 1, 30), ' ', '_') AS snake,
               CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS mentions_spark,
               strpos(text, 'data') AS data_pos
        FROM documents
    """,
    doc="String scalar surface: upper/substr/replace/like/instr.",
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.upper(F.substring("text", 1, 10)).alias("head_upper"),
        F.length("text").alias("len"),
        F.regexp_replace(F.substring("text", 1, 30), " ", "_").alias("snake"),
        F.when(F.col("text").like("%spark%"), 1).otherwise(0).alias("mentions_spark"),
        F.instr(F.col("text"), "data").alias("data_pos"),
    )


@register(
    "array_functions",
    oracle="""
        SELECT doc_id,
               len(list_distinct(string_split(text, ' '))) AS n_distinct_words,
               string_split(text, ' ')[1] AS first_word,
               string_split(text, ' ')[-1] AS last_word,
               list_sort(list_distinct(string_split(text, ' ')))[1] AS min_word,
               array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], '|')
                   AS first3_sorted
        FROM documents
    """,
    doc="Array/collection scalar surface: distinct/sort/index/slice/join.",
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    words = F.split("text", " ")
    sorted_distinct = F.array_sort(F.array_distinct(words))
    return docs.select(
        "doc_id",
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
        F.element_at(sorted_distinct, 1).alias("min_word"),
        F.array_join(F.slice(sorted_distinct, 1, 3), "|").alias("first3_sorted"),
    )


@register(
    "hof_array_surface",
    oracle="""
        WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        SELECT doc_id,
               len(w)::BIGINT AS n_words,
               list_sum(list_transform(w, x -> length(x)))::BIGINT
                   AS total_chars,
               len(list_filter(w, x -> length(x) > 4))::BIGINT
                   AS n_long_words,
               CAST(list_contains(w, 'spark') AS INT) AS has_spark,
               CAST(len(list_filter(w, x -> length(x) >= 20)) = 0 AS INT)
                   AS all_short,
               array_to_string(
                   list_transform(generate_series(1, least(3, len(w))),
                                  i -> w[i] || ':' || i), ',')
                   AS first3_indexed
        FROM base
    """,
    doc="""Higher-order-function surface: transform (word→length map
    inside the array), aggregate (per-row sum over the transformed
    array), filter (+ size), exists (membership), forall (bounded
    length), and zip_with against a generated index sequence — the
    lambda-expression family Catalyst evaluates per-row WITHOUT
    exploding (no shuffle, no row multiplication; the whole query is
    one codegen'd projection over the scan).  Booleans cast to INT for
    cross-engine canon.""",
)
def hof_array_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    w = F.split("text", " ")
    lengths = F.transform(w, lambda x: F.length(x))
    indexed = F.zip_with(
        w,
        F.sequence(F.lit(1), F.size(w)),
        lambda x, i: F.concat(x, F.lit(":"), i.cast("string")),
    )
    return docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        F.aggregate(
            lengths, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_chars"),
        F.size(F.filter(w, lambda x: F.length(x) > 4))
        .cast("long")
        .alias("n_long_words"),
        F.exists(w, lambda x: x == "spark").cast("int").alias("has_spark"),
        F.forall(w, lambda x: F.length(x) < 20).cast("int").alias("all_short"),
        F.array_join(F.slice(indexed, 1, 3), ",").alias("first3_indexed"),
    )


@register(
    "setops_bag_semantics",
    oracle="""
        SELECT user_id, count(*) AS n FROM (
            SELECT user_id FROM events WHERE event_type IN ('click', 'view')
            UNION ALL
            SELECT user_id FROM events WHERE event_type = 'purchase'
        ) GROUP BY user_id
    """,
    doc="UNION ALL (bag semantics) + grouped count.",
)
def setops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    a = ev.where(F.col("event_type").isin("click", "view")).select("user_id")
    b = ev.where(F.col("event_type") == "purchase").select("user_id")
    return a.unionAll(b).groupBy("user_id").agg(F.count("*").alias("n"))


# The SQL front door: one ANSI-SQL text, executed verbatim by BOTH
# engines — spark.sql over registered temp views on the Spark side, the
# oracle on the DuckDB side.  Proves the engine's SQL interface without
# a separate translation layer.
_SQL_INTERFACE_TEXT = """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    WHERE o_orderstatus <> 'F'
    GROUP BY o_orderpriority
"""


@register(
    "sql_interface_orders",
    oracle=_SQL_INTERFACE_TEXT,
    doc="""SQL-text interface parity: the exact same ANSI string runs
    through spark.sql (temp views over the parquet tables) and DuckDB.
    Catalyst plans it identically to the DataFrame form — pushdown,
    pruning, partial aggregation all apply.""",
)
def sql_interface_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(_SQL_INTERFACE_TEXT)


@register(
    "unpivot_user_metrics",
    oracle="""
        WITH wide AS (
            SELECT user_id,
                   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS clicks,
                   sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS views,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchases
            FROM events WHERE user_id < 150 GROUP BY user_id
        )
        SELECT user_id, metric, value
        FROM wide UNPIVOT (value FOR metric IN (clicks, views, purchases))
    """,
    doc="""UNPIVOT / melt surface: per-user metric columns widened by
    conditional aggregation, then unpivoted back to (user_id, metric,
    value) long form — the inverse of the pivot query.  Spark's
    ``unpivot`` is a narrow expression expansion (no shuffle beyond the
    aggregation); zero-valued metrics stay present, unlike the sparse
    long form.""",
)
def unpivot_user_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir).where(F.col("user_id") < 150)

    def cnt(kind):
        return F.sum(F.when(F.col("event_type") == kind, 1).otherwise(0))

    wide = events.groupBy("user_id").agg(
        cnt("click").alias("clicks"),
        cnt("view").alias("views"),
        cnt("purchase").alias("purchases"),
    )
    return wide.unpivot(
        ids=["user_id"],
        values=["clicks", "views", "purchases"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "try_cast_dirty_data",
    # The integer-literal regexp guard is SYMMETRIC since round 10: the
    # SAME anchored pattern gates the cast in BOTH engines, so neither
    # engine's cast-trim quirks can diverge.  History: round 9 added
    # the guard oracle-side only (DuckDB's try_cast parses '3.5'/'1e2'
    # where Spark NULLs); round-10 ADVICE found the residual hole —
    # Spark's try_cast trims adjacent whitespace ('12\n' -> 12) that
    # the oracle guard rejects.  \A/\z anchors because Java's '$'
    # matches BEFORE a trailing newline while DuckDB/RE2's does not.
    # Overflow stays symmetric: both engines NULL an out-of-range
    # integer literal under try_cast.
    oracle=r"""
        WITH leads AS (
            SELECT source,
                   CASE WHEN regexp_matches(split_part(text, ' ', 1),
                                            '\A[+-]?[0-9]+\z')
                        THEN try_cast(split_part(text, ' ', 1) AS INTEGER)
                   END AS lead_int
            FROM documents
        )
        SELECT source,
               count(*) AS n_docs,
               count(lead_int) AS n_numeric_leads,
               count(*) - count(lead_int) AS n_unparseable
        FROM leads GROUP BY source
    """,
    doc="""Error-safe casting surface (dirty-data ingestion): TRY_CAST
    turns unparseable values into NULLs instead of failing the job, and
    count(expr) skips them — the fail-soft twin of the engine's
    fail-stop error assert (P6).  Here: how many documents lead with a
    numeric token, per source.  "Numeric" means an INTEGER literal
    (optional sign + digits, no adjacent whitespace): the same anchored
    regexp gates the cast in the Spark plan AND the DuckDB oracle, so
    the two engines' NULL sets are identical by construction — neither
    DuckDB's decimal/scientific coercion ('3.5', '1e2') nor Spark's
    whitespace-trimming cast ('12\\n') can leak through (pinned by
    test_round10_window_anchors.py).""",
)
def try_cast_dirty_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    lead = F.split("text", " ").getItem(0)
    parsed = F.when(
        lead.rlike(r"\A[+-]?[0-9]+\z"),
        F.expr("try_cast(split(text, ' ')[0] AS INT)"),
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(parsed).alias("n_numeric_leads"),
        (F.count("*") - F.count(parsed)).alias("n_unparseable"),
    )


@register(
    "scd2_customer_orders",
    oracle="""
        SELECT o_custkey,
               o_orderkey,
               o_totalprice,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                   AS valid_to,
               (lead(o_orderkey) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                   IS NULL)::BOOLEAN AS is_current
        FROM orders
    """,
    doc="""SCD2 (slowly-changing-dimension type 2) history build: each
    customer's order stream becomes validity intervals — valid_from =
    the order date, valid_to = the next order's date (NULL while
    current), is_current on the latest row.  The canonical lakehouse
    dimension-maintenance shape.  One window PARTITIONED BY o_custkey
    (orderkey tiebreak for same-day orders) — shuffles once on the
    dimension key, no global ordering, scales linearly with
    customers.""",
)
def scd2_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.lead("o_orderkey").over(w).isNull().alias("is_current"),
    )


# Incremental-maintenance split point: rows before this date play the
# "yesterday's materialized state" role; rows on/after it are the delta.
INCR_SPLIT = "1999-01-01"


@register(
    "incremental_agg_maintenance",
    oracle="""
        SELECT o_orderstatus,
               count(*)::BIGINT AS n_orders,
               round(sum(o_totalprice::DECIMAL(18,2))::DOUBLE, 2)
                   AS total_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc="""Incremental aggregate maintenance (materialized-view refresh
    shape): yesterday's aggregate state (orders before the split date,
    pre-aggregated) merges with today's delta's partial aggregate by
    UNION + re-reduce — counts and sums are algebraic, so the merge
    touches |groups| + |delta| rows and never rescans the base data.
    At 100 TB this is the difference between a daily full recompute
    and a delta-sized refresh.  Sums go through DECIMAL(18,2) so the
    two-level aggregation tree is bit-exact against the oracle's
    single-level full recompute (FP addition order would differ).""",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    price = F.col("o_totalprice").cast("decimal(18,2)")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.sum(price).alias("total_price"),
        )

    base_state = partial(orders.where(F.col("o_orderdate") < INCR_SPLIT))
    delta = partial(orders.where(F.col("o_orderdate") >= INCR_SPLIT))
    return (
        base_state.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_price").alias("total_price"),
        )
        .select(
            "o_orderstatus",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.round(F.col("total_price").cast("double"), 2).alias(
                "total_price"
            ),
        )
    )


@register(
    "asof_click_next_purchase",
    oracle="""
        SELECT c.event_id, c.user_id,
               floor(epoch(p.ts))::BIGINT AS asof_purchase_epoch
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
    doc="""FORWARD as-of join — for each click, the EARLIEST purchase at
    or after it per user (click-to-conversion attribution; the mirror of
    asof_purchase_last_click, closing the formerly-declared backward-only
    limitation in operators/relational.py:asof_join).  Same plan shape:
    union + first-ignorenulls over one per-key window sort — one shuffle,
    no range explosion.  The carried value is the matched timestamp
    itself, so ties between equal-ts purchases cannot produce
    engine-dependent output.""",
)
def asof_click_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["ts"],
        direction="forward",
    )
    return joined.select(
        "event_id", "user_id", F.unix_timestamp("asof_ts").alias("asof_purchase_epoch")
    )


@register(
    "skyline_pareto_orders",
    oracle="""
        SELECT o_orderkey, o_orderdate, o_totalprice
        FROM orders o
        WHERE NOT EXISTS (
            SELECT 1 FROM orders e
            WHERE e.o_orderdate < o.o_orderdate
              AND e.o_totalprice > o.o_totalprice
        )
    """,
    doc="""Skyline (Pareto-frontier) operator over orders: keep every
    order not dominated by a strictly earlier AND strictly
    higher-priced one (Börzsönyi et al.'s SKYLINE OF, the classic
    "best trade-offs" query).  The oracle is the O(n²) NOT EXISTS
    definition (DuckDB's IEJoin handles it at gate scale); the engine
    runs the DISTRIBUTED sweep: bucket orders by month, per-bucket max
    price is a grouped aggregate whose ~n_months rows collect to the
    driver (bounded, the pack_context_windows pattern) for an
    EXCLUSIVE running max that broadcast-joins back; within a bucket a
    window partitioned by bucket with a RANGE frame to 1 day before
    the current order date supplies the strictly-earlier same-bucket
    max.  An order survives iff neither max exceeds its price — two
    keyed shuffles + one bounded collect, no self-join, no
    unpartitioned window.""",
)
def skyline_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import skyline_2d

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.datediff("o_orderdate", F.lit("1990-01-01").cast("date")).alias(
            "order_day"
        ),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("bucket"),
    )
    return skyline_2d(
        o, order_col="order_day", value_col="o_totalprice", bucket_col="bucket"
    ).select("o_orderkey", "o_orderdate", "o_totalprice")


# Identical ANSI text for BOTH engines (the sql_interface_orders
# pattern): a WITH RECURSIVE hierarchy walk — Spark 4 executes
# recursive CTEs natively (UnionLoop; each step is a bounded
# materialized increment), DuckDB likewise.  The hierarchy is the
# derived decimal-digit forest over part keys: parent(pk) =
# floor(pk/10), roots pk < 10 — contiguous keys guarantee every parent
# exists and depth is bounded by the key's digit count (≤7 at 100 TB
# scale; the recursion is O(depth) keyed joins, never unbounded).
_RECURSIVE_HIERARCHY_SQL = """
    WITH RECURSIVE chain (pk, root, depth) AS (
        SELECT p_partkey AS pk, p_partkey AS root, 0 AS depth
        FROM part WHERE p_partkey < 10
        UNION ALL
        SELECT p.p_partkey AS pk, c.root, c.depth + 1 AS depth
        FROM part p JOIN chain c
          ON CAST(floor(p.p_partkey / 10) AS BIGINT) = c.pk
        WHERE p.p_partkey >= 10
    )
    SELECT depth,
           count(*) AS n_parts,
           min(root) AS min_root,
           max(root) AS max_root,
           CAST(sum(pk) AS BIGINT) AS sum_keys
    FROM chain GROUP BY depth
"""


@register(
    "recursive_cte_hierarchy",
    oracle=_RECURSIVE_HIERARCHY_SQL,
    doc="""Recursive CTE (Spark 4 WITH RECURSIVE, executed natively as
    a UnionLoop): per-depth rollup of the derived parent hierarchy over
    part keys (parent = floor(key/10)) — the org-chart / BOM-explosion
    traversal shape.  The EXACT same ANSI text runs through spark.sql
    and DuckDB (the sql_interface_orders pattern).  Scale shape: each
    recursion step is one keyed equi-join of the previous increment
    against the scan, depth bounded by the key's digit count — the
    declarative replacement for a driver-side iterative loop.""",
)
def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "part", sf_dir).createOrReplaceTempView("part")
    return spark.sql(_RECURSIVE_HIERARCHY_SQL)


@register(
    "variant_json_extract",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
               CAST(json_extract_string(props, '$.missing') AS BIGINT)
                   AS missing_is_null,
               CAST(coalesce(json_valid(props), false) AS INT) AS is_parseable
        FROM events
    """,
    doc="""Semi-structured VARIANT surface (Spark 4): ``parse_json``
    into the binary VARIANT encoding, typed path extraction via
    ``variant_get`` (missing path → NULL, the shredding-friendly
    fail-soft), parse validity via try_parse_json — the open-schema
    ingestion path for event payloads that evolve without migrations.
    VARIANT keeps the parsed tree in one binary column (no
    per-field top-level columns, no re-parse per access) — the Spark-4
    answer to the JSON-string column this table ships.  The oracle
    checks the same typed values through DuckDB's JSON functions.""",
)
def variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    # try_parse_json everywhere: a NULL or malformed props row (the rows
    # is_parseable exists to flag) must yield NULL extractions, never
    # fail the query — matching the oracle's fail-soft JSON functions.
    return ev.select(
        "event_id",
        F.expr("variant_get(try_parse_json(props), '$.k', 'bigint')").alias(
            "k_typed"
        ),
        F.expr(
            "variant_get(try_parse_json(props), '$.missing', 'bigint')"
        ).alias("missing_is_null"),
        F.expr("CAST(try_parse_json(props) IS NOT NULL AS INT)").alias(
            "is_parseable"
        ),
    )


# Same ANSI text runs in both engines (Spark 4 lateral join; DuckDB
# LATERAL) — the correlated-subquery-with-LIMIT form of top-n per group.
_LATERAL_TOPN_SQL = """
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n,
    LATERAL (SELECT c.c_custkey, c.c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c.c_acctbal DESC, c.c_custkey LIMIT 2) t
"""


@register(
    "lateral_topn_per_nation",
    oracle=_LATERAL_TOPN_SQL,
    doc="""LATERAL correlated subquery (Spark 4 SQL surface): top-2
    customers by account balance per nation, written as the ANSI
    lateral-derived-table form — the same query text runs unchanged in
    DuckDB.  Catalyst decorrelates the per-row ORDER BY/LIMIT into a
    rank window partitioned by the correlation key plus one broadcast
    hash join (verified: no nested-loop, no cartesian in the physical
    plan) — so the declarative lateral form costs the same as the
    hand-written window top-n (topk_orders_per_customer).""",
)
def lateral_topn_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "nation", sf_dir).createOrReplaceTempView("nation")
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_TOPN_SQL)


# --- Spark 4 SQL pipe-operator syntax --------------------------------
@register(
    "sql_pipe_surface",
    oracle="""
        SELECT o_orderpriority,
               count(*)::BIGINT AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        HAVING count(*) > 10
        ORDER BY revenue DESC
        LIMIT 5
    """,
    doc="""The Spark 4 SQL pipe-operator syntax (SPARK-49555:
    ``FROM t |> WHERE |> AGGREGATE .. GROUP BY |> ORDER BY |> LIMIT``)
    driving a real multi-step aggregation over open orders — the
    pipelined-SQL surface a reference user writing sequential
    transformations would reach for.  The pipe form compiles to the
    IDENTICAL logical plan as the ANSI form (filter pushdown, partial
    aggregation, TakeOrderedAndProject all unchanged) — the oracle IS
    that ANSI form.""",
)
def sql_pipe_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE count(*) AS n_orders,
                     round(sum(o_totalprice), 2) AS revenue
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        |> SELECT o_orderpriority, CAST(n_orders AS BIGINT) AS n_orders,
                  revenue
        |> ORDER BY revenue DESC
        |> LIMIT 5
        """
    )


# --- Window distribution-function surface -----------------------------
@register(
    "window_distribution_stats",
    oracle="""
        WITH r AS (
            SELECT c_custkey, c_nationkey,
                   row_number() OVER w AS rn,
                   count(*) OVER (PARTITION BY c_nationkey) AS n,
                   ntile(10) OVER w AS balance_decile
            FROM customer
            WINDOW w AS (PARTITION BY c_nationkey
                         ORDER BY c_acctbal, c_custkey)
        )
        SELECT c_custkey, c_nationkey,
               CASE WHEN n > 1 THEN (((rn - 1) * 1000000) // (n - 1))
                    ELSE 0 END AS balance_pct_rank_micros,
               ((rn * 1000000) // n) AS balance_cume_micros,
               balance_decile
        FROM r
    """,
    doc="""The distribution window functions (percent_rank, cume_dist,
    ntile) over customer balances within each nation — the remaining
    members of the ANSI window surface after window_order_ranks
    (row_number/rank/dense_rank/lag/lead) and window_frames_running
    (frames).  The custkey tiebreak makes the order TOTAL, so
    percent_rank = (rn−1)/(n−1) and cume_dist = rn/n reduce to exact
    integer floor-micros ratios — round-6 doubles flipped one ulp at
    sf0.1 when the exact rational landed on the decimal half boundary
    (Spark's BigDecimal HALF_UP vs DuckDB's binary-double rounding),
    the same class the Holt fix closed; the integer contract removes
    the boundary entirely.  Every window is PARTITIONED by nation —
    the engine-wide no-unpartitioned-window invariant; at 100 TB each
    partition computes independently after one keyed shuffle.""",
)
def window_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W


    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    nw = W.partitionBy("c_nationkey")
    base = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(nw).alias("n"),
        F.ntile(10).over(w).alias("balance_decile"),
    )
    return base.select(
        "c_custkey",
        "c_nationkey",
        F.when(
            F.col("n") > 1,
            _idiv((F.col("rn") - 1) * 1_000_000, F.col("n") - 1),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("balance_pct_rank_micros"),
        _idiv(F.col("rn") * 1_000_000, F.col("n")).alias("balance_cume_micros"),
        "balance_decile",
    )


# --- Map higher-order-function surface --------------------------------
# Month split for the per-user activity-shift maps.
MAP_HOF_SPLIT = "2024-01-16 00:00:00"


@register(
    "map_hof_surface",
    oracle=f"""
        WITH c AS (
            SELECT user_id, event_type,
                   sum(CASE WHEN ts < TIMESTAMP '{MAP_HOF_SPLIT}'
                            THEN 1 ELSE 0 END)::BIGINT AS c1,
                   sum(CASE WHEN ts >= TIMESTAMP '{MAP_HOF_SPLIT}'
                            THEN 1 ELSE 0 END)::BIGINT AS c2
            FROM events GROUP BY user_id, event_type
        ), t AS (
            SELECT user_id, sum(c1 + c2)::BIGINT AS tot FROM c
            GROUP BY user_id
        )
        SELECT c.user_id, c.event_type,
               (c.c2 - c.c1)::BIGINT AS delta,
               round(1e6 * (c.c2 - c.c1) / t.tot)::BIGINT AS delta_ppm
        FROM c JOIN t USING (user_id)
        WHERE c.c2 <> c.c1
    """,
    doc=f"""Per-user activity-shift maps via the MAP higher-order
    functions — the map-typed complement of hof_array_surface: each
    user's first-half and second-half event-type count maps
    (map_from_entries over grouped counts, zero entries dropped with
    map_filter so the key sets genuinely differ), diffed with
    map_zip_with over the KEY UNION (missing sides coalesce to 0),
    zero deltas dropped with a second map_filter, and the surviving
    values enriched via transform_values (delta plus delta as ppm of
    the user's total activity) before exploding back to rows.  The
    split is {MAP_HOF_SPLIT!r}.  Scale shape: maps are bounded at
    |event types| entries per user — one grouped aggregation and pure
    codegen'd map expressions after it; the oracle replays the same
    semantics relationally (conditional halves, full key union via the
    grouped base, c2 <> c1 filter).""",
)
def map_hof_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", "ts"
    )
    split = F.lit(MAP_HOF_SPLIT).cast("timestamp")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("ts") >= split, 1).otherwise(0)).alias("c2"),
    )
    maps = counts.groupBy("user_id").agg(
        F.map_filter(
            F.map_from_entries(
                F.collect_list(F.struct("event_type", "c1"))
            ),
            lambda _, v: v > 0,
        ).alias("m1"),
        F.map_filter(
            F.map_from_entries(
                F.collect_list(F.struct("event_type", "c2"))
            ),
            lambda _, v: v > 0,
        ).alias("m2"),
        F.sum(F.col("c1") + F.col("c2")).alias("tot"),
    )
    delta = F.map_filter(
        F.map_zip_with(
            "m1",
            "m2",
            lambda _, a, b: F.coalesce(b, F.lit(0)) - F.coalesce(a, F.lit(0)),
        ),
        lambda _, v: v != 0,
    )
    enriched = F.transform_values(
        delta,
        lambda _, v: F.struct(
            v.cast("long").alias("delta"),
            F.round(F.lit(1e6) * v / F.col("tot")).cast("long").alias(
                "delta_ppm"
            ),
        ),
    )
    return (
        maps.select("user_id", F.explode(enriched).alias("event_type", "s"))
        .select("user_id", "event_type", "s.delta", "s.delta_ppm")
    )
