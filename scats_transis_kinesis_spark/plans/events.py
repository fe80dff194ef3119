"""Event and time-series queries over the clickstream and daily series.

Funnels, cohorts, sessions, streaks and islands; resampling with gap
fill and LOCF; sliding and decayed windows; seasonality, trend and
decomposition; autocorrelation, changepoints, bursts and anomalies;
Holt smoothing and forecast backtests; event paths, regex funnels,
transition counts, attribution and interval concurrency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.relational import bucketed_prefix_sums
from ..sources.loaders import load_table
from .common import _idiv
from .registry import register

# Decayed-counter parameters: half-life decay per hour, bounded horizon.
# The 1/2 decay base is EXACT in binary floating point (the weight is a
# plain power-of-two scaling), so the per-term micro rounding is
# bit-identical across engines — no libm pow() in the contract.
# Single source of truth lives beside the streaming twin so the pinned
# batch/stream parity contract cannot drift on an edit to one side.
from ..streaming.stateful import DECAY_HORIZON


@register(
    "funnel_view_click_purchase",
    oracle="""
        WITH stages AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events GROUP BY user_id
        ),
        depth AS (
            SELECT user_id,
                   CASE
                       WHEN t_view IS NULL THEN 0
                       WHEN t_click IS NULL OR t_click < t_view THEN 1
                       WHEN t_purchase IS NULL OR t_purchase < t_click THEN 2
                       ELSE 3
                   END AS funnel_depth
            FROM stages
        )
        SELECT funnel_depth, count(*) AS n_users
        FROM depth GROUP BY funnel_depth
    """,
    doc="""Ordered funnel (view → click → purchase): per user the first
    timestamp of each stage folds into a depth score — a user only
    advances if the stages happened *in order*.  One grouped
    aggregation with conditional mins (single shuffle on user_id, fully
    partial-aggregated), then a tiny depth histogram — no self-joins,
    no window over the event log.""",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    stages = events.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    depth = (
        F.when(F.col("t_view").isNull(), 0)
        .when(F.col("t_click").isNull() | (F.col("t_click") < F.col("t_view")), 1)
        .when(
            F.col("t_purchase").isNull() | (F.col("t_purchase") < F.col("t_click")), 2
        )
        .otherwise(3)
    )
    return (
        stages.select(depth.alias("funnel_depth"))
        .groupBy("funnel_depth")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "cohort_weekly_retention",
    oracle="""
        WITH firsts AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT e.user_id, f.cohort_week,
                   datediff('week', f.cohort_week, date_trunc('week', e.ts))
                       AS week_offset
            FROM events e JOIN firsts f USING (user_id)
        )
        SELECT cohort_week, week_offset, count(*) AS n_active_users
        FROM activity
        GROUP BY cohort_week, week_offset
    """,
    doc="""Weekly cohort retention: users bucketed by first-seen week,
    counted once per (cohort, weeks-since-first) they were active in.
    Two keyed aggregations and one equi-join on user_id — the join's
    right side is |users| rows (already reduced), and the final matrix
    is |cohorts|×|weeks|, tiny at any scale.""",
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    firsts = events.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    activity = (
        events.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    F.datediff(
                        F.to_date(F.date_trunc("week", F.col("ts"))),
                        F.col("cohort_week"),
                    )
                    / 7
                ).cast("long")
            ).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active_users")
    )


@register(
    "resample_gapfill_daily",
    oracle="""
        WITH bounds AS (
            SELECT user_id,
                   date_trunc('day', min(ts)) AS d0,
                   date_trunc('day', max(ts)) AS d1
            FROM events WHERE user_id < 110 GROUP BY user_id
        ),
        grid AS (
            SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM bounds
        ),
        actual AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   count(*) AS n_events, round(sum(value), 4) AS total_value
            FROM events WHERE user_id < 110 GROUP BY 1, 2
        )
        SELECT g.user_id, g.day,
               coalesce(a.n_events, 0) AS n_events,
               coalesce(a.total_value, 0.0) AS total_value
        FROM grid g LEFT JOIN actual a
          ON a.user_id = g.user_id AND a.day = g.day
    """,
    doc="""Time-series resample with gap filling: a dense per-key daily
    grid spanning each key's observed range (sequence + explode), left-
    joined to the actual per-day rollup — silent days appear as explicit
    zero rows (the SCATS shape: a detector that reported nothing in a
    window still needs a row saying so).  Grid generation is
    |keys|×|days| tiny rows from an aggregate; both joins are keyed —
    nothing scans the event log twice.""",
)
def resample_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir).where(F.col("user_id") < 110)
    day = F.date_trunc("day", F.col("ts"))
    bounds = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    actual = events.groupBy("user_id", day.alias("day")).agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value")
    )
    return (
        grid.join(actual, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
    )


@register(
    "sliding_window_traffic",
    oracle="""
        SELECT ws AS window_start, count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM events e
        JOIN (
            SELECT unnest(generate_series(
                TIMESTAMP '2023-12-31 23:55:00', TIMESTAMP '2024-02-01',
                INTERVAL 5 MINUTE)) AS ws
        ) w ON e.ts >= w.ws AND e.ts < w.ws + INTERVAL 10 MINUTE
        GROUP BY ws
    """,
    doc="""Sliding-window aggregation (10-minute windows every 5
    minutes): each event contributes to exactly two windows.  Spark's
    ``window(ts, size, slide)`` expands events to their windows
    in-partition (no join); the oracle reproduces the same epoch-aligned
    window grid with a range join.  The streaming twin is the same
    expression under a watermark.""",
)
def sliding_window_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("win.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "rfm_customer_segments",
    oracle="""
        WITH rfm AS (
            SELECT o_custkey,
                   max(o_orderdate) AS last_order,
                   count(*) AS frequency,
                   round(sum(o_totalprice), 4) AS monetary
            FROM orders GROUP BY o_custkey
        )
        SELECT ntile(4) OVER (ORDER BY last_order, o_custkey) AS r_quartile,
               ntile(4) OVER (ORDER BY frequency, o_custkey) AS f_quartile,
               ntile(4) OVER (ORDER BY monetary, o_custkey) AS m_quartile,
               o_custkey, frequency, monetary
        FROM rfm
        QUALIFY r_quartile = 4 AND f_quartile = 4 AND m_quartile = 4
    """,
    doc="""RFM segmentation (recency/frequency/monetary quartiles via
    ntile with deterministic key tiebreaks), returning the top-segment
    customers.  One grouped aggregate to |customers| rows; the three
    quartile assignments reproduce exact SQL ntile semantics WITHOUT a
    global window (Spark single-partitions ORDER-BY-only windows):
    each dimension gets an exact hierarchical row_number
    (operators/relational.py:hierarchical_row_number — range-bucket,
    per-bucket partitioned window, driver-side offsets over 32 scalars)
    and ntile is the closed-form split of that rank
    (ntile_from_rank).  Every cluster-side stage stays partitioned at
    any customer count.""",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import hierarchical_ranks, ntile_from_rank

    o = load_table(spark, "orders", sf_dir)
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 4).alias("monetary"),
    ).cache()
    ranked, n_rows = hierarchical_ranks(
        rfm,
        {
            "rn_r": (F.datediff("last_order", F.lit("1990-01-01")), "o_custkey"),
            "rn_f": (F.col("frequency"), "o_custkey"),
            "rn_m": (F.col("monetary"), "o_custkey"),
        },
    )
    seg = ranked.select(
        ntile_from_rank(F.col("rn_r"), n_rows, 4).alias("r_quartile"),
        ntile_from_rank(F.col("rn_f"), n_rows, 4).alias("f_quartile"),
        ntile_from_rank(F.col("rn_m"), n_rows, 4).alias("m_quartile"),
        "o_custkey",
        "frequency",
        "monetary",
    )
    return seg.where(
        (F.col("r_quartile") == 4) & (F.col("f_quartile") == 4) & (F.col("m_quartile") == 4)
    )


@register(
    "seasonality_dow_hour",
    oracle="""
        SELECT dayofweek(ts) AS dow, hour(ts) AS hr,
               count(*) AS n_events,
               round(avg(value), 4) AS avg_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="""Seasonality profile: event volume and mean value by
    (day-of-week × hour-of-day) — the load-shape matrix traffic
    engineering reads first (DuckDB dayofweek is 0=Sunday; Spark
    dayofweek is 1=Sunday, shifted to match).  One grouped aggregate
    into a 7×24 matrix; fully partial-aggregated.""",
)
def seasonality_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(
            (F.dayofweek("ts") - 1).alias("dow"), F.hour("ts").alias("hr")
        )
        .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


@register(
    "event_transition_matrix",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
            FROM events
        )
        SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    """,
    doc="""First-order event-transition matrix (Markov counts): per-user
    lag over a deterministic (ts, event_id) order, then a grouped count
    of (prev → next) pairs — the sequence-analytics primitive behind
    next-action prediction and anomaly scoring.  One shuffle on
    user_id for the lag, one tiny |types|² aggregation.""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


@register(
    "anomaly_zscore_hours",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sigma
            FROM hourly GROUP BY event_type
        )
        SELECT h.event_type, h.hr, h.n,
               round((h.n - s.mu) / s.sigma, 4) AS zscore
        FROM hourly h JOIN stats s USING (event_type)
        WHERE abs((h.n - s.mu) / s.sigma) > 2.5
    """,
    doc="""Volume-anomaly detection: hourly event counts more than 2.5
    sample standard deviations from their type's mean — the detector
    outage / flood alarm over the SCATS count stream.  Two grouped
    aggregations + a broadcast stats join; the z-score evaluates in the
    scan stage of the (already tiny) hourly rollup.""",
)
def anomaly_zscore_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 2.5)
        .select("event_type", "hr", "n", F.round(z, 4).alias("zscore"))
    )


@register(
    "resample_locf_fill",
    oracle="""
        WITH grid AS (
            SELECT u.user_id, g.day
            FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 110) u
            CROSS JOIN (
                SELECT unnest(generate_series(
                    DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY))::DATE
                    AS day) g
        ),
        daily AS (
            SELECT user_id, date_trunc('day', ts)::DATE AS day,
                   round(avg(value), 4) AS day_avg
            FROM events WHERE user_id < 110 GROUP BY 1, 2
        )
        SELECT g.user_id, g.day,
               last_value(d.day_avg IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS filled_avg
        FROM grid g LEFT JOIN daily d
          ON d.user_id = g.user_id AND d.day = g.day
    """,
    doc="""LOCF gap filling (last observation carried forward): a dense
    per-user daily grid left-joined to actual daily averages, silent
    days inheriting the most recent prior value via
    last_value(... IGNORE NULLS) over an unbounded-preceding frame —
    the sensor-stream fill policy (a silent detector keeps reporting
    its last reading until data resumes).  Days before a user's first
    observation stay NULL — explicitly 'no data yet', not zero.""",
)
def resample_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import date

    from pyspark.sql import Window as W

    events = load_table(spark, "events", sf_dir).where(F.col("user_id") < 110)
    grid_days = spark.createDataFrame(
        [(date(2024, 1, d),) for d in range(1, 31)], "day date"
    )
    users = events.select("user_id").distinct()
    daily = events.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.round(F.avg("value"), 4).alias("day_avg"))
    grid = users.crossJoin(F.broadcast(grid_days))
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.last("day_avg", ignorenulls=True).over(w).alias("filled_avg"),
        )
    )


# Exponential time-decay scoring: reference date just past the events
# table's range; half-life ~7 days (lambda = 0.1/day).
DECAY_REF_DATE = "2024-02-01"
DECAY_LAMBDA = 0.1


@register(
    "time_decay_user_scores",
    oracle=f"""
        SELECT user_id,
               count(*)::BIGINT AS n_events,
               round(sum(value * round(
                   exp(-{DECAY_LAMBDA} * datediff('day', ts::DATE,
                                                  DATE '{DECAY_REF_DATE}')),
                   6)), 4) AS decayed_score
        FROM events
        GROUP BY user_id
    """,
    doc=f"""Recency-weighted (exponential time-decay) user scoring —
    the standard freshness weighting for engagement/quality signals:
    each event contributes value · exp(-λ · age_days) with λ =
    {DECAY_LAMBDA}/day against {DECAY_REF_DATE}.  The per-event decay
    factor is rounded (round 6) on both engines before the sum so
    cross-engine exp() ulp differences cannot accumulate; the grouped
    sum itself is fully map-side partial-aggregated — one keyed
    shuffle of (user, partial sums) regardless of event volume.""",
)
def time_decay_user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    age = F.datediff(F.lit(DECAY_REF_DATE), F.to_date("ts"))
    decay = F.round(F.exp(-DECAY_LAMBDA * age), 6)
    return events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum(F.col("value") * decay), 4).alias("decayed_score"),
    )


@register(
    "user_daily_streaks",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id,
                   datediff('day', DATE '1970-01-01', ts::DATE) AS day_num
            FROM events
        ), isl AS (
            SELECT user_id, day_num,
                   day_num - row_number() OVER (
                       PARTITION BY user_id ORDER BY day_num) AS island
            FROM days
        ), streaks AS (
            SELECT user_id, island, count(*) AS streak_len
            FROM isl GROUP BY user_id, island
        )
        SELECT user_id,
               count(*)::BIGINT AS n_streaks,
               max(streak_len)::BIGINT AS longest_streak,
               sum(streak_len)::BIGINT AS n_active_days
        FROM streaks GROUP BY user_id
    """,
    doc="""Gaps-and-islands: per-user longest consecutive-day activity
    streak via the classic day_number − row_number island id — a SQL
    idiom distinct from time-gap sessionization (sessionize_users
    groups by inactivity gaps on raw timestamps; this groups distinct
    CALENDAR DAYS into runs).  All windows and aggregates are
    partitioned by user — per-user state is bounded by the date range,
    never by event volume.""",
)
def user_daily_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    days = events.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_num"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_num")
    streaks = (
        days.withColumn("island", F.col("day_num") - F.row_number().over(w))
        .groupBy("user_id", "island")
        .agg(F.count("*").alias("streak_len"))
    )
    return streaks.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_streaks"),
        F.max("streak_len").cast("long").alias("longest_streak"),
        F.sum("streak_len").cast("long").alias("n_active_days"),
    )


@register(
    "decayed_hourly_traffic",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   count(*)::BIGINT AS c
            FROM events GROUP BY event_type, date_trunc('hour', ts)
        ), terms AS (
            SELECT event_type, h + to_hours(lag) AS target_h,
                   round(c * 1e6 / (1::BIGINT << lag))::BIGINT AS term_micros
            FROM hourly, (SELECT unnest(generate_series(0, {DECAY_HORIZON - 1}))
                          AS lag) l
        ), decayed AS (
            SELECT event_type, target_h AS h,
                   sum(term_micros)::BIGINT AS decayed_micros
            FROM terms GROUP BY event_type, target_h
        )
        SELECT d.event_type, d.h, hr.c AS n_events, d.decayed_micros
        FROM decayed d JOIN hourly hr
          ON d.event_type = hr.event_type AND d.h = hr.h
    """,
    doc=f"""Exponentially decayed hourly traffic counter (half-life decay
    per calendar hour, {DECAY_HORIZON}-hour horizon) — the streaming-
    analytics primitive behind trending/rate-limiting scores, evaluated
    at every observed hour.  Scale shape: the recursive EWMA form is
    inherently sequential per key; this is the parallel reformulation —
    each hourly count fans out to the ≤{DECAY_HORIZON} future hours it
    influences via ``explode(sequence(...))`` (a generator, not a
    join), then one keyed re-aggregation — two shuffles keyed by
    (event_type, hour), embarrassingly parallel.  The decay base 1/2
    makes every weight an exact power-of-two scaling, so per-term micro
    rounding is bit-identical across engines (no libm ``pow`` in the
    contract).""",
)
def decayed_hourly_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    terms = hourly.select(
        "event_type",
        "h",
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(DECAY_HORIZON - 1))).alias("lag"),
    ).select(
        "event_type",
        F.timestamp_add("HOUR", F.col("lag"), F.col("h")).alias("target_h"),
        F.round(F.col("c") * 1e6 / F.expr("shiftleft(CAST(1 AS BIGINT), lag)"))
        .cast("long")
        .alias("term_micros"),
    )
    decayed = terms.groupBy("event_type", F.col("target_h").alias("h")).agg(
        F.sum("term_micros").cast("long").alias("decayed_micros")
    )
    return decayed.join(hourly, ["event_type", "h"]).select(
        "event_type", "h", F.col("c").alias("n_events"), "decayed_micros"
    )


PATH_TOPK = 10


@register(
    "event_path_trigrams",
    oracle=f"""
        WITH seq AS (
            SELECT event_type AS e1,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT e1 || '>' || e2 || '>' || e3 AS path,
               count(*)::BIGINT AS n_paths
        FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY e1 || '>' || e2 || '>' || e3
        ORDER BY n_paths DESC, path LIMIT {PATH_TOPK}
    """,
    doc=f"""Sequential path mining: the top-{PATH_TOPK} most common
    3-step event-type paths across user journeys (the product-analytics
    "behavior flow" report; the k-step generalization of the 1-step
    event_transition_matrix).  Trigram extraction is two ``lead``s over
    ONE window partitioned by user (per-user state never leaves its
    partition; ties broken by event_id so the sequence is
    deterministic); counting is a grouped aggregation on the path
    string; the report is ORDER BY + LIMIT (TakeOrderedAndProject).""",
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        seq.select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "path")
        .limit(PATH_TOPK)
    )


@register(
    "sensor_outage_islands",
    oracle="""
        WITH hourly AS (
            SELECT DISTINCT event_type,
                   CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
            FROM events
        ), grp AS (
            SELECT event_type, h,
                   h - row_number() OVER (PARTITION BY event_type
                                          ORDER BY h) AS island_key
            FROM hourly
        )
        SELECT event_type,
               min(h) AS island_start_hour,
               max(h) AS island_end_hour,
               count(*) AS n_hours
        FROM grp GROUP BY event_type, island_key
        HAVING count(*) >= 3
    """,
    doc="""Islands detection (gaps-and-islands): maximal runs of
    consecutive active hours per event type, reporting runs of 3+
    hours — the sensor-uptime / outage-boundary report (the dual of
    resample_gapfill's missing-hour filling).  The classic
    constant-difference trick: within a key, consecutive hours minus
    their row_number share one island key, so island extraction is ONE
    window partitioned by the stream key plus one grouped aggregate —
    no self-joins, no sequential scan dependency.""",
)
def sensor_outage_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
    ).distinct()
    island_key = F.col("h") - F.row_number().over(
        Window.partitionBy("event_type").orderBy("h")
    )
    return (
        hourly.withColumn("island_key", island_key)
        .groupBy("event_type", "island_key")
        .agg(
            F.min("h").alias("island_start_hour"),
            F.max("h").alias("island_end_hour"),
            F.count("*").alias("n_hours"),
        )
        .where(F.col("n_hours") >= 3)
        .drop("island_key")
    )


@register(
    "weekly_growth_rates",
    oracle="""
        WITH weekly AS (
            SELECT event_type,
                   CAST(date_trunc('week', ts) AS DATE) AS wk,
                   count(*)::BIGINT AS n
            FROM events GROUP BY event_type, date_trunc('week', ts)
        )
        SELECT event_type, wk, n,
               lag(n) OVER (PARTITION BY event_type ORDER BY wk)
                   AS prev_n,
               CASE WHEN lag(n) OVER (PARTITION BY event_type
                                      ORDER BY wk) IS NULL THEN NULL
                    ELSE round((n - lag(n) OVER (PARTITION BY event_type
                                                 ORDER BY wk))
                               * 1e6 / lag(n) OVER (PARTITION BY event_type
                                                    ORDER BY wk))::BIGINT
               END AS wow_growth_micros
        FROM weekly
    """,
    doc="""Week-over-week growth (period-over-period reporting, the
    dashboard staple): weekly counts per event type with the previous
    week's value and the integer-micro growth rate.  One grouped
    aggregation to |keys × weeks| rows, then ONE lag window
    partitioned by event type — the window runs over the tiny
    aggregate, never the event log.  DuckDB's date_trunc('week')
    returns DATE (the round-1 gotcha), so Spark's is cast to match;
    growth uses integer counts with one micro rounding.""",
)
def weekly_growth_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    weekly = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("week", "ts")).alias("wk"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("wk")
    prev = F.lag("n").over(w)
    return weekly.select(
        "event_type",
        "wk",
        "n",
        prev.alias("prev_n"),
        F.when(prev.isNull(), F.lit(None).cast("long"))
        .otherwise(F.round((F.col("n") - prev) * 1e6 / prev).cast("long"))
        .alias("wow_growth_micros"),
    )


# Centered moving-average half-window for the trend component (hours):
# 12 preceding + current + 12 following = a 25-hour window, wide enough
# to absorb the daily cycle into the seasonal term.
DECOMP_HALF_WINDOW = 12


@register(
    "trend_seasonal_decompose",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   count(*)::BIGINT AS observed
            FROM events GROUP BY 1, 2
        ), t AS (
            SELECT event_type, hour, observed,
                   round(avg(observed) OVER (
                       PARTITION BY event_type ORDER BY hour
                       ROWS BETWEEN {DECOMP_HALF_WINDOW} PRECEDING
                                AND {DECOMP_HALF_WINDOW} FOLLOWING), 6)
                       AS trend
            FROM hourly
        ), s AS (
            SELECT event_type, extract(hour FROM hour) AS hod,
                   round(sum(round((observed - trend) * 1000000))::DOUBLE
                         / count(*) / 1000000.0, 6) AS seasonal
            FROM t GROUP BY 1, 2
        )
        SELECT t.event_type, t.hour, t.observed, t.trend, s.seasonal,
               round(t.observed - t.trend - s.seasonal, 6) AS residual
        FROM t JOIN s ON s.event_type = t.event_type
                     AND s.hod = extract(hour FROM t.hour)
    """,
    doc=f"""Additive trend/seasonal/residual decomposition of the
    hourly event stream (the moving-average core of STL, per event
    type): trend = centered {2 * DECOMP_HALF_WINDOW + 1}-hour moving
    average (a rows-frame window PARTITIONED by type — never
    unpartitioned), seasonal = mean detrended value per (type,
    hour-of-day), residual = the rest — the decomposition behind
    capacity planning and anomaly baselines (anomaly_zscore_hours
    flags offsets from a STATIONARY mean; this separates the cyclic
    part first).  Cross-engine determinism is structural: observed is
    an integer count, so the frame average is an exact small-denominator
    rational in double (no accumulation-order hazard), and the seasonal
    mean runs over integer-micros quantized diffs.  Scale shape: one
    (type, hour)-keyed aggregate collapses the raw stream; everything
    after runs on |types|·|hours| skinny rows — one partitioned window,
    one {24}-key-per-type aggregate, one broadcast-sized join back.""",
)
def trend_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, "events", sf_dir)
    hourly = (
        events.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour")
        )
        .agg(F.count("*").cast("long").alias("observed"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-DECOMP_HALF_WINDOW, DECOMP_HALF_WINDOW)
    )
    t = hourly.withColumn("trend", F.round(F.avg("observed").over(w), 6))
    s = (
        t.groupBy("event_type", F.hour("hour").alias("hod"))
        .agg(
            F.round(
                F.sum(
                    F.round((F.col("observed") - F.col("trend")) * 1_000_000)
                ).cast("double")
                / F.count("*")
                / 1_000_000.0,
                6,
            ).alias("seasonal")
        )
    )
    return (
        t.withColumn("hod", F.hour("hour"))
        .join(F.broadcast(s), ["event_type", "hod"])
        .select(
            "event_type",
            "hour",
            "observed",
            "trend",
            "seasonal",
            F.round(
                F.col("observed") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
    )


# Attribution lookback window (minutes) for multitouch_attribution.
ATTRIB_LOOKBACK_MIN = 60


@register(
    "multitouch_attribution",
    oracle=f"""
        WITH purchases AS (
            SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'purchase'
        ), touches AS (
            SELECT user_id, ts, event_type FROM events
            WHERE event_type IN ('click', 'view')
        ), joined AS (
            SELECT p.event_id, p.value, t.event_type AS touch_type,
                   count(*) OVER (PARTITION BY p.event_id) AS n_touch
            FROM purchases p
            JOIN touches t
              ON t.user_id = p.user_id
             AND t.ts < p.ts
             AND t.ts >= p.ts - INTERVAL {ATTRIB_LOOKBACK_MIN} MINUTE
        ), shares AS (
            SELECT touch_type,
                   round(p_value_micros / n_touch) AS share_micros
            FROM (SELECT touch_type, n_touch,
                         value * 1000000 AS p_value_micros
                  FROM joined)
        ), attributed AS (
            SELECT touch_type,
                   count(*)::BIGINT AS n_touches,
                   round(sum(share_micros)::DOUBLE / 1000000.0, 4)
                       AS attributed_revenue
            FROM shares GROUP BY touch_type
        ), direct AS (
            SELECT 'direct' AS touch_type,
                   count(*)::BIGINT AS n_touches,
                   round(sum(value), 4) AS attributed_revenue
            FROM purchases p
            WHERE NOT EXISTS (
                SELECT 1 FROM touches t
                WHERE t.user_id = p.user_id AND t.ts < p.ts
                  AND t.ts >= p.ts - INTERVAL {ATTRIB_LOOKBACK_MIN} MINUTE)
        )
        SELECT * FROM attributed UNION ALL SELECT * FROM direct
    """,
    doc=f"""Linear multi-touch revenue attribution: each purchase's
    value splits equally across the user's click/view touches in the
    preceding {ATTRIB_LOOKBACK_MIN} minutes, summed per touch type —
    with purchases that had no touches reported as 'direct' (the
    completeness row single-touch attribution silently drops).  The
    as-of family answers LAST-touch; this is the fractional-credit
    complement.  Per-touch shares quantize to integer micros BEFORE
    the per-type sum (HALF_UP both engines), so accumulation order
    never flips a digit.  Scale shape: the touch join is the
    range_join_ship_lag pattern — an equi-join on user_id with the
    time-band predicate evaluated post-join (never a cartesian; at
    100 TB both sides bucket by user) — the per-purchase touch count
    is a purchase-keyed window on the join output, and 'direct' is an
    anti-join of the same shape.""",
)
def multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, "events", sf_dir)
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts"), "value"
    )
    touches = events.where(
        F.col("event_type").isin("click", "view")
    ).select("user_id", F.col("ts").alias("tts"), F.col("event_type").alias("touch_type"))
    band = (F.col("tts") < F.col("pts")) & (
        F.col("tts") >= F.col("pts") - F.expr(f"INTERVAL {ATTRIB_LOOKBACK_MIN} MINUTE")
    )
    joined = purchases.join(touches, ["user_id"]).where(band)
    w = W.partitionBy("event_id")
    shares = joined.select(
        "touch_type",
        F.round(
            (F.col("value") * 1_000_000) / F.count("*").over(w)
        ).alias("share_micros"),
    )
    attributed = shares.groupBy("touch_type").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.round(F.sum("share_micros") / 1_000_000.0, 4).alias(
            "attributed_revenue"
        ),
    )
    touched_ids = joined.select("event_id").distinct()
    direct = (
        purchases.join(touched_ids, "event_id", "left_anti")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.round(F.sum("value"), 4).alias("attributed_revenue"),
        )
        .select(
            F.lit("direct").alias("touch_type"),
            "n_touches",
            "attributed_revenue",
        )
    )
    return attributed.unionByName(direct)


# ACF report depth: hourly traffic is dominated by the diurnal cycle,
# so a half-day of lags shows the decay AND the first harmonic.
ACF_MAX_LAG = 12


@register(
    "acf_hourly_traffic",
    oracle=f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h, count(*)::BIGINT AS c
            FROM events GROUP BY date_trunc('hour', ts)
        ), pairs AS (
            SELECT l.lag, a.c AS c_prev, b.c AS c_now
            FROM hourly a
                 CROSS JOIN (SELECT unnest(generate_series(1, {ACF_MAX_LAG}))
                             AS lag) l,
                 hourly b
            WHERE b.h = a.h + to_hours(l.lag)
        )
        SELECT lag, count(*)::BIGINT AS n_pairs,
               round(corr(c_prev, c_now), 6) AS acf
        FROM pairs GROUP BY lag
    """,
    doc=f"""Sample autocorrelation of hourly event volume at lags
    1..{ACF_MAX_LAG} (Pearson correlation of the (count_t, count_t+lag)
    pairs — the lag-pairs ACF estimator, well-defined under calendar
    gaps).  Scale shape: one hourly pre-aggregation collapses the event
    volume to |hours| rows (time is bounded, so this frame stays small
    at any data scale), then a {ACF_MAX_LAG}-way lag explode and a
    self-equi-join on the shifted hour — broadcast-sized both sides —
    and a {ACF_MAX_LAG}-group corr.  The raw events are touched exactly
    once.""",
)
def acf_hourly_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    hourly = events.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count("*").cast("long").alias("c")
    )
    shifted = hourly.select(
        "h",
        "c",
        F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))).alias("lag"),
    ).select(
        F.timestamp_add("HOUR", F.col("lag"), F.col("h")).alias("h2"),
        F.col("lag").cast("long").alias("lag"),
        F.col("c").alias("c_prev"),
    )
    now = hourly.select(F.col("h").alias("h2"), F.col("c").alias("c_now"))
    return (
        shifted.join(now, "h2")
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.corr("c_prev", "c_now"), 6).alias("acf"),
        )
    )


@register(
    "cusum_changepoint_daily",
    oracle="""
        WITH daily AS (
            SELECT o_orderdate AS d,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
                       AS cents
            FROM orders GROUP BY o_orderdate
        ), tot AS (
            SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS t FROM daily
        ), pre AS (
            SELECT d,
                   row_number() OVER (ORDER BY d) AS i,
                   sum(cents) OVER (ORDER BY d)::BIGINT AS cum
            FROM daily
        ), sc AS (
            SELECT d, i, cum, abs(tot.n * cum - i * tot.t)::BIGINT AS s_abs
            FROM pre CROSS JOIN tot
        ), mx AS (SELECT max(s_abs) AS m FROM sc),
        pick AS (SELECT min(d) AS cd FROM sc, mx WHERE sc.s_abs = mx.m),
        r AS (SELECT sc.* FROM sc JOIN pick ON sc.d = pick.cd)
        SELECT tot.n AS n_days, r.d AS change_day,
               round(r.s_abs / (tot.n * 100.0), 6) AS cusum_dollars,
               round(r.cum / (r.i * 100.0), 6) AS mean_before,
               round((tot.t - r.cum) / ((tot.n - r.i) * 100.0), 6)
                   AS mean_after
        FROM r CROSS JOIN tot
    """,
    doc="""CUSUM single-changepoint screen over daily revenue: the day
    maximizing |cumulative deviation from the global mean| (Page's
    cumulative-sum statistic; ties resolve to the earliest day), with
    the pre/post means that describe the level shift.  The cumulative
    sum S_t is carried SCALED — n·cum_t − t·total, a pure-integer form
    of n·(cum_t − t·mean) — so the argmax is exact integer math across
    engines (bound: n_days·total_cents within int64, comfortable past
    petabyte revenue).  Scale shape: one daily pre-aggregation (time is
    bounded, so |days| is small forever), a year-bucketed hierarchical
    prefix sum (partitioned windows + |years| broadcast offsets — never
    a single-partition window), and three 1-row broadcast combines for
    max / argmax / report.""",
)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # Change-8 pattern: the |days|-row prefix-summed frame feeds tot,
    # the scaled statistic twice (max + argmax) and the report — pin it
    # once instead of re-running the daily aggregate + window pass per
    # reference.
    pre = bucketed_prefix_sums(
        daily.withColumn("_yb", F.year("d").cast("long")),
        "_yb",
        [F.col("d")],
        {"cents": "cum"},
        row_index="i",
    ).localCheckpoint(eager=True)
    tot = pre.agg(F.max("i").alias("n"), F.max("cum").alias("t"))
    sc = pre.crossJoin(F.broadcast(tot)).select(
        "d",
        "i",
        "cum",
        "n",
        "t",
        F.abs(F.col("n") * F.col("cum") - F.col("i") * F.col("t"))
        .cast("long")
        .alias("s_abs"),
    )
    mx = sc.agg(F.max("s_abs").alias("m"))
    pick = (
        sc.join(F.broadcast(mx), sc.s_abs == F.col("m"))
        .agg(F.min("d").alias("cd"))
    )
    r = sc.join(F.broadcast(pick), sc.d == F.col("cd"))
    return r.select(
        F.col("n").alias("n_days"),
        F.col("d").alias("change_day"),
        F.round(F.col("s_abs") / (F.col("n") * 100.0), 6).alias(
            "cusum_dollars"
        ),
        F.round(F.col("cum") / (F.col("i") * 100.0), 6).alias("mean_before"),
        F.round(
            (F.col("t") - F.col("cum"))
            / ((F.col("n") - F.col("i")) * 100.0),
            6,
        ).alias("mean_after"),
    )


# --- Native session windows -----------------------------------------
SESSION_GAP_MIN = 30


@register(
    "session_window_native",
    oracle=f"""
        WITH m AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts > lag(ts) OVER w
                                + INTERVAL {SESSION_GAP_MIN} MINUTE
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
            SELECT user_id, ts, value,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM m
        )
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
               count(*)::BIGINT AS n_events,
               round(sum(value) * 1e6)::BIGINT AS value_micros
        FROM s GROUP BY user_id, sid
    """,
    doc=f"""Per-user activity sessions via Spark's NATIVE
    ``session_window`` aggregation ({SESSION_GAP_MIN}-minute inactivity
    gap): merges overlapping [ts, ts+gap) intervals inside one keyed
    aggregation — the same operator Structured Streaming runs against
    the state store; the engine's streaming sessionizer
    (streaming/pipeline.py:sessionized_traffic) is THIS plan behind a
    watermark, parity pinned by tests/test_streaming.py::
    test_sessionized_traffic_streaming_matches_batch.  The
    gaps-and-islands ``sessionize_users`` is the window-function
    formulation of the same semantics; this is the one that scales to
    an unbounded stream.  An event exactly gap minutes after its
    predecessor still EXTENDS the session (merge condition is
    ts <= prev + gap — pinned by probe and mirrored in the oracle's
    strict-> break).  Scale shape: ONE shuffle by user key; session
    merge is within-partition; output is per-session rows.""",
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "value")
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") * 1e6).cast("long").alias("value_micros"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_micros",
        )
    )


# --- Holt linear-trend smoothing ---------------------------------------
# Fixed smoothing weights alpha = beta = 1/2, realized as EXACT integer
# halving in micros: round-half-up(x/2) = floor((x+1)/2).  A
# round(.,6)-lockstep double contract is NOT safe here — dyadic weights
# put every intermediate exactly ON a .5e-7 decimal boundary, where
# Spark (BigDecimal HALF_UP on the binary double) and DuckDB
# (multiply-and-round) legitimately disagree; a one-ulp flip surfaced
# at sf0.001.  Integer micros make the recurrence bit-exact by
# construction.


@register(
    "holt_linear_daily",
    oracle="""
        WITH RECURSIVE d AS (
            SELECT event_type, ts::DATE AS day,
                   (count(*) * 1000000)::BIGINT AS ym,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts::DATE) AS i
            FROM events GROUP BY event_type, ts::DATE
        ), n AS (
            SELECT event_type, max(i) AS n_days FROM d GROUP BY event_type
        ), hw(event_type, i, l, t) AS (
            SELECT event_type, 1, ym, 0::BIGINT FROM d WHERE i = 1
            UNION ALL
            SELECT d.event_type, d.i,
                   floor((d.ym + hw.l + hw.t + 1) / 2.0)::BIGINT,
                   floor((floor((d.ym + hw.l + hw.t + 1) / 2.0)::BIGINT
                          - hw.l + hw.t + 1) / 2.0)::BIGINT
            FROM hw JOIN d ON d.event_type = hw.event_type
                          AND d.i = hw.i + 1
        )
        SELECT hw.event_type, n.n_days::BIGINT AS n_days,
               hw.l AS level_micros, hw.t AS trend_micros,
               (hw.l + hw.t)::BIGINT AS forecast_micros
        FROM hw JOIN n USING (event_type) WHERE hw.i = n.n_days
    """,
    doc="""Holt linear-trend exponential smoothing (Holt '57) of the
    daily event volume per type — a sequential level/trend recurrence
    (alpha = beta = 1/2), the class of per-key ORDERED folds SQL
    cannot express directly.  Engine side: one grouped count per (type,
    day), then the day series collects into a bounded per-key array
    (|days| entries — the LOCF/resample pattern) and the recurrence
    runs as a codegen'd ``aggregate`` fold with a struct accumulator.
    The state is EXACT INTEGER MICROS — each half-weight update is
    round-half-up(x/2) = floor((x+1)/2) on integers, so the contract
    has no FP anywhere (a round-6 double lockstep was tried first and
    flipped one ulp at sf0.001: dyadic weights put every value ON the
    decimal rounding boundary, where Spark's BigDecimal HALF_UP and
    DuckDB's multiply-and-round disagree).  The oracle replays the
    recurrence as a recursive CTE over day-indexed rows — NOT DuckDB's
    ``list_reduce``, whose struct accumulator exposes already-updated
    sibling fields (probed on v1.0.0).  Scale shape: state is (level,
    trend) scalars per key; the array is bounded by the date range,
    and a longer horizon chunks by (key, month) with carried state
    exactly like the incremental-aggregation queries.  Seeds: level =
    first day's count in micros, trend = 0.""",
)
def holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg((F.count(F.lit(1)) * F.lit(1_000_000)).alias("ym"))
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "ym"))),
            lambda r: r["ym"],
        ).alias("ys"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )

    def half_up(x):
        # round-half-up(x/2) on integers; the double division is exact
        # below 2^53 micros and floor() restores the integer.
        return F.floor((x + F.lit(1)) / F.lit(2.0)).cast("long")

    def step(acc, ym):
        lvl = half_up(ym + acc["l"] + acc["t"])
        return F.struct(
            lvl.alias("l"),
            half_up(lvl - acc["l"] + acc["t"]).alias("t"),
        )

    state = F.aggregate(
        F.slice(F.col("ys"), F.lit(2), F.size("ys")),
        F.struct(
            F.element_at(F.col("ys"), 1).cast("long").alias("l"),
            F.lit(0).cast("long").alias("t"),
        ),
        step,
    )
    return series.select(
        "event_type",
        "n_days",
        state["l"].alias("level_micros"),
        state["t"].alias("trend_micros"),
        (state["l"] + state["t"]).cast("long").alias("forecast_micros"),
    )


PEAK_TOPK = 10


# --- Sweep-line concurrency ---------------------------------------------


@register(
    "order_concurrency_peaks",
    oracle=f"""
        WITH iv AS (
            SELECT o.o_orderkey, o.o_orderdate::DATE AS s,
                   max(l.l_shipdate)::DATE AS e
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_orderdate::DATE
        ), delta AS (
            SELECT s AS day, 1 AS dlt FROM iv
            UNION ALL
            SELECT (e + INTERVAL 1 DAY)::DATE, -1 FROM iv
        ), byday AS (
            SELECT day, sum(dlt)::BIGINT AS net FROM delta GROUP BY day
        ), run AS (
            SELECT day, sum(net) OVER (ORDER BY day)::BIGINT AS concurrent
            FROM byday
        )
        SELECT day, concurrent FROM run
        ORDER BY concurrent DESC, day LIMIT {PEAK_TOPK}
    """,
    doc=f"""Sweep-line maximum-concurrent-intervals over order
    fulfillment windows [o_orderdate, last l_shipdate]: the classic
    +1-at-start / −1-after-end delta encoding, the peak-load question
    ("how many orders were in flight at once, and when?") that a naive
    interval self-join answers in O(n²).  Top {PEAK_TOPK} peak days
    with day tiebreaks.  Scale shape: interval endpoints aggregate to
    per-day NET deltas first (one row-scale shuffle, map-side
    combined), so the running prefix sum scans the BOUNDED calendar
    frame (|distinct days|, ~2.4k for the TPC-H range) as one
    ``aggregate`` fold — the sweep itself never sees row-scale data
    and no unpartitioned window exists in the plan.  All-integer
    arithmetic; the oracle uses the equivalent ordered window over the
    same bounded frame.""",
)
def order_concurrency_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    # Pinned |orders|-row interval frame (change-8 waist): BOTH sides
    # of the +1/−1 delta union read it, and without the cut each
    # re-derived the full lineitem⋈orders join + per-order aggregate.
    iv = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("s"))
        .agg(F.max(F.to_date("l_shipdate")).alias("e"))
        .localCheckpoint(eager=True)
    )
    delta = iv.select(
        F.col("s").alias("day"), F.lit(1).alias("dlt")
    ).unionAll(
        iv.select(F.date_add("e", 1).alias("day"), F.lit(-1).alias("dlt"))
    )
    byday = delta.groupBy("day").agg(F.sum("dlt").cast("long").alias("net"))
    series = byday.agg(
        F.sort_array(F.collect_list(F.struct("day", "net"))).alias("xs")
    )

    def step(acc, x):
        run2 = (acc["run"] + x["net"]).alias("run")
        row = F.struct(
            x["day"].alias("day"), (acc["run"] + x["net"]).alias("concurrent")
        )
        return F.struct(run2, F.array_append(acc["out"], row).alias("out"))

    folded = series.select(
        F.aggregate(
            F.col("xs"),
            F.struct(
                F.lit(0).cast("long").alias("run"),
                F.expr(
                    "CAST(array() AS ARRAY<STRUCT<day: DATE, concurrent: BIGINT>>)"
                ).alias("out"),
            ),
            step,
            lambda acc: acc["out"],
        ).alias("out")
    )
    return (
        folded.select(F.explode("out").alias("r"))
        .select("r.*")
        .orderBy(F.col("concurrent").desc(), "day")
        .limit(PEAK_TOPK)
    )


# --- Burst detection -----------------------------------------------------

BURST_GAMMA = 500_000  # state-switch penalty, micros
BURST_RATE_FACTOR = 2  # burst rate = factor × base rate


def _burst_oracle() -> str:
    return f"""
        WITH RECURSIVE bounds AS (
            SELECT date_trunc('day', min(ts)) AS d0,
                   date_trunc('day', max(ts)) AS d1
            FROM events
        ), grid AS (
            SELECT t.event_type,
                   unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS day
            FROM (SELECT DISTINCT event_type FROM events) t, bounds b
        ), actual AS (
            SELECT event_type, date_trunc('day', ts) AS day,
                   count(*)::BIGINT AS c
            FROM events GROUP BY 1, 2
        ), daily AS (
            SELECT g.event_type, g.day, coalesce(a.c, 0) AS c,
                   row_number() OVER (PARTITION BY g.event_type
                                      ORDER BY g.day) AS i
            FROM grid g LEFT JOIN actual a
              ON a.event_type = g.event_type AND a.day = g.day
        ), rates AS (
            SELECT event_type,
                   sum(c)::DOUBLE / count(*) AS r0,
                   {BURST_RATE_FACTOR} * sum(c)::DOUBLE / count(*) AS r1
            FROM daily GROUP BY event_type
        ), costed AS (
            SELECT d.event_type, d.day, d.c, d.i,
                   round(1000000 * (r.r0 - d.c * ln(r.r0)))::BIGINT AS k0,
                   round(1000000 * (r.r1 - d.c * ln(r.r1)))::BIGINT AS k1
            FROM daily d JOIN rates r USING (event_type)
        ), dp(event_type, i, day, v0, v1) AS (
            SELECT event_type, i, day, k0,
                   k1 + {BURST_GAMMA}
            FROM costed WHERE i = 1
            UNION ALL
            SELECT c.event_type, c.i, c.day,
                   c.k0 + least(dp.v0, dp.v1 + {BURST_GAMMA}),
                   c.k1 + least(dp.v1, dp.v0 + {BURST_GAMMA})
            FROM dp JOIN costed c
              ON c.event_type = dp.event_type AND c.i = dp.i + 1
        )
        SELECT event_type, day,
               (v0 - v1)::BIGINT AS burst_margin_micros,
               (v0 > v1) AS is_burst
        FROM dp
    """


@register(
    "burst_detection_daily",
    oracle=_burst_oracle(),
    doc=f"""Kleinberg-style burst detection ('02) over per-type daily
    event volume: a two-state rate automaton (base rate = the type's
    mean daily count, burst rate = {BURST_RATE_FACTOR}×), solved by a
    forward min-plus Viterbi recurrence with switch penalty
    {BURST_GAMMA} micros — the ingest-spike detector (crawl bursts,
    incident storms) that a plain threshold can't give hysteresis.
    Day costs quantize the Poisson negative log-likelihood (dropping
    the state-independent ln c! term) to integer micros ONCE, so the
    DP itself is EXACT integer min-plus — the sequential-recurrence
    contract class (Holt, Kaplan–Meier); the reported margin
    V_base − V_burst is positive exactly when ending the prefix in
    the burst state is strictly cheaper.  Scale shape: one row-scale
    grouped count per (type, day), a gap-filled per-type day grid
    (the resample pattern), then a codegen'd ``aggregate`` fold over
    each type's BOUNDED day array; the oracle replays the fold as a
    recursive CTE.""",
)
def burst_detection_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    actual = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    # Pinned: the gap-filled day grid is bounded at |types| × |days|
    # rows and BOTH the per-type base-rate aggregate and the day-cost
    # projection read it — without the cut each re-derived the
    # bounds probe + distinct-types + grouped-count event scans
    # (change-8 waist; 6 effective scans → 3).
    daily = grid.join(actual, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    ).localCheckpoint(eager=True)
    rates = daily.groupBy("event_type").agg(
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias("r0")
    )
    costed = daily.join(F.broadcast(rates), "event_type").select(
        "event_type",
        "day",
        F.round(
            F.lit(1_000_000) * (F.col("r0") - F.col("c") * F.log(F.col("r0")))
        )
        .cast("long")
        .alias("k0"),
        F.round(
            F.lit(1_000_000)
            * (
                F.lit(float(BURST_RATE_FACTOR)) * F.col("r0")
                - F.col("c") * F.log(F.lit(float(BURST_RATE_FACTOR)) * F.col("r0"))
            )
        )
        .cast("long")
        .alias("k1"),
    )
    series = costed.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "k0", "k1"))).alias("xs")
    )
    g = F.lit(BURST_GAMMA)

    def step(acc, x):
        v0 = x["k0"] + F.least(acc["v0"], acc["v1"] + g)
        v1 = x["k1"] + F.least(acc["v1"], acc["v0"] + g)
        row = F.struct(
            x["day"].alias("day"),
            (v0 - v1).alias("burst_margin_micros"),
            (v0 > v1).alias("is_burst"),
        )
        return F.struct(
            v0.alias("v0"),
            v1.alias("v1"),
            F.array_append(acc["out"], row).alias("out"),
        )

    folded = series.select(
        "event_type",
        F.aggregate(
            F.slice(F.col("xs"), F.lit(2), F.size("xs")),
            F.struct(
                F.element_at(F.col("xs"), 1)["k0"].alias("v0"),
                (F.element_at(F.col("xs"), 1)["k1"] + g).alias("v1"),
                F.expr(
                    "array(struct("
                    "element_at(xs, 1).day AS day,"
                    "CAST(element_at(xs, 1).k0 - element_at(xs, 1).k1"
                    f" - {BURST_GAMMA} AS BIGINT) AS burst_margin_micros,"
                    "element_at(xs, 1).k0 > element_at(xs, 1).k1"
                    f" + {BURST_GAMMA} AS is_burst))"
                ).alias("out"),
            ),
            step,
            lambda acc: acc["out"],
        ).alias("out"),
    )
    return folded.select(
        "event_type", F.explode("out").alias("r")
    ).select("event_type", "r.*")


# --- Theil–Sen robust trend ----------------------------------------------

_TS_YEAR_START = "1995-01-01"
_TS_YEAR_END = "1996-01-01"


@register(
    "theil_sen_trend_daily",
    oracle=f"""
        WITH daily AS (
            SELECT date_diff('day', DATE '{_TS_YEAR_START}',
                             o_orderdate)::BIGINT AS d,
                   sum(round(o_totalprice)::BIGINT)::BIGINT AS y
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '{_TS_YEAR_START}'
              AND o_orderdate < TIMESTAMP '{_TS_YEAR_END}'
            GROUP BY 1
        ), slopes AS (
            SELECT (b.y - a.y)::DOUBLE / (b.d - a.d) AS slope
            FROM daily a JOIN daily b ON b.d > a.d
        ), med AS (
            SELECT round(median(slope), 6) AS ts_slope,
                   count(*)::BIGINT AS n_pairs
            FROM slopes
        )
        SELECT (SELECT count(*) FROM daily)::BIGINT AS n_days,
               n_pairs, ts_slope,
               (SELECT round(median(y - med.ts_slope * d), 4)
                FROM daily) AS ts_intercept
        FROM med
    """,
    doc=f"""Theil–Sen robust trend over the 1995 daily-revenue series:
    slope = median of all pairwise slopes (breakdown point 29% — a
    month of outlier days cannot move it, unlike OLS), intercept =
    median residual at the estimated slope.  Determinism: daily revenue
    is an exact integer-dollar sum; every pairwise slope is one IEEE
    division of integers, both engines sort the identical multiset, and
    the even-count median averages the same two doubles; the intercept
    re-uses the ROUNDED slope so its residuals are identical
    expressions.  Scale shape: the raw scan collapses to ≤365 daily
    rows FIRST (grouped partial agg), and only that bounded frame
    self-joins (365² / 2 ≈ 66k slope rows — constant, independent of
    fact-table size); the pair join and the 1-row slope broadcast are
    bounded-by-construction nested loops, declared in the plan
    allowlist.  At 100 TB the daily frame is still 365 rows — the
    pattern is "aggregate to the statistical frame, then do exact
    robust statistics on the frame".""",
)
def theil_sen_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    daily = (
        orders.where(
            (F.col("o_orderdate") >= F.lit(_TS_YEAR_START).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_TS_YEAR_END).cast("timestamp"))
        )
        .groupBy(
            F.datediff(
                F.col("o_orderdate"), F.lit(_TS_YEAR_START).cast("date")
            )
            .cast("long")
            .alias("d")
        )
        .agg(F.sum(F.round("o_totalprice").cast("long")).alias("y"))
        .localCheckpoint(eager=True)
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(F.broadcast(b), F.col("b.d") > F.col("a.d")).select(
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.d") - F.col("a.d"))
        ).alias("slope")
    )
    med = slopes.agg(
        F.round(F.median("slope"), 6).alias("ts_slope"),
        F.count("*").alias("n_pairs"),
    )
    n_days = daily.agg(F.count("*").alias("n_days"))
    resid = daily.crossJoin(F.broadcast(med)).select(
        "ts_slope",
        "n_pairs",
        (F.col("y") - F.col("ts_slope") * F.col("d")).alias("res"),
    )
    out = resid.groupBy("ts_slope", "n_pairs").agg(
        F.round(F.median("res"), 4).alias("ts_intercept")
    )
    return (
        F.broadcast(n_days)
        .crossJoin(out)
        .select("n_days", "n_pairs", "ts_slope", "ts_intercept")
    )


# --- Forecast backtest (MASE) --------------------------------------------

_MASE_WARMUP = 7  # evaluation starts once every baseline has history


@register(
    "forecast_backtest_mase",
    oracle=f"""
        WITH daily AS (
            SELECT date_diff('day', DATE '{_TS_YEAR_START}',
                             o_orderdate)::BIGINT AS d,
                   count(*)::BIGINT AS c
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '{_TS_YEAR_START}'
              AND o_orderdate < TIMESTAMP '{_TS_YEAR_END}'
            GROUP BY 1
        ), ma AS (
            SELECT daily.d + k.k AS d,
                   ((sum(c) * 1000000) // 7) AS pred_micros,
                   count(*) AS n_src
            FROM daily, (SELECT unnest(generate_series(1, 7)) AS k) k
            GROUP BY daily.d + k.k
        ), err AS (
            SELECT y.d,
                   abs(y.c - n.c) * 1000000 AS e_naive,
                   abs(y.c - s.c) * 1000000 AS e_snaive,
                   abs(y.c * 1000000 - m.pred_micros) AS e_ma7
            FROM daily y
            JOIN daily n ON n.d = y.d - 1
            JOIN daily s ON s.d = y.d - 7
            JOIN ma m ON m.d = y.d AND m.n_src = 7
            WHERE y.d >= {_MASE_WARMUP}
        ), mae AS (
            SELECT method,
                   CASE WHEN ne > 0 THEN (se // ne) END AS mae_micros,
                   naive_mae
            FROM (
                SELECT count(*)::BIGINT AS ne,
                       sum(e_naive)::BIGINT AS s_naive,
                       sum(e_snaive)::BIGINT AS s_snaive,
                       sum(e_ma7)::BIGINT AS s_ma7
                FROM err
            ) t, LATERAL (
                SELECT * FROM (VALUES
                    ('naive', t.s_naive,
                     CASE WHEN t.ne > 0 THEN (t.s_naive // t.ne) END),
                    ('seasonal_naive_7', t.s_snaive,
                     CASE WHEN t.ne > 0 THEN (t.s_naive // t.ne) END),
                    ('trailing_mean_7', t.s_ma7,
                     CASE WHEN t.ne > 0 THEN (t.s_naive // t.ne) END)
                ) v(method, se, naive_mae)
            )
        )
        SELECT method, mae_micros,
               CASE WHEN naive_mae > 0
                    THEN ((mae_micros * 1000000) // naive_mae)
               END AS mase_micros
        FROM mae
        ORDER BY method
    """,
    doc=f"""Walk-forward backtest of the three standard baseline
    forecasters over the 1995 daily order-count series — naive (carry
    yesterday), seasonal-naive (carry the same weekday), trailing
    7-day mean — scored by MAE and by MASE (MAE scaled by the naive
    MAE, the scale-free accuracy measure of Hyndman & Koehler '06;
    MASE < 1e6 micros beats naive).  Determinism: counts are exact
    ints, the trailing mean is an exact floor-division in micros, and
    every |error| and both MAE/MASE ratios are integer floor divisions
    — zero FP anywhere.  Scale shape: the fact scan collapses to ≤365
    daily rows first; the three predictors are EQUI-joins on shifted
    day keys (the trailing mean fans each day to its 7 target days via
    explode — no range join, no window over an unpartitioned frame);
    the only nested loop is the 1-row naive-MAE broadcast, declared in
    the allowlist.""",
)
def forecast_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    daily = (
        orders.where(
            (F.col("o_orderdate") >= F.lit(_TS_YEAR_START).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_TS_YEAR_END).cast("timestamp"))
        )
        .groupBy(
            F.datediff(
                F.col("o_orderdate"), F.lit(_TS_YEAR_START).cast("date")
            )
            .cast("long")
            .alias("d")
        )
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    ma = (
        daily.select(
            "d", "c", F.explode(F.sequence(F.lit(1), F.lit(7))).alias("k")
        )
        .select((F.col("d") + F.col("k")).alias("d"), "c")
        .groupBy("d")
        .agg(
            _idiv(F.sum("c") * F.lit(1_000_000), F.lit(7)).alias("pred_micros"),
            F.count("*").alias("n_src"),
        )
        .where(F.col("n_src") == 7)
    )
    y = daily.alias("y")
    n = daily.alias("n")
    s = daily.alias("s")
    err = (
        y.where(F.col("y.d") >= _MASE_WARMUP)
        .join(n, F.col("n.d") == F.col("y.d") - 1)
        .join(s, F.col("s.d") == F.col("y.d") - 7)
        .join(ma, ma["d"] == F.col("y.d"))
        .select(
            (F.abs(F.col("y.c") - F.col("n.c")) * 1_000_000).alias("e_naive"),
            (F.abs(F.col("y.c") - F.col("s.c")) * 1_000_000).alias("e_snaive"),
            F.abs(F.col("y.c") * 1_000_000 - F.col("pred_micros")).alias("e_ma7"),
        )
    )
    t = err.agg(
        F.count("*").alias("ne"),
        F.sum("e_naive").alias("s_naive"),
        F.sum("e_snaive").alias("s_snaive"),
        F.sum("e_ma7").alias("s_ma7"),
    )
    # Degenerate-series guards: an empty backtest window (ne = 0) or a
    # constant series (naive_mae = 0) reports NULL cleanly instead of
    # an engine-dependent divide-by-zero; mirrored by the oracle CASEs.
    rows = t.select(
        F.expr(
            "stack(3, 'naive', s_naive, 'seasonal_naive_7', s_snaive, "
            "'trailing_mean_7', s_ma7) AS (method, se)"
        ),
        "ne",
        F.when(
            F.col("ne") > 0, _idiv(F.col("s_naive"), F.col("ne"))
        ).alias("naive_mae"),
    )
    mae = F.when(F.col("ne") > 0, _idiv(F.col("se"), F.col("ne")))
    return rows.select(
        "method",
        mae.alias("mae_micros"),
        F.when(
            F.col("naive_mae") > 0,
            _idiv(mae * F.lit(1_000_000), F.col("naive_mae")),
        ).alias("mase_micros"),
    ).orderBy("method")


# --- Regex sequence mining over event sessions ---------------------------

# (pattern name, regex) — applied UNANCHORED to the per-(user, day)
# event-initial string (c=click, e=error, p=purchase, s=signup, v=view).
_FUNNEL_PATTERNS: tuple[tuple[str, str], ...] = (
    ("browse_only", "^[vc]+$"),
    ("error_before_purchase", "e.*p"),
    ("signup_then_purchase", "s.*p"),
    ("view_click_purchase", "v.*c.*p"),
    ("view_to_purchase_direct", "vp"),
)


def _funnel_oracle() -> str:
    checks = ",\n                ".join(
        f"count(*) FILTER (regexp_matches(seq, '{rx}'))::BIGINT AS m{i}"
        for i, (_, rx) in enumerate(_FUNNEL_PATTERNS)
    )
    rows = ",\n                ".join(
        f"('{name}', m{i})" for i, (name, _) in enumerate(_FUNNEL_PATTERNS)
    )
    return f"""
        WITH sessions AS (
            SELECT user_id, ts::DATE AS day,
                   string_agg(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id, ts::DATE
        ), agg AS (
            SELECT count(*)::BIGINT AS total,
                {checks}
            FROM sessions
        )
        SELECT v.pattern, v.n_sessions,
               ((v.n_sessions * 1000000) // agg.total) AS pct_micros
        FROM agg, LATERAL (
            SELECT * FROM (VALUES
                {rows}
            ) t(pattern, n_sessions)
        ) v
        ORDER BY v.pattern
    """


@register(
    "event_regex_funnel",
    oracle=_funnel_oracle(),
    doc="""Sequence-pattern mining via regexes over per-(user, day)
    event strings — the portable MATCH_RECOGNIZE: each session
    compresses to a character string (one initial per event, ordered by
    time with event-id tiebreak), funnel/behavior patterns become
    regular expressions (browse-only sessions, signup→purchase,
    view→click→purchase, error-before-purchase, adjacent
    view→purchase), and coverage is a conditional count with an exact
    integer-micros share.  Determinism: the string is built from a
    totally-ordered struct sort (ts, event_id); regex match semantics
    are identical (unanchored search both engines).  Scale shape: one
    grouped collect per session key (sessions are short — bounded
    struct arrays, the sessionize family's state shape), one scan of
    the session strings computes ALL patterns as conditional partial
    aggregates in a single 1-row frame, then a 5-row stack — adding a
    pattern is free; no joins, no windows, no second scan of the fact
    table.""",
)
def event_regex_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    sessions = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("ts"),
                                F.col("event_id"),
                                F.substring("event_type", 1, 1).alias("i"),
                            )
                        )
                    ),
                    lambda x: x["i"],
                ),
                "",
            ).alias("seq")
        )
    )
    aggs = [F.count("*").alias("total")] + [
        F.sum(F.when(F.col("seq").rlike(rx), 1).otherwise(0)).alias(f"m{i}")
        for i, (_, rx) in enumerate(_FUNNEL_PATTERNS)
    ]
    agg = sessions.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', m{i}" for i, (name, _) in enumerate(_FUNNEL_PATTERNS)
    )
    rows = agg.select(
        F.expr(
            f"stack({len(_FUNNEL_PATTERNS)}, {stack_args})"
            " AS (pattern, n_sessions)"
        ),
        "total",
    )
    return rows.select(
        "pattern",
        "n_sessions",
        _idiv(F.col("n_sessions") * F.lit(1_000_000), F.col("total")).alias(
            "pct_micros"
        ),
    ).orderBy("pattern")


# --- strength of trend / seasonality ----------------------------------------

_DECOMP_ORACLE_CTES = """
        hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   count(*)::BIGINT AS observed
            FROM events GROUP BY 1, 2
        ), t AS (
            SELECT event_type, hour, observed,
                   round(avg(observed) OVER (
                       PARTITION BY event_type ORDER BY hour
                       ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING), 6)
                       AS trend
            FROM hourly
        ), s AS (
            SELECT event_type, extract(hour FROM hour) AS hod,
                   round(sum(round((observed - trend) * 1000000))::DOUBLE
                         / count(*) / 1000000.0, 6) AS seasonal
            FROM t GROUP BY 1, 2
        ), comp AS (
            SELECT t.event_type,
                   round(1000 * s.seasonal)::BIGINT AS sm,
                   round(1000 * round(t.observed - t.trend - s.seasonal, 6))
                       ::BIGINT AS rm
            FROM t JOIN s ON s.event_type = t.event_type
                         AND s.hod = extract(hour FROM t.hour)
        )
"""


@register(
    "seasonal_strength_audit",
    oracle=f"""
        WITH {_DECOMP_ORACLE_CTES},
        agg AS (
            SELECT event_type, count(*)::BIGINT AS n,
                   (sum(rm))::BIGINT AS sr, (sum(rm * rm))::BIGINT AS qr,
                   (sum(sm + rm))::BIGINT AS ss,
                   (sum((sm + rm) * (sm + rm)))::BIGINT AS qs
            FROM comp GROUP BY event_type
        )
        SELECT event_type, n AS n_hours,
               round(greatest(0.0,
                   1 - ((qr::DOUBLE - sr::DOUBLE * sr / n) / (n - 1))
                       / ((qs::DOUBLE - ss::DOUBLE * ss / n) / (n - 1))),
                   6) AS seasonal_strength
        FROM agg
        ORDER BY event_type
    """,
    doc="""Hyndman's strength of seasonality (FPP: max(0, 1 −
    Var(remainder)/Var(seasonal + remainder))) per event type, over
    the SAME additive decomposition trend_seasonal_decompose emits —
    the one-number answer to "is the hour-of-day cycle real or is the
    seasonal component fitting noise?" (≈0 → drop the seasonal model
    from the capacity forecast; ≈1 → the cycle dominates).
    Determinism: decomposition components are the already-pinned
    round-6 doubles; they milli-quantize to exact ints, variances come
    from exact integer sufficient statistics (Σx, Σx²), and the
    strength is one fixed-order double expression per type.  Scale
    shape: identical to the decomposition (hourly pre-aggregate
    bounds the frame by CALENDAR, one partitioned window, one grouped
    aggregate) plus a per-type 1-row reduction.""",
)
def seasonal_strength_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = trend_seasonal_decompose(spark, sf_dir).select(
        "event_type",
        F.round(1000 * F.col("seasonal")).cast("long").alias("sm"),
        F.round(1000 * F.col("residual")).cast("long").alias("rm"),
    )
    agg = comp.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("rm").alias("sr"),
        F.sum(F.col("rm") * F.col("rm")).alias("qr"),
        F.sum(F.col("sm") + F.col("rm")).alias("ss"),
        F.sum((F.col("sm") + F.col("rm")) * (F.col("sm") + F.col("rm"))).alias(
            "qs"
        ),
    )
    d = F.col
    var_r = (d("qr").cast("double") - d("sr").cast("double") * d("sr") / d("n")) / (
        d("n") - 1
    )
    var_s = (d("qs").cast("double") - d("ss").cast("double") * d("ss") / d("n")) / (
        d("n") - 1
    )
    return agg.select(
        "event_type",
        d("n").alias("n_hours"),
        F.round(F.greatest(F.lit(0.0), 1 - var_r / var_s), 6).alias(
            "seasonal_strength"
        ),
    ).orderBy("event_type")
