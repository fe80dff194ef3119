"""Round-5 late additions: time-series diagnostics, exact distribution
drift, robust outlier statistics, and graph link prediction.

- ``acf_hourly_traffic`` — the autocorrelation function of hourly event
  volume at lags 1..12: the periodicity diagnostic read before choosing
  seasonal windows (``seasonality_dow_hour``) or alerting baselines
  (``anomaly_zscore_hours``).
- ``ks_drift_orders`` — the EXACT two-sample Kolmogorov–Smirnov
  statistic between early/late order-total distributions.  Complements
  ``column_drift_audit``: PSI sees binned share shifts, KS is the
  sup-norm CDF distance at every distinct value, computed with a
  hierarchical (bucketed) prefix sum instead of a global window.
- ``cusum_changepoint_daily`` — CUSUM changepoint location over daily
  revenue: the argmax of |cumulative deviation from the global mean|,
  the standard single-changepoint screen run before trusting a trend.
- ``robust_outliers_mad`` — per-nation median/MAD robust z-scores and
  outlier rates: the heavy-tail-safe alternative to the z-score audits
  (a single whale order cannot drag the threshold the way it drags a
  mean/stddev fence).
- ``link_prediction_scores`` — common-neighbor / Jaccard / Adamic–Adar
  scores for non-adjacent vertex pairs of the 1995 co-purchase graph:
  the classical link-prediction feature set (Liben-Nowell & Kleinberg),
  i.e. "which two parts are never bought together yet share the most
  co-purchase neighbors".

Scale discipline, as everywhere in the registry: no unpartitioned
window (global CDFs/prefix sums use ``bucketed_prefix_sums`` — local
windows per range bucket plus |buckets| driver scalars broadcast back);
every ``.collect()`` is a bounded summary (bucket totals, 1-row
min/max); every crossJoin is a broadcast of a 1-row aggregate; FP sums
cross engines as integer micros/cents (round BEFORE the sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.pairs import pack_pair, unpack_pair
from ..operators.relational import bucketed_prefix_sums
from ..sources.loaders import load_table
from .pipeline_queries5 import _COPURCHASE_EDGE_CTES, _copurchase_edges
from .registry import register

# ACF report depth: hourly traffic is dominated by the diurnal cycle,
# so a half-day of lags shows the decay AND the first harmonic.
ACF_MAX_LAG = 12

# KS split point: orders strictly before the cutover are the reference
# sample, the rest the current sample (mirrors column_drift_audit).
KS_CUTOVER = "1998-01-01"

# Range-bucket count for hierarchical prefix sums (|buckets| scalars
# per summed column reach the driver — 32 keeps that trivially small
# while bounding the per-bucket window partitions).
KS_BUCKETS = 32

# Robust-outlier fence: |x - median| > OUT_K * MAD_CONSISTENCY * MAD,
# the standard "3 sigma" fence with the normal-consistency constant.
OUT_K = 3
MAD_CONSISTENCY = 1.4826

LINK_TOPK = 20


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
    "ks_drift_orders",
    oracle=f"""
        WITH v AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS val,
                   CASE WHEN o_orderdate < DATE '{KS_CUTOVER}'
                        THEN 1 ELSE 0 END AS isref
            FROM orders
        ), g AS (
            SELECT val, sum(isref)::BIGINT AS rc,
                   sum(1 - isref)::BIGINT AS cc
            FROM v GROUP BY val
        ), t AS (
            SELECT sum(rc)::BIGINT AS rn, sum(cc)::BIGINT AS cn FROM g
        ), c AS (
            SELECT val,
                   sum(rc) OVER (ORDER BY val)::BIGINT AS cr,
                   sum(cc) OVER (ORDER BY val)::BIGINT AS ccum
            FROM g
        ), s AS (
            SELECT val, abs(t.cn * cr - t.rn * ccum)::BIGINT AS d
            FROM c CROSS JOIN t
        ), m AS (SELECT max(d) AS md FROM s),
        pick AS (SELECT min(val) AS at_val FROM s, m WHERE s.d = m.md)
        SELECT t.rn AS n_ref, t.cn AS n_cur,
               round(m.md / (t.rn::DOUBLE * t.cn), 6) AS ks_stat,
               round(pick.at_val / 100.0, 2) AS ks_at_total
        FROM t CROSS JOIN m CROSS JOIN pick
    """,
    doc=f"""Exact two-sample Kolmogorov–Smirnov statistic between the
    pre-{KS_CUTOVER} and post-{KS_CUTOVER} order-total distributions —
    the sup-norm CDF distance evaluated at EVERY distinct value, not a
    binned approximation.  The global CDFs are hierarchical: distinct
    values are range-bucketed ({KS_BUCKETS} equi-width buckets from a
    1-row min/max aggregate), cumulative counts run per bucket
    (partitioned windows), and only the {KS_BUCKETS}×2 per-bucket
    totals reach the driver as broadcast offsets — the same prefix-scan
    a 1000-executor cluster runs, never a single-partition window.  The
    D statistic stays exact integer math (|cn·cumref − rn·cumcur|)
    until the final division; argmax ties resolve to the smallest
    value.  Integer bound: n_ref·n_cur must fit int64 — fine to ~3e9
    rows per side, beyond which the counts would carry per-bucket
    scaling.""",
)
def ks_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    v = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("val"),
        F.when(
            F.col("o_orderdate") < F.lit(KS_CUTOVER).cast("date"), 1
        )
        .otherwise(0)
        .alias("isref"),
    )
    # Round-10 session 2 (change-8 pattern): the distinct-value frame
    # and the prefix-summed frame each feed several downstream frames
    # (bound probe, tot, the D-statistic twice via max + argmax, the
    # report) — without the cuts the orders scan + grouped count and
    # the window pass re-ran per reference (before plan: 14 scans).
    g = v.groupBy("val").agg(
        F.sum("isref").cast("long").alias("rc"),
        F.sum(1 - F.col("isref")).cast("long").alias("cc"),
    ).localCheckpoint(eager=True)
    lo, hi = g.agg(F.min("val"), F.max("val")).first()
    if hi == lo:
        bucket = F.lit(0)
    else:
        width = (float(hi) - float(lo)) / KS_BUCKETS
        bucket = F.least(
            F.greatest(
                F.floor((F.col("val") - float(lo)) / width), F.lit(0)
            ),
            F.lit(KS_BUCKETS - 1),
        )
    pre = bucketed_prefix_sums(
        g.withColumn("_vb", bucket.cast("long")),
        "_vb",
        [F.col("val")],
        {"rc": "cr", "cc": "ccum"},
    ).localCheckpoint(eager=True)
    tot = pre.agg(
        F.max("cr").alias("rn"), F.max("ccum").alias("cn")
    )
    s = pre.crossJoin(F.broadcast(tot)).select(
        "val",
        "rn",
        "cn",
        F.abs(F.col("cn") * F.col("cr") - F.col("rn") * F.col("ccum"))
        .cast("long")
        .alias("d"),
    )
    m = s.agg(F.max("d").alias("md"))
    pick = (
        s.join(F.broadcast(m), s.d == F.col("md"))
        .agg(F.min("val").alias("at_val"))
    )
    return (
        tot.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(pick))
        .select(
            F.col("rn").alias("n_ref"),
            F.col("cn").alias("n_cur"),
            F.round(
                F.col("md") / (F.col("rn").cast("double") * F.col("cn")), 6
            ).alias("ks_stat"),
            F.round(F.col("at_val") / 100.0, 2).alias("ks_at_total"),
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


@register(
    "robust_outliers_mad",
    oracle=f"""
        WITH f AS (
            SELECT n.n_name AS nation,
                   CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
        ), med AS (
            SELECT nation, count(*)::BIGINT AS n_orders,
                   quantile_cont(v, 0.5) AS med
            FROM f GROUP BY nation
        ), dev AS (
            SELECT f.nation, med.n_orders, med.med, abs(f.v - med.med) AS d
            FROM f JOIN med USING (nation)
        ), mad AS (
            SELECT nation, quantile_cont(d, 0.5) AS mad
            FROM dev GROUP BY nation
        )
        SELECT dev.nation, max(dev.n_orders) AS n_orders,
               round(max(dev.med) / 100.0, 4) AS median_total,
               round(max(mad.mad) / 100.0, 4) AS mad_total,
               sum(CASE WHEN dev.d > {OUT_K} * {MAD_CONSISTENCY} * mad.mad
                        THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
               round(sum(CASE WHEN dev.d > {OUT_K} * {MAD_CONSISTENCY}
                                          * mad.mad
                             THEN 1 ELSE 0 END)
                     / max(dev.n_orders)::DOUBLE, 6) AS outlier_rate
        FROM dev JOIN mad USING (nation)
        GROUP BY dev.nation
    """,
    doc=f"""Per-nation robust outlier audit on order totals: median,
    MAD (median absolute deviation), and the share of orders outside
    the |x − median| > {OUT_K}·{MAD_CONSISTENCY}·MAD fence — the
    heavy-tail-safe replacement for mean/stddev fences (a single whale
    order moves a z-score fence but not this one; breakdown point 50%).
    Values ride as integer cents; the exact grouped medians are the
    ``percentile`` ≡ ``quantile_cont`` parity pinned since round 4.
    Scale shape: MAD is inherently two-pass — two grouped exact
    percentiles over the |nations|-keyed frame plus broadcast join-backs
    of the 25-row median/MAD frames, then one counting pass; at 100 TB
    the two exact percentile passes would swap for the KLL sketch
    family (``grouped_percentiles_approx``) with identical plumbing.""",
)
def robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    f = (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        .join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .select(
            F.col("n_name").alias("nation"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
        # Change-8 pattern: f feeds the median aggregate and BOTH dev
        # references (MAD aggregate + final fence count) — one
        # materialization instead of re-running the fact joins per
        # reference (before plan: 24 scans).
        .localCheckpoint(eager=True)
    )
    med = f.groupBy("nation").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.expr("percentile(v, 0.5)").alias("med"),
    )
    dev = f.join(F.broadcast(med), "nation").select(
        "nation",
        "n_orders",
        "med",
        F.abs(F.col("v") - F.col("med")).alias("d"),
    )
    mad = dev.groupBy("nation").agg(
        F.expr("percentile(d, 0.5)").alias("mad")
    )
    fence = F.lit(float(OUT_K)) * F.lit(MAD_CONSISTENCY) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), "nation")
        .groupBy("nation")
        .agg(
            F.max("n_orders").alias("n_orders"),
            F.round(F.max("med") / 100.0, 4).alias("median_total"),
            F.round(F.max("mad") / 100.0, 4).alias("mad_total"),
            F.sum(F.when(F.col("d") > fence, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.round(
                F.sum(F.when(F.col("d") > fence, 1).otherwise(0))
                / F.max("n_orders").cast("double"),
                6,
            ).alias("outlier_rate"),
        )
    )


@register(
    "link_prediction_scores",
    oracle=f"""
        WITH {_COPURCHASE_EDGE_CTES}, deg AS (
            SELECT x AS vertex, count(*)::BIGINT AS d
            FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
            GROUP BY x
        ), adj AS (
            SELECT u AS w, v AS n FROM edges
            UNION ALL
            SELECT v AS w, u AS n FROM edges
        ), wed AS (
            SELECT a.n AS u, b.n AS v, a.w AS w
            FROM adj a JOIN adj b ON a.w = b.w AND a.n < b.n
        ), cn AS (
            SELECT u, v, count(*)::BIGINT AS common_n,
                   sum(round(1e6 / ln(dw.d)))::BIGINT AS aa_micros
            FROM wed JOIN deg dw ON wed.w = dw.vertex
            GROUP BY u, v
        ), ne AS (
            SELECT cn.* FROM cn
            LEFT JOIN edges e ON cn.u = e.u AND cn.v = e.v
            WHERE e.u IS NULL
        )
        SELECT ne.u, ne.v, ne.common_n, ne.aa_micros,
               round(ne.common_n::DOUBLE
                     / (du.d + dv.d - ne.common_n), 6) AS jaccard
        FROM ne
        JOIN deg du ON ne.u = du.vertex
        JOIN deg dv ON ne.v = dv.vertex
        ORDER BY ne.common_n DESC, ne.aa_micros DESC, ne.u, ne.v
        LIMIT {LINK_TOPK}
    """,
    doc=f"""Link prediction over the 1995 co-purchase graph: the top
    {LINK_TOPK} NON-adjacent part pairs by common co-purchase
    neighbors, with the classical score family (Liben-Nowell &
    Kleinberg '03): common-neighbor count, Jaccard of neighborhoods,
    and Adamic–Adar (Σ 1/ln deg(w), per-wedge terms rounded to integer
    micros BEFORE the sum — wedge centers have degree ≥ 2, so ln is
    never zero).  Scale shape: each center's sorted distinct neighbor
    array is built in ONE vertex-keyed exchange and the wedges are
    emitted by chained posexplode/slice generators — no self-join (the
    output IS the wedge set, so Σ deg(w)² rows are inherent to the
    exact scores; at 100 TB a power-law graph caps hub centers first —
    the LSH-style candidate cap the dedup family already applies),
    partial-aggregated into packed-key (u,v) scores, anti-joined
    against the edge list to keep non-edges, and top-k'd via
    TakeOrderedAndProject.  No cartesian anywhere; every join is an
    equi-join.""",
)
def link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    adj = edges.select(
        F.col("u").alias("w"), F.col("v").alias("n")
    ).unionAll(edges.select(F.col("v").alias("w"), F.col("u").alias("n")))
    # Per-center SORTED DISTINCT neighbor array in ONE exchange (the
    # _basket_pairs / change-5 pattern: a join that can be a generator
    # should not be a join).  The old shape paid a vertex-keyed degree
    # exchange, an adj⋈deg join, two explicit repartition(32, w)
    # exchanges and a SortMergeJoin to emit the wedges; the array form
    # pays the one groupBy(w) exchange and emits the identical wedge
    # multiset (u < v pairs of distinct neighbors per center — edges
    # are distinct, so collect_set loses nothing) through chained
    # posexplode/slice generators.  Degree and the per-wedge
    # Adamic–Adar term both read off the SAME array (deg(w) = size(ns)
    # = the old endpoint-count — one row per incident edge); the
    # CASE keeps the ln division total on degree-1 centers, which emit
    # no wedge but whose aa_term the projection still evaluates (the
    # shingle_sets clamp lesson).  Checkpointed: the frame feeds the
    # wedge generator once and the final deg(u)/deg(v) joins twice.
    # Explicit user repartition between the aggregate and the
    # checkpoint: the nbrs frame is |V| tiny rows, so AQE coalesces the
    # groupBy exchange to ~2 tasks — but the generator chained on the
    # checkpoint scan emits sum(deg(w)²) wedge rows (heavy compute) at
    # the checkpoint's partition count.  User repartition with an
    # explicit count is AQE-exempt (the SemDeDup/containment-verify
    # pattern, sized to the session's core count, not a constant).
    nbrs = (
        adj.groupBy("w")
        .agg(F.array_sort(F.collect_set("n")).alias("ns"))
        .withColumn("d", F.size("ns").cast("long"))
        .repartition(spark.sparkContext.defaultParallelism, "w")
        .localCheckpoint(eager=True)
    )
    deg = nbrs.select(F.col("w").alias("vertex"), F.col("d"))
    # The wedge aggregate shuffles one PACKED long per wedge instead of
    # the (u, v) pair (pack_pair — partkeys fit in 31 bits at any SF,
    # and a larger one fails the job), and the existing-edge anti-join probes the
    # same packed key; u and v unpack on the aggregated (small) frame.
    cn = (
        nbrs.select(
            "ns",
            F.when(
                F.col("d") > 1, F.round(F.lit(1e6) / F.log(F.col("d")))
            )
            .cast("long")
            .alias("aa_term"),
            F.posexplode("ns").alias("i", "nu"),
        )
        .select(
            "aa_term",
            "nu",
            F.explode(
                F.expr("slice(ns, i + 2, size(ns) - i - 1)")
            ).alias("nv"),
        )
        .select(pack_pair("nu", "nv").alias("uv"), "aa_term")
        .groupBy("uv")
        .agg(
            F.count("*").cast("long").alias("common_n"),
            F.sum("aa_term").cast("long").alias("aa_micros"),
        )
    )
    u, v = unpack_pair("uv")
    ne = cn.join(
        edges.select(pack_pair("u", "v").alias("uv")),
        "uv",
        "left_anti",
    ).select(
        u.alias("u"),
        v.alias("v"),
        "common_n",
        "aa_micros",
    )
    du = deg.select(F.col("vertex").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("vertex").alias("v"), F.col("d").alias("dv"))
    return (
        ne.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_n",
            "aa_micros",
            F.round(
                F.col("common_n").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_n")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(
            F.col("common_n").desc(),
            F.col("aa_micros").desc(),
            "u",
            "v",
        )
        .limit(LINK_TOPK)
    )


# Zipf/Heaps fits: the two classical corpus-scaling laws, fitted by
# least squares in log-log space (regr_slope/intercept/r2 — the regr_*
# cross-engine parity pinned since the TPC-H spine).
ZIPF_BUCKETS = 32


@register(
    "zipf_law_fit",
    oracle="""
        WITH tok AS (
            SELECT unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT term, count(*)::BIGINT AS f FROM tok GROUP BY term
        ), r AS (
            SELECT f, row_number() OVER (ORDER BY f DESC, term) AS rnk
            FROM tf
        )
        SELECT count(*)::BIGINT AS n_types, sum(f)::BIGINT AS n_tokens,
               round(regr_slope(ln(f), ln(rnk)), 6) AS zipf_slope,
               round(regr_intercept(ln(f), ln(rnk)), 6) AS zipf_intercept,
               round(regr_r2(ln(f), ln(rnk)), 6) AS r2
        FROM r
    """,
    doc="""Zipf's-law fit over the corpus unigram distribution: the
    log-log least-squares slope of frequency against frequency rank
    (healthy natural-language corpora sit near −1; templated or
    synthetic text bends the curve — a standard corpus-health audit
    next to the entropy/repetition filters).  The global frequency
    rank uses ``hierarchical_row_number`` (rank per frequency bucket +
    broadcast offsets — never an unpartitioned window); the fit is one
    ``regr_*`` aggregate over the |vocabulary| frame.  Raw tokens are
    touched once.""",
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import hierarchical_row_number

    docs = load_table(spark, "documents", sf_dir)
    tf = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("f"))
    )
    ranked = hierarchical_row_number(
        tf,
        (-F.col("f")).cast("double"),
        tiebreak="term",
        out="rnk",
        num_buckets=ZIPF_BUCKETS,
    )
    lf, lr = F.log(F.col("f")), F.log(F.col("rnk"))
    return ranked.agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("f").cast("long").alias("n_tokens"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lf, lr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lf, lr), 6).alias("r2"),
    )


@register(
    "heaps_law_fit",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ), dl AS (
            SELECT doc_id, count(*)::BIGINT AS nt FROM tok GROUP BY doc_id
        ), fo AS (
            SELECT term, min(doc_id) AS fd FROM tok GROUP BY term
        ), nu AS (
            SELECT fd AS doc_id, count(*)::BIGINT AS nw FROM fo GROUP BY fd
        ), d AS (
            SELECT dl.doc_id, dl.nt, coalesce(nu.nw, 0)::BIGINT AS nw
            FROM dl LEFT JOIN nu USING (doc_id)
        ), c AS (
            SELECT doc_id,
                   sum(nt) OVER (ORDER BY doc_id)::BIGINT AS ct,
                   sum(nw) OVER (ORDER BY doc_id)::BIGINT AS cv
            FROM d
        )
        SELECT count(*)::BIGINT AS n_docs, max(ct) AS n_tokens,
               max(cv) AS n_types,
               round(regr_slope(ln(cv), ln(ct)), 6) AS heaps_beta,
               round(regr_intercept(ln(cv), ln(ct)), 6) AS heaps_logk,
               round(regr_r2(ln(cv), ln(ct)), 6) AS r2
        FROM c
    """,
    doc="""Heaps'-law fit: vocabulary growth against corpus growth in
    ingestion (doc_id) order — the log-log slope β of distinct types
    vs tokens seen (natural corpora sit near 0.5–0.7; β collapsing
    toward 0 flags a corpus that has stopped contributing new
    vocabulary, the diminishing-returns signal behind dedup/mixture
    decisions; the curve itself is ``vocab_coverage_curve``, this is
    the scalar fit).  New-type credit goes to each term's FIRST
    document (grouped min), per-document token and novelty counts then
    take a doc_id-bucketed hierarchical prefix sum
    (``bucketed_prefix_sums`` — partitioned windows + broadcast
    offsets), and the fit is one ``regr_*`` aggregate over the |docs|
    frame.""",
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("long").alias("nt"))
    nu = (
        tok.groupBy("term")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("nw"))
    )
    d = dl.join(nu, "doc_id", "left").select(
        "doc_id",
        "nt",
        F.coalesce(F.col("nw"), F.lit(0)).cast("long").alias("nw"),
    )
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    if hi == lo:
        bucket = F.lit(0)
    else:
        width = (float(hi) - float(lo)) / ZIPF_BUCKETS
        bucket = F.least(
            F.greatest(
                F.floor((F.col("doc_id") - float(lo)) / width), F.lit(0)
            ),
            F.lit(ZIPF_BUCKETS - 1),
        )
    c = bucketed_prefix_sums(
        d.withColumn("_db", bucket.cast("long")),
        "_db",
        [F.col("doc_id")],
        {"nt": "ct", "nw": "cv"},
    )
    lv, lt = F.log(F.col("cv")), F.log(F.col("ct"))
    return c.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("ct").alias("n_tokens"),
        F.max("cv").alias("n_types"),
        F.round(F.regr_slope(lv, lt), 6).alias("heaps_beta"),
        F.round(F.regr_intercept(lv, lt), 6).alias("heaps_logk"),
        F.round(F.regr_r2(lv, lt), 6).alias("r2"),
    )
