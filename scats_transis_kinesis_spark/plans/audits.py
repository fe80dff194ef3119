"""Data-quality, governance, sketch and storage-layout audits.

Constraint checks, profiles, referential integrity, drift, k-anonymity
and erasure cascades; key skew, selectivity and equi-depth histograms;
Bloom filters, Count-Min, HLL/theta and frequent-item sketches with
their error audits; and the storage economics of layout, compaction,
run-length and dictionary encoding and feature hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_P, duckdb_hash32_sql, portable_hash32
from ..operators.bloom import (
    BLOOM_K,
    BLOOM_M_BITS,
    bloom_position_sql,
    bloom_probe,
    build_bloom_words,
)
from ..sources.loaders import load_table
from .common import HH_THRESHOLD, _idiv
from .probes import probe_min_max
from .registry import register

# PSI drift-audit parameters: decile buckets of the REFERENCE period,
# Jeffreys-style +0.5 count smoothing so an empty bucket contributes a
# finite penalty instead of an infinite log-ratio.  The smoothing
# constant is defined ONCE beside the streaming twin
# (streaming/pipeline.py:PSI_SMOOTH) so the batch/stream drift
# contract cannot drift on an edit to one side.
from ..streaming.pipeline import PSI_SMOOTH as DRIFT_SMOOTH


HH_BUCKETS = 1 << 16


@register(
    "heavy_hitters_twopass",
    oracle=f"""
        SELECT tok, count(*)::BIGINT AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY tok
        HAVING count(*) >= {HH_THRESHOLD}
    """,
    doc="""Corpus-frequency heavy hitters (vocabulary pruning / stopword
    discovery) via the scalable two-pass pattern: pass 1 aggregates
    token counts into 65536 hash buckets — bounded state, fully
    map-side combinable, one tiny shuffle — and keeps buckets whose
    total reaches the threshold (a superset of the true heavy hitters,
    since a bucket's count >= any member token's count).  Pass 2
    recounts exactly, restricted to candidate buckets via a broadcast
    semi-join, so the big groupBy state is only the candidate tokens.
    A naive ``groupBy(token)`` carries the full vocabulary through the
    shuffle; this carries 65536 counters plus the survivors.  The
    oracle is the exact HAVING query — the two-pass plan loses
    nothing.""",
)
def heavy_hitters_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    toks = toks.withColumn("bucket", portable_hash32("tok") % HH_BUCKETS)
    cand_buckets = (
        toks.groupBy("bucket")
        .count()
        .where(F.col("count") >= HH_THRESHOLD)
        .select("bucket")
    )
    return (
        toks.join(F.broadcast(cand_buckets), "bucket", "left_semi")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= HH_THRESHOLD)
    )


@register(
    "dq_constraint_audit",
    oracle="""
        SELECT 'orders_null_custkey' AS check_name,
               count(*) FILTER (WHERE o_custkey IS NULL)::BIGINT
                   AS violations
        FROM orders
        UNION ALL
        SELECT 'orders_dup_orderkey',
               (count(*) - count(DISTINCT o_orderkey))::BIGINT
        FROM orders
        UNION ALL
        SELECT 'orders_dangling_custkey',
               count(*)::BIGINT
        FROM orders o
        WHERE NOT EXISTS (
            SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'lineitem_nonpositive_qty',
               count(*) FILTER (WHERE l_quantity <= 0)::BIGINT
        FROM lineitem
    """,
    doc="""Data-quality constraint audit (expectation checks): NOT NULL,
    primary-key uniqueness, referential integrity (orders→customer via
    LEFT ANTI join), and a domain predicate — the validation pass a
    pipeline runs before publishing a dataset.  Null/domain checks are
    scan-stage conditional counts (map-side combine to one row);
    uniqueness is count vs distinct-count on the key (partial aggs);
    the FK check is one keyed join against the dimension.  Each check
    emits (check_name, violations) so the whole audit is a single
    4-row frame a scheduler can assert on.""",
)
def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)

    null_ck = orders.agg(
        F.lit("orders_null_custkey").alias("check_name"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("violations"),
    )
    dup_pk = orders.agg(
        F.lit("orders_dup_orderkey").alias("check_name"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("violations"),
    )
    dangling = (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey, "left_anti"
        ).agg(
            F.lit("orders_dangling_custkey").alias("check_name"),
            F.count("*").alias("violations"),
        )
    )
    domain = lineitem.agg(
        F.lit("lineitem_nonpositive_qty").alias("check_name"),
        F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("violations"),
    )
    return null_ck.unionByName(dup_pk).unionByName(dangling).unionByName(
        domain
    )


# Columns profiled by table_profile (numeric min/max reported as
# DOUBLE; string columns carry NULL bounds so the output schema stays
# uniform without cross-engine string-rendering hazards).
_PROFILE_NUM = ("o_orderkey", "o_custkey", "o_totalprice")
_PROFILE_STR = ("o_orderstatus", "o_orderpriority")


def _profile_oracle() -> str:
    parts = [
        f"""SELECT '{c}' AS column_name,
                   count(*) - count({c}) AS n_nulls,
                   count(DISTINCT {c})::BIGINT AS n_distinct,
                   min({c})::DOUBLE AS min_value,
                   max({c})::DOUBLE AS max_value
            FROM orders"""
        for c in _PROFILE_NUM
    ] + [
        f"""SELECT '{c}' AS column_name,
                   count(*) - count({c}) AS n_nulls,
                   count(DISTINCT {c})::BIGINT AS n_distinct,
                   NULL::DOUBLE AS min_value,
                   NULL::DOUBLE AS max_value
            FROM orders"""
        for c in _PROFILE_STR
    ]
    return "\nUNION ALL\n".join(parts)


@register(
    "table_profile",
    oracle=_profile_oracle(),
    doc="""One-pass data profiling (the first thing run against any new
    100 TB table): per-column null count, exact distinct count, and
    numeric min/max, computed in a SINGLE scan — one wide aggregate
    over all profiled columns, pivoted to one row per column with a
    ``stack`` projection.  The oracle is the naive per-column UNION
    (five scans); the engine's one-pass plan produces identical
    values.  Multiple exact count-distincts share the scan via
    Catalyst's expand; for wider tables the approx_count_distinct
    twin (see approx_distinct's bounded-error contract) drops the
    expand entirely.""",
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    aggs = []
    for c in _PROFILE_NUM + _PROFILE_STR:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
        ]
    for c in _PROFILE_NUM:
        aggs += [
            F.min(c).cast("double").alias(f"mn_{c}"),
            F.max(c).cast("double").alias(f"mx_{c}"),
        ]
    one = orders.agg(*aggs)
    stack_args = []
    for c in _PROFILE_NUM:
        stack_args += [
            f"'{c}'", f"nn_{c}", f"nd_{c}", f"mn_{c}", f"mx_{c}",
        ]
    for c in _PROFILE_STR:
        stack_args += [
            f"'{c}'", f"nn_{c}", f"nd_{c}",
            "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
        ]
    n = len(_PROFILE_NUM) + len(_PROFILE_STR)
    return one.selectExpr(
        f"stack({n}, {', '.join(stack_args)}) AS "
        "(column_name, n_nulls, n_distinct, min_value, max_value)"
    )


# Z-order parameters: 8 bits per dimension, 16-bit Morton codes, 64
# codes per file — the audit emits per-file min/max ranges for BOTH
# dimensions (what a lakehouse data-skipping index stores).
Z_BITS = 8
Z_CODES_PER_FILE = 64


def _zorder_oracle() -> str:
    bx = "(o_custkey % 256)"
    by = "(datediff('day', DATE '1970-01-01', o_orderdate::DATE) % 256)"
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({bx} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({by} >> {i}) & 1) << {2 * i})")
    z = " | ".join(terms)
    return f"""
        WITH coded AS (
            SELECT o_orderkey, o_custkey,
                   datediff('day', DATE '1970-01-01', o_orderdate::DATE)
                       AS day_num,
                   ({z}) AS zcode
            FROM orders
        )
        SELECT (zcode // {Z_CODES_PER_FILE})::BIGINT AS file_id,
               count(*)::BIGINT AS n_rows,
               min(o_custkey % 256)::BIGINT AS min_cust_bucket,
               max(o_custkey % 256)::BIGINT AS max_cust_bucket,
               min(day_num % 256)::BIGINT AS min_day_bucket,
               max(day_num % 256)::BIGINT AS max_day_bucket
        FROM coded
        GROUP BY 1
    """


@register(
    "zorder_layout_audit",
    oracle=_zorder_oracle(),
    doc=f"""Z-order (Morton) clustering audit — the layout step behind
    lakehouse multi-column data skipping (Delta OPTIMIZE ZORDER BY):
    interleave {Z_BITS} bits of two dimension buckets (customer,
    order-day) into a Morton code, group rows into files of
    {Z_CODES_PER_FILE} consecutive codes, and report each file's
    min/max range in BOTH dimensions — exactly the per-file statistics
    a scan would prune on.  Because the curve preserves locality in
    both dimensions at once, every file's cust range AND day range are
    narrow (a linear sort gives narrow ranges in the sort key only).
    Scale shape: the code is a pure bitwise projection; the physical
    write would be ``repartitionByRange(file_id)`` (the same
    range-clustered write as ``compact_table``); the audit is one
    partial-aggregated groupBy.""",
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
    bx = (F.col("o_custkey") % 256).cast("int")
    by = (day % 256).cast("int")
    z = F.lit(0)
    for i in range(Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(bx, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(by, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    coded = orders.select(
        bx.alias("cust_bucket"), by.alias("day_bucket"), z.alias("zcode")
    )
    return (
        coded.groupBy(
            F.floor(F.col("zcode") / Z_CODES_PER_FILE).cast("long").alias("file_id")
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("cust_bucket").cast("long").alias("min_cust_bucket"),
            F.max("cust_bucket").cast("long").alias("max_cust_bucket"),
            F.min("day_bucket").cast("long").alias("min_day_bucket"),
            F.max("day_bucket").cast("long").alias("max_day_bucket"),
        )
    )


@register(
    "sketch_mergeability_audit",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   count(DISTINCT o_custkey) AS md
            FROM orders GROUP BY date_trunc('month', o_orderdate)
        )
        SELECT (SELECT count(*) FROM monthly) AS n_months,
               (SELECT count(DISTINCT o_custkey) FROM orders)
                   AS exact_distinct,
               (SELECT quantile_cont(o_totalprice, 0.5) FROM orders) IS NOT
                   NULL AS kll_p50_ok,
               TRUE AS hll_merged_ok,
               TRUE AS theta_merged_ok,
               TRUE AS kll_p99_ok
    """,
    doc="""Mergeable-sketch audit (Apache DataSketches built-ins, Spark
    4): HLL and theta distinct sketches and a KLL quantile sketch are
    built PER MONTH over orders, then UNIONED across months — the
    re-aggregation property that makes sketches the 100 TB answer to
    distinct/quantile rollups (pre-aggregate per partition/day, merge
    for any ad-hoc range — never rescan).  Sketch internals are
    engine-specific, so the hash contract is the approx_distinct
    pattern: the merged HLL (lgK=14) and theta estimates must land
    within 5% of the exact distinct count, and the merged KLL p50/p99
    must sit between the exact neighboring order statistics with 2%
    rank tolerance — booleans the oracle carries as literal TRUE.""",
)
def sketch_mergeability_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).select(
        F.date_trunc("month", "o_orderdate").alias("m"),
        "o_custkey",
        "o_totalprice",
    )
    monthly = o.groupBy("m").agg(
        F.hll_sketch_agg("o_custkey", F.lit(14)).alias("hll"),
        F.theta_sketch_agg("o_custkey").alias("theta"),
        F.kll_sketch_agg_double("o_totalprice").alias("kll"),
    )
    merged = monthly.agg(
        F.count("*").alias("n_months"),
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("hll_est"),
        F.theta_sketch_estimate(
            F.expr("theta_union_agg(theta)")
        ).alias("theta_est"),
        F.expr(
            "kll_sketch_get_quantile_double(kll_merge_agg_double(kll), 0.5)"
        ).alias("kll_p50"),
        F.expr(
            "kll_sketch_get_quantile_double(kll_merge_agg_double(kll), 0.99)"
        ).alias("kll_p99"),
    )
    exact = o.agg(
        F.countDistinct("o_custkey").alias("exact_distinct"),
        F.expr("percentile(o_totalprice, array(0.48, 0.52, 0.97, 1.0))")
        .alias("p_bounds"),
    )
    j = merged.crossJoin(F.broadcast(exact))
    within = lambda est: (  # noqa: E731
        F.abs(est - F.col("exact_distinct")) <= 0.05 * F.col("exact_distinct")
    )
    return j.select(
        "n_months",
        "exact_distinct",
        (
            (F.col("kll_p50") >= F.col("p_bounds")[0])
            & (F.col("kll_p50") <= F.col("p_bounds")[1])
        ).alias("kll_p50_ok"),
        within(F.col("hll_est")).alias("hll_merged_ok"),
        within(F.col("theta_est")).alias("theta_merged_ok"),
        (
            (F.col("kll_p99") >= F.col("p_bounds")[2])
            & (F.col("kll_p99") <= F.col("p_bounds")[3])
        ).alias("kll_p99_ok"),
    )


@register(
    "theta_overlap_audit",
    oracle="""
        WITH c AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'click'),
             p AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'purchase')
        SELECT (SELECT count(*) FROM c) AS exact_clickers,
               (SELECT count(*) FROM p) AS exact_purchasers,
               (SELECT count(*) FROM c JOIN p USING (user_id))
                   AS exact_both,
               (SELECT count(*) FROM c)
                   - (SELECT count(*) FROM c JOIN p USING (user_id))
                   AS exact_click_only,
               TRUE AS intersection_ok,
               TRUE AS difference_ok
    """,
    doc="""Theta-sketch SET ALGEBRA (audience-overlap analytics): the
    clicker and purchaser distinct-user sketches intersect and
    difference WITHOUT rescanning events — the capability HLL lacks
    (union-only) and the reason theta sketches exist (Dalvi et al. /
    DataSketches).  At 100 TB: one sketch per segment per day, any
    audience overlap answered from sketch algebra.  Engine-specific
    internals → the bounded-error contract: intersection and
    difference estimates within 10% (absolute 2) of the exact
    anti/semi-join counts, carried as always-true booleans.""",
)
def theta_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    sketches = ev.agg(
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'click' THEN user_id"
            " END)"
        ).alias("s_click"),
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'purchase' THEN"
            " user_id END)"
        ).alias("s_purchase"),
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("exact_clickers"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("exact_purchasers"),
    )
    c = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    # exact_click_only = clickers − both (user_id is non-null), so one
    # semi-join aggregate covers both exact overlap numbers — no
    # anti-join, one fewer scan and one fewer broadcast.
    exact = c.join(p, "user_id").agg(F.count("*").alias("exact_both"))
    j = sketches.crossJoin(F.broadcast(exact)).withColumn(
        "exact_click_only", F.col("exact_clickers") - F.col("exact_both")
    )
    est_i = F.expr(
        "theta_sketch_estimate(theta_intersection(s_click, s_purchase))"
    )
    est_d = F.expr(
        "theta_sketch_estimate(theta_difference(s_click, s_purchase))"
    )
    tol = lambda est, ref: (  # noqa: E731
        F.abs(est - ref) <= F.greatest(F.lit(2.0), 0.10 * ref)
    )
    return j.select(
        "exact_clickers",
        "exact_purchasers",
        "exact_both",
        "exact_click_only",
        tol(est_i, F.col("exact_both")).alias("intersection_ok"),
        tol(est_d, F.col("exact_click_only")).alias("difference_ok"),
    )


@register(
    "key_skew_audit",
    oracle="""
        WITH per_key AS (
            SELECT user_id, count(*)::BIGINT AS n
            FROM events GROUP BY user_id
        )
        SELECT count(*)::BIGINT AS n_keys,
               sum(n)::BIGINT AS n_rows,
               max(n)::BIGINT AS max_key_rows,
               round(quantile_cont(n, 0.5), 4) AS median_key_rows,
               round(max(n) * count(*) / sum(n)::DOUBLE, 4)
                   AS hot_key_ratio,
               round(sum(n::DOUBLE * n) * count(*)
                     / (sum(n)::DOUBLE * sum(n)), 6) AS imbalance_factor
        FROM per_key
    """,
    doc="""Partition-skew audit — the diagnostic run BEFORE choosing a
    join strategy at 100 TB: per-key row counts reduced to the skew
    statistics that decide salting (max/median ratio, the hot-key
    share) and the expected shuffle imbalance (sum(n²)·k/total² — the
    factor by which the largest hash partition exceeds uniform).  Two
    grouped aggregations, both fully partial-aggregated; the operator
    family it feeds (salted_join, skew-safe top-k) is pinned in
    tests/test_skew.py.""",
)
def key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    return per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
        F.round(F.expr("percentile(n, 0.5)"), 4).alias("median_key_rows"),
        F.round(
            F.max("n") * F.count("*") / F.sum("n").cast("double"), 4
        ).alias("hot_key_ratio"),
        # n² accumulates in DOUBLE: sum(n²)·k ≥ total² (Cauchy-Schwarz),
        # so a long accumulator overflows right at the event volumes the
        # audit targets; the oracle's HUGEINT never would, and the two
        # engines must round the same value.
        F.round(
            F.sum(F.col("n").cast("double") * F.col("n"))
            * F.count("*")
            / (F.sum("n").cast("double") * F.sum("n")),
            6,
        ).alias("imbalance_factor"),
    )


DRIFT_QS = [round(0.1 * i, 1) for i in range(1, 10)]
DRIFT_CUTOVER = "1996-01-01"


@register(
    "column_drift_audit",
    oracle=f"""
        WITH o AS (
            SELECT o_totalprice AS v,
                   CASE WHEN o_orderdate < DATE '{DRIFT_CUTOVER}'
                        THEN 'ref' ELSE 'cur' END AS period
            FROM orders
        ), cuts AS (
            SELECT quantile_cont(v, {DRIFT_QS}) AS cs FROM o
            WHERE period = 'ref'
        ), b AS (
            SELECT period,
                   len(list_filter(cuts.cs, c -> o.v > c))::INT AS bucket
            FROM o CROSS JOIN cuts
        ), counts AS (
            SELECT bucket,
                   sum(CASE WHEN period = 'ref' THEN 1 ELSE 0 END)::BIGINT
                       AS ref_c,
                   sum(CASE WHEN period = 'cur' THEN 1 ELSE 0 END)::BIGINT
                       AS cur_c
            FROM b GROUP BY bucket
        ), tot AS (
            SELECT sum(ref_c) AS ref_n, sum(cur_c) AS cur_n FROM counts
        )
        SELECT 'o_totalprice' AS column_name, bucket,
               ref_c, cur_c,
               round((ref_c + {DRIFT_SMOOTH}) / (ref_n + {DRIFT_SMOOTH * 10}),
                     6) AS ref_share,
               round((cur_c + {DRIFT_SMOOTH}) / (cur_n + {DRIFT_SMOOTH * 10}),
                     6) AS cur_share,
               round(((cur_c + {DRIFT_SMOOTH}) / (cur_n + {DRIFT_SMOOTH * 10})
                      - (ref_c + {DRIFT_SMOOTH}) / (ref_n + {DRIFT_SMOOTH * 10}))
                     * ln(((cur_c + {DRIFT_SMOOTH}) / (cur_n + {DRIFT_SMOOTH * 10}))
                          / ((ref_c + {DRIFT_SMOOTH}) / (ref_n + {DRIFT_SMOOTH * 10}))),
                     6) AS psi_term
        FROM counts CROSS JOIN tot
    """,
    doc=f"""Population-stability-index drift audit (the standard model-
    monitoring metric): order prices are bucketed by the REFERENCE
    period's exact deciles (orders before {DRIFT_CUTOVER}), and each
    bucket reports reference vs current share plus its smoothed PSI
    term ((cur-ref)·ln(cur/ref), +{DRIFT_SMOOTH} count smoothing so an
    emptied bucket stays finite) — sum the terms for the headline PSI.
    Scale shape: one exact-percentile aggregate over the reference
    slice (9 scalars, broadcast), one pure-column bucket assignment,
    one 10-group count — no window, no self-join; at 100 TB the decile
    cutpoints would come from the already-shipped KLL sketch family
    with identical plumbing.  The log-ratio follows domain_shift_kl's
    round-6 contract.""",
)
def column_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_totalprice").alias("v"),
        F.when(
            F.col("o_orderdate") < F.lit(DRIFT_CUTOVER).cast("date"), "ref"
        )
        .otherwise("cur")
        .alias("period"),
    )
    qs = ", ".join(str(q) for q in DRIFT_QS)
    cuts = o.where(F.col("period") == "ref").agg(
        F.expr(f"percentile(v, array({qs}))").alias("cs")
    )
    b = o.join(F.broadcast(cuts)).select(
        "period",
        F.size(F.expr("filter(cs, c -> v > c)")).cast("int").alias("bucket"),
    )
    counts = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0))
        .cast("long")
        .alias("ref_c"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0))
        .cast("long")
        .alias("cur_c"),
    )
    tot = counts.agg(
        F.sum("ref_c").alias("ref_n"), F.sum("cur_c").alias("cur_n")
    )
    s = F.lit(DRIFT_SMOOTH)
    s10 = F.lit(DRIFT_SMOOTH * 10)
    ref_share = (F.col("ref_c") + s) / (F.col("ref_n") + s10)
    cur_share = (F.col("cur_c") + s) / (F.col("cur_n") + s10)
    return counts.crossJoin(F.broadcast(tot)).select(
        F.lit("o_totalprice").alias("column_name"),
        "bucket",
        "ref_c",
        "cur_c",
        F.round(ref_share, 6).alias("ref_share"),
        F.round(cur_share, 6).alias("cur_share"),
        F.round(
            (cur_share - ref_share) * F.log(cur_share / ref_share), 6
        ).alias("psi_term"),
    )


APPROX_TOPK_K = 6


@register(
    "approx_top_k_users",
    oracle=f"""
        SELECT user_id, count(*)::BIGINT AS est_count
        FROM events GROUP BY user_id
        ORDER BY est_count DESC, user_id LIMIT {APPROX_TOPK_K}
    """,
    doc=f"""Sketch-based frequent items (Spark 4 ``approx_top_k``, the
    DataSketches frequent-items family): top-{APPROX_TOPK_K} users by
    event count from ONE streaming-mergeable sketch pass.  Contract
    (the approx_distinct pattern): with the default 10k tracked items
    far above this corpus's distinct-user count the sketch is in
    EXACT mode, so estimates equal exact counts and the top-k set is
    the exact heavy-hitter set (the sf0.01 boundary has a strict count
    gap, so set equality is well-defined).  At 100 TB with unbounded
    keys the same call returns epsilon-bounded heavy hitters in
    bounded memory — the one-pass mergeable complement to the exact
    two-pass heavy_hitters_twopass.""",
)
def approx_top_k_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.agg(F.expr(f"approx_top_k(user_id, {APPROX_TOPK_K})").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("user_id"),
            F.col("e.count").cast("long").alias("est_count"),
        )
    )


@register(
    "referential_integrity_audit",
    oracle="""
        SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
               (SELECT count(*) FROM lineitem)::BIGINT AS n_child,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))::BIGINT
                   AS n_orphans
        UNION ALL
        SELECT 'orders.o_custkey->customer',
               (SELECT count(*) FROM orders)::BIGINT,
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))::BIGINT
        UNION ALL
        SELECT 'customer.c_nationkey->nation',
               (SELECT count(*) FROM customer)::BIGINT,
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))::BIGINT
    """,
    doc="""Referential-integrity audit across the fact spine: orphan
    counts for the three FK edges (lineitem→orders, orders→customer,
    customer→nation) — the cross-TABLE data-quality check
    dq_constraint_audit's per-column rules cannot see, and the first
    audit run after any ingest that can partially fail.  Each edge is
    one left-anti join: parent keys broadcast where bounded
    (nation, customer at their dimension scale); the lineitem→orders
    edge shuffles both sides on the key at 100 TB — the unavoidable
    full-scan DQ cost, paid as one pass per edge with only counts
    surviving.""",
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)

    def edge(name, child, key, parent, pkey, broadcast_parent):
        p = parent.select(F.col(pkey).alias(key)).distinct()
        if broadcast_parent:
            p = F.broadcast(p)
        orphans = child.select(key).join(p, key, "left_anti")
        return (
            child.agg(F.count("*").cast("long").alias("n_child"))
            .crossJoin(
                F.broadcast(
                    orphans.agg(F.count("*").cast("long").alias("n_orphans"))
                )
            )
            .select(F.lit(name).alias("fk_edge"), "n_child", "n_orphans")
        )

    return (
        edge(
            "lineitem.l_orderkey->orders", li, "l_orderkey", orders,
            "o_orderkey", False,
        )
        .unionByName(
            edge(
                "orders.o_custkey->customer", orders, "o_custkey", cust,
                "c_custkey", True,
            )
        )
        .unionByName(
            edge(
                "customer.c_nationkey->nation", cust, "c_nationkey", nation,
                "n_nationkey", True,
            )
        )
    )


# The selective dim predicate the runtime filter prunes the fact scan
# with: one of the five market segments (~20% of customers).
BLOOM_SEGMENT = "BUILDING"


_BLOOM_BITS_CTE = " UNION ALL ".join(
    f"SELECT {bloom_position_sql('ck', j)} AS pos FROM keys"
    for j in range(BLOOM_K)
)
_BLOOM_PASS_EXPR = " AND ".join(
    f"{bloom_position_sql('o_custkey', j)} IN (SELECT pos FROM bits)"
    for j in range(BLOOM_K)
)


@register(
    "bloom_runtime_filter_audit",
    oracle=f"""
        WITH keys AS (
            SELECT c_custkey AS ck FROM customer
            WHERE c_mktsegment = '{BLOOM_SEGMENT}'
        ), bits AS (
            SELECT DISTINCT pos FROM ({_BLOOM_BITS_CTE})
        ), probe AS (
            SELECT ({_BLOOM_PASS_EXPR}) AS bloom_pass,
                   o_custkey IN (SELECT ck FROM keys) AS is_member
            FROM orders
        )
        SELECT count(*)::BIGINT AS n_fact,
               (SELECT count(*) FROM keys)::BIGINT AS n_keys,
               count(*) FILTER (WHERE bloom_pass)::BIGINT AS n_pass_bloom,
               count(*) FILTER (WHERE is_member)::BIGINT AS n_exact_match,
               count(*) FILTER (WHERE bloom_pass AND NOT is_member)::BIGINT
                   AS n_false_pos,
               bool_and(bloom_pass OR NOT is_member) AS no_false_negatives,
               {BLOOM_M_BITS}::BIGINT AS m_bits,
               {BLOOM_K}::BIGINT AS k_hashes
        FROM probe
    """,
    doc=f"""Bloom runtime-filter audit: build a {BLOOM_M_BITS}-bit /
    {BLOOM_K}-hash bitmap over the '{BLOOM_SEGMENT}'-segment customer
    keys, probe every order with a PROJECTION (the bitmap rides into
    codegen as a literal long array — the fact side is never joined or
    shuffled for the filter itself), then count realized false
    positives against exact membership and assert zero false
    negatives.  This is the semi-join pruning shape for 100 TB fact
    scans — the exact-membership join here exists only so the audit is
    self-verifying; production pruning runs the probe alone and
    finishes with an exact join on the tiny surviving subset.  Portable
    md5 hashing makes bitmap and probe bit-identical in DuckDB.""",
)
def bloom_runtime_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    keys = cust.where(F.col("c_mktsegment") == BLOOM_SEGMENT).select(
        F.col("c_custkey").alias("ck")
    )
    words = build_bloom_words(keys, "ck")
    orders = load_table(spark, "orders", sf_dir)
    probe = (
        orders.select(
            "o_custkey",
            bloom_probe(F.col("o_custkey"), words).alias("bloom_pass"),
        )
        .join(F.broadcast(keys), F.col("o_custkey") == F.col("ck"), "left")
        .select("bloom_pass", F.col("ck").isNotNull().alias("is_member"))
    )
    audit = probe.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.count(F.when(F.col("bloom_pass"), 1)).alias("n_pass_bloom"),
        F.count(F.when(F.col("is_member"), 1)).alias("n_exact_match"),
        F.count(F.when(F.col("bloom_pass") & ~F.col("is_member"), 1)).alias(
            "n_false_pos"
        ),
        F.bool_and(F.col("bloom_pass") | ~F.col("is_member")).alias(
            "no_false_negatives"
        ),
    )
    n_keys = keys.agg(F.count(F.lit(1)).alias("n_keys"))
    return audit.crossJoin(F.broadcast(n_keys)).select(
        "n_fact",
        "n_keys",
        "n_pass_bloom",
        "n_exact_match",
        "n_false_pos",
        "no_false_negatives",
        F.lit(BLOOM_M_BITS).cast("long").alias("m_bits"),
        F.lit(BLOOM_K).cast("long").alias("k_hashes"),
    )


# k-anonymity threshold and the account-balance banding used as the
# sensitive attribute for l-diversity (low/mid/high thirds of the
# TPC-H acctbal range).
K_ANON = 10
ACCTBAL_BANDS = (0.0, 5000.0)

# Erasure request predicate: deeply negative balances (~0.7% of
# customers) stand in for an explicit deletion-request list.
ERASE_BAL = -900.0

_BAND_SQL = (
    f"CASE WHEN c_acctbal < {ACCTBAL_BANDS[0]} THEN 'low' "
    f"WHEN c_acctbal < {ACCTBAL_BANDS[1]} THEN 'mid' ELSE 'high' END"
)


@register(
    "k_anonymity_audit",
    oracle=f"""
        WITH cls AS (
            SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS sz,
                   count(DISTINCT {_BAND_SQL})::BIGINT AS l_div
            FROM customer GROUP BY c_nationkey, c_mktsegment
        ), fine AS (
            SELECT count(*)::BIGINT AS n_classes,
                   sum(sz)::BIGINT AS n_rows,
                   count(*) FILTER (WHERE sz < {K_ANON})::BIGINT
                       AS n_violating_classes,
                   coalesce(sum(sz) FILTER (WHERE sz < {K_ANON}), 0)::BIGINT
                       AS n_rows_at_risk,
                   min(sz)::BIGINT AS min_class_size,
                   min(l_div)::BIGINT AS min_l
            FROM cls
        ), coarse AS (
            SELECT count(*)::BIGINT AS n_classes_coarse,
                   count(*) FILTER (WHERE sz < {K_ANON})::BIGINT
                       AS n_violating_coarse,
                   min(sz)::BIGINT AS min_class_size_coarse
            FROM (
                SELECT c_nationkey, count(*)::BIGINT AS sz
                FROM customer GROUP BY c_nationkey
            )
        )
        SELECT {K_ANON}::BIGINT AS k, fine.*, coarse.* FROM fine, coarse
    """,
    doc=f"""k-anonymity / l-diversity screen (k = {K_ANON}) of the
    customer table under QI = (nation, segment), plus the one-step
    generalization (QI = nation alone) that shows coarsening restoring
    k.  Two grouped aggregations over the dimension; the class frame
    is |nations × segments| rows, the audit a single row.  At 100 TB
    the QI groupBy is one keyed shuffle over the dimension table —
    the fact tables never participate.""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    band = (
        F.when(F.col("c_acctbal") < ACCTBAL_BANDS[0], "low")
        .when(F.col("c_acctbal") < ACCTBAL_BANDS[1], "mid")
        .otherwise("high")
    )
    cls = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct(band).alias("l_div"),
    )
    fine = cls.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("sz").alias("n_rows"),
        F.count(F.when(F.col("sz") < K_ANON, 1)).alias("n_violating_classes"),
        F.coalesce(
            F.sum(F.when(F.col("sz") < K_ANON, F.col("sz"))), F.lit(0)
        ).alias("n_rows_at_risk"),
        F.min("sz").alias("min_class_size"),
        F.min("l_div").alias("min_l"),
    )
    coarse = (
        cust.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(
            F.count(F.lit(1)).alias("n_classes_coarse"),
            F.count(F.when(F.col("sz") < K_ANON, 1)).alias("n_violating_coarse"),
            F.min("sz").alias("min_class_size_coarse"),
        )
    )
    return fine.crossJoin(F.broadcast(coarse)).select(
        F.lit(K_ANON).cast("long").alias("k"),
        "n_classes",
        "n_rows",
        "n_violating_classes",
        "n_rows_at_risk",
        "min_class_size",
        "min_l",
        "n_classes_coarse",
        "n_violating_coarse",
        "min_class_size_coarse",
    )


@register(
    "erasure_cascade_audit",
    oracle=f"""
        WITH forget AS (
            SELECT c_custkey FROM customer WHERE c_acctbal < {ERASE_BAL}
        ), eo AS (
            SELECT o_orderkey FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM forget)
        )
        SELECT 'customer' AS tbl, count(*)::BIGINT AS n_total,
               count(*) FILTER (WHERE c_acctbal < {ERASE_BAL})::BIGINT
                   AS n_erased,
               coalesce(sum(c_custkey)
                        FILTER (WHERE c_acctbal < {ERASE_BAL}), 0)::BIGINT
                   AS erased_key_checksum
        FROM customer
        UNION ALL
        SELECT 'orders', count(*)::BIGINT,
               count(*) FILTER (WHERE o_orderkey IN
                                (SELECT o_orderkey FROM eo))::BIGINT,
               coalesce(sum(o_orderkey)
                        FILTER (WHERE o_orderkey IN
                                (SELECT o_orderkey FROM eo)), 0)::BIGINT
        FROM orders
        UNION ALL
        SELECT 'lineitem', count(*)::BIGINT,
               count(*) FILTER (WHERE l_orderkey IN
                                (SELECT o_orderkey FROM eo))::BIGINT,
               coalesce(sum(l_orderkey + l_linenumber)
                        FILTER (WHERE l_orderkey IN
                                (SELECT o_orderkey FROM eo)), 0)::BIGINT
        FROM lineitem
    """,
    doc=f"""Right-to-be-forgotten cascade audit: customers flagged by
    the request predicate (acctbal < {ERASE_BAL}) cascade through
    orders to line items; per table the audit reports total rows, rows
    to erase, and an identity checksum over the erased keys — the
    artifact the erasure job must reproduce before and after deletion.
    Scale shape: the request set broadcasts (requests are tiny by
    nature); each fact table is scanned ONCE with an erased flag
    attached by join, so totals and erased counts share the scan; the
    orders→lineitem hop is a keyed semi-join that shuffles at 100 TB
    (the broadcast here reflects the flagged-order set staying small —
    requests × orders-per-customer).""",
)
def erasure_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    forget = cust.where(F.col("c_acctbal") < ERASE_BAL).select("c_custkey")

    def _audit(df: DataFrame, tbl: str, flag, checksum) -> DataFrame:
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(flag, 1)).alias("n_erased"),
            F.coalesce(F.sum(F.when(flag, checksum)), F.lit(0))
            .cast("long")
            .alias("erased_key_checksum"),
        ).select("tbl", "n_total", "n_erased", "erased_key_checksum")

    c_flagged = cust.select(
        "c_custkey", "c_acctbal", (F.col("c_acctbal") < ERASE_BAL).alias("er")
    )
    o_flagged = orders.join(
        F.broadcast(forget), orders.o_custkey == forget.c_custkey, "left"
    ).select("o_orderkey", F.col("c_custkey").isNotNull().alias("er"))
    erased_orders = o_flagged.where("er").select("o_orderkey")
    l_flagged = li.join(
        F.broadcast(erased_orders.withColumnRenamed("o_orderkey", "eok")),
        li.l_orderkey == F.col("eok"),
        "left",
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("eok").isNotNull().alias("er"),
    )
    return (
        _audit(c_flagged, "customer", F.col("er"), F.col("c_custkey"))
        .unionByName(_audit(o_flagged, "orders", F.col("er"), F.col("o_orderkey")))
        .unionByName(
            _audit(
                l_flagged,
                "lineitem",
                F.col("er"),
                F.col("l_orderkey") + F.col("l_linenumber"),
            )
        )
    )


# --- Count-Min sketch geometry -------------------------------------
# d=4 independent universal-hash rows (same (a*h+b) mod p family as the
# minhash permutations: a < 2^30 keeps a*h inside int64 in both
# engines), w=256 buckets per row.  d*w = 1024 counters total.
CM_W = 256
CM_PARAMS: tuple[tuple[int, int, int], ...] = (
    (0, 479_001_599, 12_345),
    (1, 715_827_883, 67_891),
    (2, 122_949_829, 424_242),
    (3, 536_870_923, 777_777),
)

_CM_PARAMS_SQL = ", ".join(f"({j}, {a}, {b})" for j, a, b in CM_PARAMS)
_H32_USER = duckdb_hash32_sql("user_id::VARCHAR")


@register(
    "countmin_error_audit",
    oracle=f"""
        WITH p(j, a, b) AS (VALUES {_CM_PARAMS_SQL}),
        h AS (
            SELECT user_id, {_H32_USER} AS h32 FROM events
        ), pb AS (
            SELECT h.user_id, p.j,
                   ((h.h32 * p.a + p.b) % {MINHASH_P}) % {CM_W} AS bucket
            FROM h CROSS JOIN p
        ), counters AS (
            SELECT j, bucket, count(*)::BIGINT AS c
            FROM pb GROUP BY j, bucket
        ), keys AS (
            SELECT user_id, count(*)::BIGINT AS exact, min(h32) AS h32
            FROM h GROUP BY user_id
        ), kb AS (
            SELECT k.user_id, k.exact, p.j,
                   ((k.h32 * p.a + p.b) % {MINHASH_P}) % {CM_W} AS bucket
            FROM keys k CROSS JOIN p
        ), est AS (
            SELECT user_id, min(exact) AS exact, min(c) AS est
            FROM kb JOIN counters USING (j, bucket)
            GROUP BY user_id
        )
        SELECT {len(CM_PARAMS)}::BIGINT AS d, {CM_W}::BIGINT AS w,
               sum(exact)::BIGINT AS n_events,
               count(*)::BIGINT AS n_keys,
               sum(CASE WHEN est = exact THEN 1 ELSE 0 END)::BIGINT
                   AS n_exact_estimates,
               max(est - exact)::BIGINT AS max_overestimate,
               sum(est - exact)::BIGINT AS total_overestimate,
               round(1e6 * sum(est - exact) / count(*))::BIGINT
                   AS mean_over_ppm
        FROM est
    """,
    doc=f"""Count-Min sketch error audit (Cormode & Muthukrishnan '05)
    over the event stream's user keys: build a d={len(CM_PARAMS)},
    w={CM_W} counter table (each key increments one bucket per hash
    row — the same (a·h+b) mod p portable universal-hash family as the
    minhash permutations), point-query EVERY distinct key (estimate =
    min over rows of its bucket counter), and report the observed
    one-sided error against exact counts: keys answered exactly, max
    and total overestimate.  Estimate >= exact ALWAYS holds (each
    bucket counts a superset of the key's occurrences) — an estimate
    below exact would fail the hash.  Scale shape: the build is one
    grouped aggregation whose output is d·w = {len(CM_PARAMS) * CM_W}
    counters (broadcast to the point-query join); the audit join is
    per-DISTINCT-key, not per-event; nothing ever shuffles wider than
    the exact per-key count the audit needs anyway.  At 100 TB the
    sketch is the mergeable per-partition frequency summary (counters
    add across shards — the sketch_mergeability_audit contract), and
    the exact side of THIS audit is what you drop.""",
)
def countmin_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import countmin_estimates

    ev = load_table(spark, "events", sf_dir).select("user_id")
    est = countmin_estimates(ev, "user_id", CM_PARAMS, CM_W)
    over = F.col("est") - F.col("exact")
    return est.agg(
        F.lit(len(CM_PARAMS)).cast("long").alias("d"),
        F.lit(CM_W).cast("long").alias("w"),
        F.sum("exact").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(over == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_exact_estimates"),
        F.max(over).cast("long").alias("max_overestimate"),
        F.sum(over).cast("long").alias("total_overestimate"),
        F.round(F.lit(1e6) * F.sum(over) / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_over_ppm"),
    )


# --- RLE sort-order economics --------------------------------------------

_RLE_COLS: tuple[str, ...] = ("l_quantity", "l_discount", "l_tax", "ship_month")


@register(
    "rle_compression_audit",
    oracle=f"""
        WITH ordered AS (
            SELECT l_returnflag, l_linestatus,
                   l_quantity, l_discount, l_tax,
                   month(l_shipdate)::BIGINT AS ship_month,
                   lag(l_quantity) OVER w AS p_l_quantity,
                   lag(l_discount) OVER w AS p_l_discount,
                   lag(l_tax) OVER w AS p_l_tax,
                   lag(month(l_shipdate)::BIGINT) OVER w AS p_ship_month
            FROM lineitem
            WINDOW w AS (PARTITION BY l_returnflag, l_linestatus
                         ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                  l_quantity, l_discount, l_tax)
        ), runs AS (
            SELECT count(*)::BIGINT AS n_rows,
                {", ".join(
                    f"sum(CASE WHEN p_{c} IS NULL OR {c} <> p_{c} "
                    f"THEN 1 ELSE 0 END)::BIGINT AS r_{c}"
                    for c in _RLE_COLS
                )}
            FROM ordered
        )
        SELECT v.col_name, runs.n_rows, v.n_runs,
               ((runs.n_rows * 1000000) // v.n_runs) AS rle_ratio_micros
        FROM runs, LATERAL (
            SELECT * FROM (VALUES
                {", ".join(f"('{c}', r_{c})" for c in _RLE_COLS)}
            ) t(col_name, n_runs)
        ) v
        ORDER BY v.col_name
    """,
    doc="""Run-length-encoding economics of the table sort order: under
    the (returnflag, linestatus) partition / (shipdate, orderkey,
    linenumber) order, each audited column reports its run count and
    rows-per-run ratio — the measurement that picks a table's
    sort/cluster keys (long runs → parquet RLE/dictionary pages shrink
    and min-max row-group pruning sharpens; the empirical companion to
    zorder_layout_audit's theoretical locality curves).  Determinism:
    (orderkey, linenumber) is NOT unique in this data, so the sort key
    extends with the audited value columns themselves — rows still
    tied are then identical in every audited column, making run counts
    order-invariant; a run starts where the lagged value is NULL
    (partition head) or differs.  Scale shape: one partitioned window (the
    partition keys are the proposed cluster keys, so the sort IS the
    layout being audited), all columns lagged in the same window pass,
    one 1-row aggregate, a 4-row stack — auditing another column adds
    one expression, not a scan.""",
)
def rle_compression_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).withColumn(
        "ship_month", F.month("l_shipdate").cast("long")
    )
    w = W.partitionBy("l_returnflag", "l_linestatus").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber",
        "l_quantity", "l_discount", "l_tax",
    )
    ordered = li.select(
        *_RLE_COLS,
        *[F.lag(c).over(w).alias(f"p_{c}") for c in _RLE_COLS],
    )
    runs = ordered.agg(
        F.count("*").alias("n_rows"),
        *[
            F.sum(
                F.when(
                    F.col(f"p_{c}").isNull() | (F.col(c) != F.col(f"p_{c}")),
                    1,
                ).otherwise(0)
            ).alias(f"r_{c}")
            for c in _RLE_COLS
        ],
    )
    stack_args = ", ".join(f"'{c}', r_{c}" for c in _RLE_COLS)
    rows = runs.select(
        F.expr(
            f"stack({len(_RLE_COLS)}, {stack_args}) AS (col_name, n_runs)"
        ),
        "n_rows",
    )
    return rows.select(
        "col_name",
        "n_rows",
        "n_runs",
        _idiv(F.col("n_rows") * F.lit(1_000_000), F.col("n_runs")).alias(
            "rle_ratio_micros"
        ),
    ).orderBy("col_name")


# --- Bloom filter sizing -----------------------------------------------------

_BLOOM_FPPS: tuple[tuple[str, float], ...] = (("1pct", 0.01), ("0_1pct", 0.001))


@register(
    "bloom_filter_sizing",
    oracle=f"""
        WITH u AS (
            SELECT 'o_custkey' AS col_name,
                   count(DISTINCT o_custkey)::BIGINT AS ndv FROM orders
            UNION ALL
            SELECT 'l_partkey', count(DISTINCT l_partkey)::BIGINT
            FROM lineitem
            UNION ALL
            SELECT 'l_suppkey', count(DISTINCT l_suppkey)::BIGINT
            FROM lineitem
        ), f AS (
            SELECT * FROM (VALUES
                {", ".join(f"('{lbl}', {p})" for lbl, p in _BLOOM_FPPS)}
            ) t(fpp_label, p)
        ), z AS (
            SELECT col_name, fpp_label, ndv,
                   ceil(-(ndv * ln(p)) / (ln(2) * ln(2)))::BIGINT AS m_bits
            FROM u CROSS JOIN f
        )
        SELECT col_name, fpp_label, ndv, m_bits,
               round((m_bits::DOUBLE / ndv) * ln(2))::BIGINT AS k_hashes,
               ((m_bits * 1000) // ndv) AS bits_per_key_milli,
               (m_bits // 8192) AS kib
        FROM z
        ORDER BY col_name, fpp_label
    """,
    doc="""Bloom-filter sizing sheet for the engine's join-key columns:
    from each column's EXACT distinct count, the optimal bit-array size
    m = ⌈−n·ln p / ln²2⌉ and hash count k = round(m/n·ln 2) at 1% and
    0.1% target false-positive rates, with bits-per-key and KiB — the
    capacity math behind bloom_runtime_filter_audit's runtime filters
    and any semi-join pushdown design.  Determinism: distinct counts
    are exact integers; the sizing formula is one fixed double
    expression per row (ln/ceil are correctly-rounded on these
    magnitudes).  Scale shape: three distinct-count aggregates (each
    one keyed shuffle with partial aggregation) + a 2-row constant
    frame — the audit is 6 rows at any data scale.""",
)
def bloom_filter_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    u = (
        orders.agg(F.countDistinct("o_custkey").alias("ndv")).select(
            F.lit("o_custkey").alias("col_name"), "ndv"
        )
        .unionAll(
            li.agg(F.countDistinct("l_partkey").alias("ndv")).select(
                F.lit("l_partkey").alias("col_name"), "ndv"
            )
        )
        .unionAll(
            li.agg(F.countDistinct("l_suppkey").alias("ndv")).select(
                F.lit("l_suppkey").alias("col_name"), "ndv"
            )
        )
    )
    f = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(lbl).alias("fpp_label"), F.lit(p).alias("p")
                )
                for lbl, p in _BLOOM_FPPS
            ]
        )
    )
    z = u.select("col_name", "ndv", f.alias("f")).select(
        "col_name",
        F.col("f.fpp_label").alias("fpp_label"),
        "ndv",
        F.ceil(
            -(F.col("ndv") * F.log(F.col("f.p")))
            / (F.log(F.lit(2.0)) * F.log(F.lit(2.0)))
        ).alias("m_bits"),
    )
    return z.select(
        "col_name",
        "fpp_label",
        "ndv",
        "m_bits",
        F.round((F.col("m_bits").cast("double") / F.col("ndv")) * F.log(F.lit(2.0)))
        .cast("long")
        .alias("k_hashes"),
        _idiv(F.col("m_bits") * 1000, F.col("ndv")).alias("bits_per_key_milli"),
        _idiv(F.col("m_bits"), F.lit(8192)).alias("kib"),
    ).orderBy("col_name", "fpp_label")


# --- compaction coalescing ---------------------------------------------------

_COMPACT_SHARDS = 64
_COMPACT_GROUPS = 8


@register(
    "compaction_coalesce_plan",
    oracle=f"""
        WITH sizes AS (
            SELECT ({duckdb_hash32_sql("'shard:' || doc_id")})
                       % {_COMPACT_SHARDS} AS shard,
                   (sum(n_chars))::BIGINT AS bytes
            FROM documents
            GROUP BY 1
        ), tot AS (
            SELECT greatest((sum(bytes) + {_COMPACT_GROUPS - 1})
                            // {_COMPACT_GROUPS}, 1)::BIGINT AS target
            FROM sizes
        ), cum AS (
            SELECT a.shard, any_value(a.bytes) AS bytes,
                   coalesce(sum(b.bytes), 0)::BIGINT AS cum_before
            FROM sizes a LEFT JOIN sizes b ON b.shard < a.shard
            GROUP BY a.shard
        ), assigned AS (
            SELECT shard, bytes, (cum_before // tot.target) AS group_id,
                   tot.target AS target
            FROM cum, tot
        )
        SELECT group_id, count(*)::BIGINT AS n_shards,
               (sum(bytes))::BIGINT AS group_bytes,
               min(shard)::BIGINT AS first_shard,
               max(shard)::BIGINT AS last_shard,
               ((sum(bytes) * 1000000) // any_value(target))::BIGINT
                   AS fill_micros
        FROM assigned GROUP BY group_id
        ORDER BY group_id
    """,
    doc=f"""Small-files compaction plan, the AQE-coalescing algorithm as
    an auditable table: {_COMPACT_SHARDS} hash shards roll up to byte
    sizes, and CONTIGUOUS shards merge by cumulative byte offset into
    ~{_COMPACT_GROUPS} target-sized groups (group = ⌊cum_bytes /
    target⌋ — exactly how Spark's AQE coalesces shuffle partitions and
    how a parquet compaction job plans rewrites).  Output: per merged
    group its shard span, byte total, and fill ratio vs target.
    Determinism: pure integer arithmetic.  Scale shape: one grouped
    byte rollup over the corpus (keyed shuffle), then ALL planning runs
    on the {_COMPACT_SHARDS}-row shard frame — the cumulative offset is
    a bounded non-equi self-join (declared) because the frame is fixed
    by configuration, not data size.""",
)
def compaction_coalesce_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    sizes = docs.groupBy(
        (
            portable_hash32(
                F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))
            )
            % _COMPACT_SHARDS
        ).alias("shard")
    ).agg(F.sum("n_chars").alias("bytes"))
    tot = sizes.agg(
        F.greatest(
            _idiv(F.sum("bytes") + (_COMPACT_GROUPS - 1), F.lit(_COMPACT_GROUPS)),
            F.lit(1),
        ).alias("target")
    )
    a, b = sizes.alias("a"), sizes.alias("b")
    cum = (
        a.join(b, F.col("b.shard") < F.col("a.shard"), "left")
        .groupBy(F.col("a.shard").alias("shard"))
        .agg(
            F.first("a.bytes").alias("bytes"),
            F.coalesce(F.sum("b.bytes"), F.lit(0)).alias("cum_before"),
        )
    )
    assigned = cum.crossJoin(F.broadcast(tot)).select(
        "shard",
        "bytes",
        _idiv(F.col("cum_before"), F.col("target")).alias("group_id"),
        "target",
    )
    return (
        assigned.groupBy("group_id")
        .agg(
            F.count("*").alias("n_shards"),
            F.sum("bytes").alias("group_bytes"),
            F.min("shard").alias("first_shard"),
            F.max("shard").alias("last_shard"),
            _idiv(F.sum("bytes") * 1_000_000, F.first("target")).alias(
                "fill_micros"
            ),
        )
        .orderBy("group_id")
    )


# --- equi-depth histogram ------------------------------------------------------

_HIST_BUCKETS = 32


@register(
    "equidepth_histogram_stats",
    oracle=f"""
        WITH x AS (
            SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
            FROM lineitem
        ), vals AS (
            SELECT v, count(*)::BIGINT AS c FROM x GROUP BY v
        ), cum AS (
            SELECT v,
                   (sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING))
                       ::BIGINT AS cum_end
            FROM vals
        ), nn AS (SELECT (sum(c))::BIGINT AS n FROM vals),
        ks AS (
            SELECT q::BIGINT AS decile,
                   ((q * nn.n + 9) // 10)::BIGINT AS k
            FROM (SELECT unnest(generate_series(1, 9)) AS q), nn
        )
        SELECT ks.decile, ks.k AS k_rank,
               min(cum.v)::BIGINT AS boundary_cents
        FROM ks JOIN cum ON cum.cum_end >= ks.k
        GROUP BY ks.decile, ks.k
        ORDER BY ks.decile
    """,
    doc=f"""Exact equi-depth histogram of the lineitem price column:
    the 9 decile boundaries (the value at exact rank ⌈q·n/10⌉) — the
    optimizer statistic selectivity estimation runs on, built without
    a global sort.  Determinism: ranks are pure integer arithmetic
    and each boundary is min(v : cumulative count ≥ k) over exact
    integer cumulative counts.  Scale shape — the engine story: the
    distinct-value frame gets cumulative counts HIERARCHICALLY
    ({_HIST_BUCKETS} range buckets from a 2-scalar probe, partitioned
    in-bucket running sums, a bounded {_HIST_BUCKETS}-row prefix
    join), then the 9-rank frame broadcasts against it (bounded 9×
    fan-out, declared) — no unpartitioned window, no global sort, at
    any scale.""",
)
def equidepth_histogram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    x = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v")
    )
    # Materialize the distinct-value frame once: the bound probe, the
    # in-bucket window, BOTH sides of the bucket-prefix join and the nn
    # total each re-derived it, so the lineitem scan + grouped count ran
    # 8× (before plan: 8 parquet scans).  One scan after; every
    # downstream frame reads the |distinct v|-row checkpoint.
    vals = x.groupBy("v").agg(F.count("*").alias("c")).localCheckpoint(eager=True)
    lo, hi = probe_min_max(
        vals, "v", query="equidepth_histogram_stats", sf_dir=sf_dir
    )
    width = max((hi - lo) / _HIST_BUCKETS, 1e-9)
    bucket = F.least(
        F.lit(_HIST_BUCKETS - 1),
        F.floor((F.col("v") - F.lit(float(lo))) / F.lit(width)),
    ).alias("bucket")
    vb = vals.select("v", "c", bucket)
    wnd = W.partitionBy("bucket").orderBy("v").rowsBetween(
        W.unboundedPreceding, 0
    )
    within = vb.select("v", "c", "bucket", F.sum("c").over(wnd).alias("cum_in"))
    btot = vb.groupBy("bucket").agg(F.sum("c").alias("bc"))
    a, b = btot.alias("a"), btot.alias("b")
    prefix = (
        a.join(F.broadcast(b), F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b.bc"), F.lit(0)).alias("pb"))
    )
    cum = within.join(F.broadcast(prefix), "bucket").select(
        "v", (F.col("pb") + F.col("cum_in")).alias("cum_end")
    )
    nn = vals.agg(F.sum("c").alias("n"))
    ks = (
        spark.range(1, 10)
        .select(F.col("id").alias("decile"))
        .crossJoin(F.broadcast(nn))
        .select(
            "decile",
            _idiv(F.col("decile") * F.col("n") + 9, F.lit(10)).alias("k"),
        )
    )
    return (
        cum.join(F.broadcast(ks), F.col("cum_end") >= F.col("k"))
        .groupBy("decile", F.col("k").alias("k_rank"))
        .agg(F.min("v").alias("boundary_cents"))
        .orderBy("decile")
    )


# --- feature hashing capacity ---------------------------------------------------

_HASH_DIMS: tuple[int, ...] = (1024, 4096, 16384)


@register(
    "feature_hashing_collision_audit",
    oracle=f"""
        WITH terms AS (
            SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ), h AS (
            SELECT {duckdb_hash32_sql("term")} AS hv FROM terms
        ), agg AS (
            SELECT count(*)::BIGINT AS n_terms,
                   {", ".join(f"count(DISTINCT hv % {d})::BIGINT AS occ_{d}" for d in _HASH_DIMS)}
            FROM h
        )
        SELECT t.dim, agg.n_terms, t.occupied,
               (agg.n_terms - t.occupied) AS n_collided,
               (((agg.n_terms - t.occupied) * 1000000) // agg.n_terms)
                   AS collision_rate_micros
        FROM agg, LATERAL (
            SELECT * FROM (VALUES
                {", ".join(f"({d}, occ_{d})" for d in _HASH_DIMS)}
            ) v(dim, occupied)
        ) t
        ORDER BY t.dim
    """,
    doc=f"""Hashing-trick capacity sweep: exact vocabulary collision
    rates when terms feature-hash into {_HASH_DIMS} buckets —
    collided terms = distinct terms − occupied buckets, the quantity
    that decides the hash width of a linear model / count-sketch
    featureizer before anything trains.  Determinism: the portable
    md5 hash family, exact distinct counts, floor-micros rates.
    Scale shape: ONE vocabulary pass computes every width's occupancy
    as parallel count-distinct aggregates (partial aggregation keeps
    the shuffle at |dims|·|buckets| partials), then a {len(_HASH_DIMS)}-row
    stack — adding a width adds one aggregate expression, not a
    scan.""",
)
def feature_hashing_collision_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    terms = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).distinct()
    h = terms.select(portable_hash32("term").alias("hv"))
    agg = h.agg(
        F.count("*").alias("n_terms"),
        *[
            F.countDistinct(F.col("hv") % d).alias(f"occ_{d}")
            for d in _HASH_DIMS
        ],
    )
    stacked = agg.select(
        "n_terms",
        F.expr(
            "stack({n}, {args}) AS (dim, occupied)".format(
                n=len(_HASH_DIMS),
                args=", ".join(
                    f"{d}L, occ_{d}" for d in _HASH_DIMS
                ),
            )
        ),
    )
    return stacked.select(
        "dim",
        "n_terms",
        "occupied",
        (F.col("n_terms") - F.col("occupied")).alias("n_collided"),
        _idiv(
            (F.col("n_terms") - F.col("occupied")) * 1_000_000,
            F.col("n_terms"),
        ).alias("collision_rate_micros"),
    ).orderBy("dim")


# --- selectivity audit -------------------------------------------------------------

_SEL_BANDS = 10
# Range predicates on l_extendedprice (dollars): [lo, hi) half-open.
_SEL_PREDICATES: tuple[tuple[str, int, int], ...] = (
    ("low_tail", 0, 10_000),
    ("mid_band", 30_000, 60_000),
    ("high_tail", 90_000, 2_000_000),
)


def _sel_oracle() -> str:
    pred_rows = ", ".join(
        f"('{lbl}', {lo}, {hi})" for lbl, lo, hi in _SEL_PREDICATES
    )
    return f"""
        WITH x AS (
            SELECT CAST(round(l_extendedprice) AS BIGINT) AS v FROM lineitem
        ), mm AS (
            SELECT min(v)::BIGINT AS lo,
                   greatest((max(v) - min(v))::DOUBLE / {_SEL_BANDS}, 1e-9)
                       AS w
            FROM x
        ), bands AS (
            SELECT least({_SEL_BANDS - 1},
                         floor((x.v - mm.lo) / mm.w))::BIGINT AS band,
                   count(*)::BIGINT AS n
            FROM x, mm GROUP BY 1
        ), preds AS (
            SELECT * FROM (VALUES {pred_rows}) t(pred, plo, phi)
        ), contrib AS (
            SELECT p.pred, any_value(p.plo) AS plo, any_value(p.phi) AS phi,
                   (sum(round(1000000 * b.n * greatest(0.0, least(
                        (least(p.phi::DOUBLE, mm.lo + (b.band + 1) * mm.w)
                         - greatest(p.plo::DOUBLE, mm.lo + b.band * mm.w))
                        / mm.w, 1.0)))))::BIGINT AS est_micro_rows
            FROM preds p CROSS JOIN bands b CROSS JOIN mm
            GROUP BY p.pred
        ), actual AS (
            SELECT p.pred,
                   (sum(CASE WHEN x.v >= p.plo AND x.v < p.phi
                        THEN 1 ELSE 0 END))::BIGINT AS actual_rows
            FROM preds p CROSS JOIN x GROUP BY p.pred
        )
        SELECT c.pred, c.plo AS lo_dollars, c.phi AS hi_dollars,
               (c.est_micro_rows // 1000000) AS est_rows,
               a.actual_rows,
               CASE WHEN a.actual_rows > 0 THEN
                   (abs(c.est_micro_rows - a.actual_rows * 1000000)
                    // a.actual_rows)
               END AS rel_err_micros
        FROM contrib c JOIN actual a ON c.pred = a.pred
        ORDER BY c.pred
    """


@register(
    "selectivity_estimate_audit",
    oracle=_sel_oracle(),
    doc=f"""The optimizer-statistics loop, closed: a {_SEL_BANDS}-band
    equi-width histogram of line price is built, three range
    predicates are estimated by band interpolation (uniform-within-
    band — exactly the textbook cost-based-optimizer selectivity
    model), and each estimate meets the TRUE count with its relative
    error — the audit that decides whether the statistic is
    trustworthy for join planning, and the companion that gives
    equidepth_histogram_stats its purpose.  Determinism: band edges
    derive from exact integer min/max; each band's interpolated
    contribution rounds to integer MICRO-ROWS before the cross-band
    sum (no double accumulation); actuals are exact counts.  Scale
    shape: one banded count over the fact table, one predicate-tally
    pass (both single scans with bounded fan-out, declared), then
    {_SEL_BANDS}·|preds| bounded arithmetic.""",
)
def selectivity_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    x = li.select(F.round("l_extendedprice").cast("long").alias("v"))
    mm = x.agg(
        F.min("v").alias("lo"),
        F.greatest(
            (F.max("v") - F.min("v")).cast("double") / _SEL_BANDS, F.lit(1e-9)
        ).alias("w"),
    )
    # ONE banded tally pass carries the histogram counts, the (lo, w)
    # scalars AND the per-predicate exact counts (round-10, session 3):
    # the old shape scanned the fact column three times (min/max probe
    # duplicated under both consumers, banded counts, per-predicate
    # actuals).  The per-band conditional sums add up to the exact
    # per-predicate counts (Σ_band Σ_rows-in-band [pred] = Σ_rows
    # [pred], exact integers), and the pinned ≤_SEL_BANDS-row tally
    # feeds both the estimator and the actuals — 2 scans total, then
    # bounded arithmetic.
    bands = (
        x.crossJoin(F.broadcast(mm))
        .groupBy(
            F.least(
                F.lit(_SEL_BANDS - 1),
                F.floor((F.col("v") - F.col("lo")) / F.col("w")),
            )
            .cast("long")
            .alias("band")
        )
        .agg(
            F.count("*").alias("n"),
            F.first("lo").alias("lo"),
            F.first("w").alias("w"),
            *[
                F.sum(
                    F.when(
                        (F.col("v") >= F.lit(plo)) & (F.col("v") < F.lit(phi)),
                        1,
                    ).otherwise(0)
                ).alias(f"_a{i}")
                for i, (_, plo, phi) in enumerate(_SEL_PREDICATES)
            ],
        )
        .localCheckpoint(eager=True)
    )
    preds = spark.createDataFrame(
        list(_SEL_PREDICATES), "pred string, plo long, phi long"
    )
    band_lo = F.col("lo") + F.col("band") * F.col("w")
    band_hi = F.col("lo") + (F.col("band") + 1) * F.col("w")
    frac = F.greatest(
        F.lit(0.0),
        F.least(
            (
                F.least(F.col("phi").cast("double"), band_hi)
                - F.greatest(F.col("plo").cast("double"), band_lo)
            )
            / F.col("w"),
            F.lit(1.0),
        ),
    )
    contrib = (
        F.broadcast(preds)
        .crossJoin(bands)
        .groupBy("pred")
        .agg(
            F.first("plo").alias("plo"),
            F.first("phi").alias("phi"),
            F.sum(F.round(1_000_000 * F.col("n") * frac).cast("long")).alias(
                "est_micro_rows"
            ),
        )
    )
    actual = bands.agg(
        *[
            F.sum(F.col(f"_a{i}")).cast("long").alias(f"_a{i}")
            for i in range(len(_SEL_PREDICATES))
        ]
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lbl).alias("pred"),
                        F.col(f"_a{i}").alias("actual_rows"),
                    )
                    for i, (lbl, _, _) in enumerate(_SEL_PREDICATES)
                ]
            )
        ).alias("s")
    ).select("s.*")
    return (
        contrib.join(actual, "pred")
        .select(
            "pred",
            F.col("plo").alias("lo_dollars"),
            F.col("phi").alias("hi_dollars"),
            _idiv(F.col("est_micro_rows"), F.lit(1_000_000)).alias("est_rows"),
            "actual_rows",
            F.when(
                F.col("actual_rows") > 0,
                _idiv(
                    F.abs(
                        F.col("est_micro_rows")
                        - F.col("actual_rows") * 1_000_000
                    ),
                    F.col("actual_rows"),
                ),
            ).alias("rel_err_micros"),
        )
        .orderBy("pred")
    )


_DICT_COLS: tuple[str, ...] = (
    "l_quantity",
    "l_discount",
    "l_returnflag",
    "l_linestatus",
)


@register(
    "dictionary_encoding_audit",
    oracle=f"""
        WITH pairs AS (
            {" UNION ALL ".join(
                f"SELECT '{c}' AS col_name, {c}::VARCHAR AS val FROM lineitem"
                for c in _DICT_COLS
            )}
        ), freq AS (
            SELECT col_name, val, count(*)::BIGINT AS c
            FROM pairs GROUP BY col_name, val
        ), tot AS (
            SELECT col_name, (sum(c))::BIGINT AS n FROM freq
            GROUP BY col_name
        ), ent AS (
            SELECT f.col_name, any_value(t.n) AS n,
                   count(*)::BIGINT AS ndv,
                   (sum(round(1000000 * (f.c::DOUBLE / t.n)
                              * log2(t.n::DOUBLE / f.c))))::BIGINT
                       AS entropy_micro_bits
            FROM freq f JOIN tot t ON f.col_name = t.col_name
            GROUP BY f.col_name
        )
        SELECT col_name, n AS n_values, ndv,
               entropy_micro_bits,
               greatest(ceil(log2(ndv::DOUBLE))::BIGINT, 1) AS dict_bits,
               ((entropy_micro_bits)
                // greatest(ceil(log2(ndv::DOUBLE))::BIGINT, 1))
                   AS entropy_vs_dict_micros
        FROM ent
        ORDER BY col_name
    """,
    doc=f"""Dictionary/entropy-coding economics for {len(_DICT_COLS)}
    lineitem columns: exact ndv, the Shannon entropy of the value
    distribution in micro-bits (the floor for ANY entropy coder — what
    parquet's RLE_DICTIONARY + page compression approaches), the plain
    dictionary width ⌈log₂ ndv⌉, and entropy/dict-width (≪1e6 means a
    skewed distribution where entropy coding beats fixed-width
    dictionary codes).  The distribution-side companion to
    rle_compression_audit's sort-order view; the two together pick
    per-column parquet encodings.  Determinism: one stacked scan,
    exact counts, per-VALUE micro-bit quantization of the entropy term
    before the per-column sum, integer dictionary widths.  Scale
    shape: one (column, value)-keyed grouped count with map-side
    partial aggregation (the stack multiplies rows by
    |audited columns|, bounded by configuration), then |columns|-row
    arithmetic.""",
)
def dictionary_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    stack_args = ", ".join(
        f"'{c}', cast(`{c}` as string)" for c in _DICT_COLS
    )
    pairs = li.select(
        F.expr(f"stack({len(_DICT_COLS)}, {stack_args}) AS (col_name, val)")
    )
    freq = pairs.groupBy("col_name", "val").agg(F.count("*").alias("c"))
    tot = freq.groupBy("col_name").agg(F.sum("c").alias("n"))
    ent = (
        freq.join(F.broadcast(tot), "col_name")
        .groupBy("col_name")
        .agg(
            F.first("n").alias("n"),
            F.count("*").alias("ndv"),
            F.sum(
                F.round(
                    1_000_000
                    * (F.col("c").cast("double") / F.col("n"))
                    * F.log2(F.col("n").cast("double") / F.col("c"))
                ).cast("long")
            ).alias("entropy_micro_bits"),
        )
    )
    dict_bits = F.greatest(
        F.ceil(F.log2(F.col("ndv").cast("double"))).cast("long"), F.lit(1)
    )
    return ent.select(
        "col_name",
        F.col("n").alias("n_values"),
        "ndv",
        "entropy_micro_bits",
        dict_bits.alias("dict_bits"),
        _idiv(F.col("entropy_micro_bits"), dict_bits).alias(
            "entropy_vs_dict_micros"
        ),
    ).orderBy("col_name")
