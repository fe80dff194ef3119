"""Statistics and evaluation queries.

Percentiles, histograms, correlation and robust statistics; hypothesis
tests (Welch, ANOVA, Kruskal–Wallis, chi-squared, KS, Benjamini–
Hochberg); resampling (jackknife, Poisson bootstrap, CUPED);
calibration and screening (isotonic, conformal, decision stump);
agreement and information measures; survival (Kaplan–Meier); and the
ranking evaluations of the quality score (AUC, precision@k, gains,
nDCG, MRR) and of offline policies (bandit replay).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import duckdb_hash32_sql, portable_hash32
from ..operators.relational import bucketed_prefix_sums
from ..sources.loaders import ensure_parallelism, load_table
from .common import _STOPLIST_SQL, _idiv
from .probes import probe_min_max
from .registry import register


HIST_BUCKETS = 10
HIST_LO, HIST_HI = 0.0, 500_000.0


@register(
    "histogram_order_totals",
    oracle=f"""
        SELECT least(floor((o_totalprice - {HIST_LO}) * {HIST_BUCKETS}
                           / ({HIST_HI} - {HIST_LO})), {HIST_BUCKETS - 1})::BIGINT
                   AS bucket,
               count(*) AS n_orders,
               round(min(o_totalprice), 4) AS lo,
               round(max(o_totalprice), 4) AS hi
        FROM orders
        GROUP BY 1
    """,
    doc="""Equi-width histogram via an explicit bucket formula (identical
    IEEE arithmetic in both engines) — the profiling primitive behind
    range-partition planning and skew detection.  One grouped aggregate;
    the bucket expression is codegen'd into the scan stage.""",
)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    bucket = F.least(
        F.floor(
            (F.col("o_totalprice") - HIST_LO) * HIST_BUCKETS / (HIST_HI - HIST_LO)
        ),
        F.lit(HIST_BUCKETS - 1),
    ).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
    )


@register(
    "grouped_percentiles",
    oracle="""
        SELECT o_orderpriority,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
               round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        FROM orders GROUP BY o_orderpriority
    """,
    doc="""Exact grouped percentiles (linear interpolation — Spark
    ``percentile`` and DuckDB ``quantile_cont`` agree bit-for-bit at
    round-4).  Exact percentiles require the full sorted group; the
    scale path swaps in approx_percentile (t-digest) per the
    approx_distinct pattern when groups stop fitting.""",
)
def grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


@register(
    "grouped_percentiles_approx",
    oracle="""
        SELECT o_orderpriority,
               round(quantile_cont(o_totalprice, 0.5), 4) AS exact_p50,
               round(quantile_cont(o_totalprice, 0.95), 4) AS exact_p95,
               TRUE AS approx_within_2pct
        FROM orders GROUP BY o_orderpriority
    """,
    doc="""Approximate grouped percentiles (GK sketch via
    ``percentile_approx``) under the same hash-checkable bounded-error
    contract as ``approx_distinct``: the sketch estimate is
    DETERMINISTIC for a fixed input, and the checked claim is that it
    lands within 2% (relative) of the exact percentile the oracle
    carries.  The sketch is mergeable — partial aggregation map-side,
    O(accuracy) state per group instead of the full sorted group the
    exact form needs, which is why it is the 100 TB default.""",
)
def grouped_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    agg = o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("exact_p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("exact_p95"),
        F.expr("percentile_approx(o_totalprice, 0.5, 10000)").alias("a50"),
        F.expr("percentile_approx(o_totalprice, 0.95, 10000)").alias("a95"),
    )
    within = (
        (F.abs(F.col("a50") - F.col("exact_p50")) <= 0.02 * F.abs(F.col("exact_p50")))
        & (F.abs(F.col("a95") - F.col("exact_p95")) <= 0.02 * F.abs(F.col("exact_p95")))
    )
    return agg.select(
        "o_orderpriority",
        "exact_p50",
        "exact_p95",
        within.alias("approx_within_2pct"),
    )


@register(
    "stats_correlation",
    oracle="""
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
               round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
               round(regr_slope(l_extendedprice, l_quantity), 4) AS price_per_unit_slope,
               round(stddev_samp(l_extendedprice), 4) AS price_stddev
        FROM lineitem GROUP BY l_returnflag
    """,
    doc="""Statistical aggregate surface: Pearson correlation, sample
    covariance, regression slope, and sample stddev per group — all
    single-pass partial-aggregable moments (sum, sum², sum·xy), so the
    shuffle carries a handful of doubles per group regardless of input
    size; both engines' two-pass-free formulas agree at round-4/6.""",
)
def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias(
            "price_per_unit_slope"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
    )


@register(
    "quantiles_exact",
    oracle="""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events GROUP BY event_type
    """,
    doc="""Exact continuous-interpolation quantiles (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``).  The approximate twin
    (percentile_approx / HLL-style sketch) is engine-specific and
    covered rows-only by approx_distinct.""",
)
def quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@register(
    "winsorize_order_stats",
    oracle="""
        WITH q AS (
            SELECT o_orderpriority,
                   quantile_cont(o_totalprice, 0.05) AS p05,
                   quantile_cont(o_totalprice, 0.95) AS p95
            FROM orders GROUP BY o_orderpriority
        )
        SELECT o.o_orderpriority,
               count(*)::BIGINT AS n_orders,
               round(q.p05, 4) AS p05,
               round(q.p95, 4) AS p95,
               round(avg(least(greatest(o.o_totalprice, q.p05), q.p95)), 4)
                   AS winsorized_mean,
               round(avg(o.o_totalprice), 4) AS raw_mean
        FROM orders o JOIN q USING (o_orderpriority)
        GROUP BY o.o_orderpriority, q.p05, q.p95
    """,
    doc="""Winsorized robust statistics per order priority: clip each
    price to its group's exact [P05, P95] band, then average — the
    outlier-robust mean every metrics pipeline reports next to the raw
    one.  Two passes over the keyed data: an exact-quantile grouped
    aggregate (|groups| rows) that BROADCAST-joins back onto the scan,
    then one grouped average — no window, no sort of the fact table.
    Spark ``percentile`` ≡ DuckDB ``quantile_cont`` at round-4 (the
    quantiles_exact contract).""",
)
def winsorize_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderpriority", "o_totalprice"
    )
    q = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("p05"),
        F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
    )
    clipped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95")
    )
    return (
        o.join(F.broadcast(q), "o_orderpriority")
        .groupBy("o_orderpriority", "p05", "p95")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg(clipped), 4).alias("winsorized_mean"),
            F.round(F.avg("o_totalprice"), 4).alias("raw_mean"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.round("p05", 4).alias("p05"),
            F.round("p95", 4).alias("p95"),
            "winsorized_mean",
            "raw_mean",
        )
    )


@register(
    "benford_digit_audit",
    oracle="""
        WITH d AS (
            SELECT CAST(floor(o_totalprice
                        / pow(10, floor(log10(o_totalprice)))) AS INT)
                   AS digit
            FROM orders WHERE o_totalprice > 0
        ), c AS (
            SELECT digit, count(*)::BIGINT AS n_obs FROM d GROUP BY digit
        ), t AS (SELECT sum(n_obs) AS n FROM c)
        SELECT digit, n_obs,
               round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS expected_share,
               round(n_obs / t.n, 6) AS observed_share,
               round(pow(n_obs - (ln(1.0 + 1.0 / digit) / ln(10.0)) * t.n, 2)
                     / ((ln(1.0 + 1.0 / digit) / ln(10.0)) * t.n), 6)
                   AS chi2_term
        FROM c CROSS JOIN t
    """,
    doc="""Benford first-digit audit (the classic fabricated-data /
    pipeline-corruption screen used by auditors and DQ monitors): the
    leading digit of every order total vs the Benford expectation
    log10(1 + 1/d), with per-digit chi-square contributions — sum the
    terms and compare to the chi-square(8) critical value for the
    headline verdict.  Scale shape: the digit is one pure-column
    expression (no string formatting — floor/log10 arithmetic), then a
    9-group count and a scalar-broadcast total; the same 100 TB cost
    as any grouped count.  Log/pow follow domain_shift_kl's round-6
    contract.""",
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice") / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n_obs")
    )
    t = c.agg(F.sum("n_obs").alias("n"))
    exp_share = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n_obs",
        F.round(exp_share, 6).alias("expected_share"),
        F.round(F.col("n_obs") / F.col("n"), 6).alias("observed_share"),
        F.round(
            F.pow(F.col("n_obs") - exp_share * F.col("n"), 2)
            / (exp_share * F.col("n")),
            6,
        ).alias("chi2_term"),
    )


@register(
    "revenue_concentration_gini",
    oracle="""
        WITH r AS (
            SELECT o_custkey, sum(o_totalprice) AS rev
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i
            FROM r
        ), s AS (
            SELECT count(*)::BIGINT AS n, sum(rev) AS total,
                   sum(i * rev) AS weighted
            FROM ranked
        )
        SELECT n AS n_customers,
               round(total, 2) AS total_revenue,
               round((2.0 * weighted) / (n * total) - (n + 1.0) / n, 6)
                   AS gini
        FROM s
    """,
    doc="""Revenue-concentration Gini coefficient (the how-dependent-
    are-we-on-few-customers audit; same statistic as dataset token-
    share concentration across sources): G = 2·Σ(i·x_i)/(n·Σx) −
    (n+1)/n over revenues sorted ascending.  The global rank i comes
    from hierarchical_row_number — range-bucketed per-bucket windows
    plus a bounded scalar offset collect — so NO unpartitioned window
    exists anywhere in the plan while the rank is exactly the global
    sort's (the rfm_customer_segments machinery, reused).  One grouped
    aggregate + the rank + one scalar reduction.""",
)
def revenue_concentration_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import hierarchical_row_number

    r = (
        load_table(spark, "orders", sf_dir)
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    ranked = hierarchical_row_number(
        r, F.col("rev"), tiebreak="o_custkey", out="i"
    )
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("rev").alias("total"),
        F.sum(F.col("i") * F.col("rev")).alias("weighted"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.round("total", 2).alias("total_revenue"),
        F.round(
            (F.lit(2.0) * F.col("weighted")) / (F.col("n") * F.col("total"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


# Cutoff for the ranking-evaluation query.
PREC_AT_K = 100


@register(
    "quality_precision_at_k",
    oracle=f"""
        WITH scored AS (
            SELECT d.lang,
                   round(0.4 * least(len(string_split(d.text, ' ')) / 100.0,
                                     1.0)
                         + 0.3 * (len(list_filter(string_split(d.text, ' '),
                                      t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                                  / len(string_split(d.text, ' ')))
                         + 0.3 * (1 - length(regexp_replace(lower(d.text),
                                      '[a-z0-9 ]', '', 'g'))::DOUBLE
                                      / length(d.text)), 6) AS quality,
                   d.doc_id
            FROM documents d
        ), top AS (
            SELECT lang FROM scored
            ORDER BY quality DESC, doc_id ASC LIMIT {PREC_AT_K}
        )
        SELECT {PREC_AT_K}::BIGINT AS k,
               count(*)::BIGINT AS n_retrieved,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
                   AS n_positive,
               round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE
                     / count(*), 6) AS precision_at_k
        FROM top
    """,
    doc=f"""Precision@{PREC_AT_K} of the quality ranking against the
    'en' label — the ranking-evaluation companion to lang_id_confusion
    (that measures a CLASSIFIER cell-by-cell; this measures whether a
    SCORE orders the corpus usefully, the question a selection
    threshold actually asks).  The top-{PREC_AT_K} cut is a global
    (quality DESC, doc_id) order + limit — Spark plans it as
    TakeOrderedAndProject (per-partition top-k, then a {PREC_AT_K}-row
    merge on one reducer; the bm25_topk scale path, never a full
    sort) — followed by one scalar aggregate.""",
)
def quality_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_expr

    docs = load_table(spark, "documents", sf_dir)
    # One projection instead of scan + scan + 1:1 self-join on doc_id
    # (round-10, session 3 — the quality_auc_en pattern).
    scored = docs.select(
        "doc_id", quality_expr("text").alias("quality"), "lang"
    )
    top = scored.orderBy(F.desc("quality"), F.asc("doc_id")).limit(PREC_AT_K)
    pos = F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
    return top.agg(
        F.lit(PREC_AT_K).cast("long").alias("k"),
        F.count("*").cast("long").alias("n_retrieved"),
        pos.cast("long").alias("n_positive"),
        F.round(pos.cast("double") / F.count("*"), 6).alias(
            "precision_at_k"
        ),
    )


# Range-bucket fan-out for the hierarchical rank-sum (quality scores
# live in [0, 1]; 32 equi-width buckets keep every window partitioned).
AUC_BUCKETS = 32


@register(
    "quality_auc_en",
    oracle=f"""
        WITH scored AS (
            SELECT round(0.4 * least(len(string_split(text, ' ')) / 100.0,
                                     1.0)
                         + 0.3 * (len(list_filter(string_split(text, ' '),
                                      t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                                  / len(string_split(text, ' ')))
                         + 0.3 * (1 - length(regexp_replace(lower(text),
                                      '[a-z0-9 ]', '', 'g'))::DOUBLE
                                      / length(text)), 6) AS quality,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
            FROM documents
        ), g AS (
            SELECT quality, count(*)::BIGINT AS n,
                   sum(pos)::BIGINT AS n_pos
            FROM scored GROUP BY quality
        ), ranked AS (
            SELECT quality, n, n_pos,
                   coalesce(sum(n) OVER (ORDER BY quality
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cum_less
            FROM g
        ), tot AS (
            SELECT sum(n_pos) AS np, sum(n) - sum(n_pos) AS nn FROM g
        )
        SELECT tot.np::BIGINT AS n_positive,
               tot.nn::BIGINT AS n_negative,
               round((sum(ranked.n_pos * (ranked.cum_less
                                          + (ranked.n + 1) / 2.0))
                      - tot.np * (tot.np + 1) / 2.0)
                     / (tot.np * tot.nn), 6) AS auc
        FROM ranked CROSS JOIN tot
        GROUP BY tot.np, tot.nn
    """,
    doc=f"""Tie-corrected AUC (Mann-Whitney rank-sum with midranks) of
    the quality score against the 'en' label — the threshold-free
    ranking metric completing the evaluation family
    (lang_id_confusion = classifier cells, quality_precision_at_k =
    one cutoff, this = every cutoff at once).  The rank-sum needs a
    GLOBAL cumulative count over score order — computed hierarchically
    (the skyline/pack pattern): scores collapse to distinct-value
    groups first (bounded at ≤1e6+1 rows by the round-6 grid, no
    matter the corpus size), groups range-bucket by value into
    {AUC_BUCKETS} equi-width buckets, the within-bucket exclusive
    prefix runs in a bucket-PARTITIONED window, and only
    {AUC_BUCKETS} per-bucket totals collect to become broadcast
    offsets — never an unpartitioned window, never a data collect.
    Midranks are half-integers and counts are ints, so every sum is
    exact in double: no accumulation-order hazard anywhere.""",
)
def quality_auc_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.text import quality_expr

    docs = load_table(spark, "documents", sf_dir)
    # ONE projection carries quality AND the label (round-10, session
    # 3): the old shape scanned documents twice and equi-joined the two
    # halves back together on doc_id — a 1:1 self-join whose only
    # purpose was re-attaching `lang` to the score.
    scored = docs.select(quality_expr("text").alias("quality"), "lang")
    g = scored.groupBy("quality").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
    )
    bucket = F.least(
        F.floor(F.col("quality") * AUC_BUCKETS).cast("long"),
        F.lit(AUC_BUCKETS - 1),
    )
    # Pin the bounded distinct-score frame (≤ 1e6+1 rows by the
    # round-6 grid): the bucket-offset collect, the ranked window and
    # the totals row all hang off it, and without the cut each one
    # re-derived the full text-scoring scan — 4 effective corpus scans
    # in the before plan (the change-8 waist pattern).  Lazy: the
    # offset collect right below is the job that materializes it.
    g = g.withColumn("_b", bucket).localCheckpoint(eager=False)
    per_bucket = {
        int(r["_b"]): int(r["s"])
        for r in g.groupBy("_b").agg(F.sum("n").alias("s")).collect()
    }
    running, offsets = 0, []
    for b in sorted(per_bucket):
        offsets.append((b, running))
        running += per_bucket[b]
    off = spark.createDataFrame(offsets, "_b long, _off long")
    w = (
        W.partitionBy("_b")
        .orderBy("quality")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = (
        g.join(F.broadcast(off), "_b")
        .withColumn(
            "cum_less",
            F.coalesce(F.sum("n").over(w), F.lit(0)) + F.col("_off"),
        )
    )
    tot = g.agg(
        F.sum("n_pos").cast("long").alias("np"),
        (F.sum("n") - F.sum("n_pos")).cast("long").alias("nn"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("np", "nn")
        .agg(
            F.round(
                (
                    F.sum(
                        F.col("n_pos")
                        * (F.col("cum_less") + (F.col("n") + 1) / 2.0)
                    )
                    - F.col("np") * (F.col("np") + 1) / 2.0
                )
                / (F.col("np") * F.col("nn")),
                6,
            ).alias("auc")
        )
        .select(
            F.col("np").alias("n_positive"),
            F.col("nn").alias("n_negative"),
            "auc",
        )
    )


# Equi-width score bands for the gains curve (quality lives in [0,1]).
GAINS_BANDS = 32

# Jackknife block count: enough blocks for a stable variance estimate,
# few enough that the combine stays a broadcast-size frame.
JK_BLOCKS = 32


@register(
    "chi2_lang_source_independence",
    oracle="""
        WITH cell AS (
            SELECT lang, source, count(*)::BIGINT AS o
            FROM documents GROUP BY lang, source
        ), rm AS (
            SELECT lang, sum(o)::BIGINT AS rt FROM cell GROUP BY lang
        ), cm AS (
            SELECT source, sum(o)::BIGINT AS ct FROM cell GROUP BY source
        ), tot AS (
            SELECT sum(o)::BIGINT AS n,
                   (SELECT count(*) FROM rm)::BIGINT AS r,
                   (SELECT count(*) FROM cm)::BIGINT AS c
            FROM cell
        ), terms AS (
            SELECT round(cell.o::DOUBLE * cell.o * tot.n
                         / (rm.rt::DOUBLE * cm.ct) * 1000000)::BIGINT
                       AS term_micros
            FROM cell
            JOIN rm USING (lang) JOIN cm USING (source) CROSS JOIN tot
        )
        SELECT tot.n AS n_docs, tot.r AS n_langs, tot.c AS n_sources,
               ((tot.r - 1) * (tot.c - 1))::BIGINT AS dof,
               round((sum(terms.term_micros) - tot.n * 1000000)
                     / 1000000.0, 6) AS chi2,
               round(sqrt((sum(terms.term_micros) - tot.n * 1000000)
                          / 1000000.0
                          / (tot.n * least(tot.r - 1, tot.c - 1))), 6)
                   AS cramers_v
        FROM terms CROSS JOIN tot
        GROUP BY tot.n, tot.r, tot.c
    """,
    doc="""Chi-squared test of independence between document language
    and source, with Cramér's V effect size — the audit that decides
    whether per-source language budgets can be tuned independently
    (independence holds) or the mixture must be planned jointly (a few
    sources carry all of one language).  Uses the identity
    chi2 = sum(o^2/e) - n over OBSERVED cells only (zero-observed
    cells contribute 0 to o^2/e), so no dense r x c expansion is ever
    materialized.  Scale shape: one (lang, source) aggregate — the
    cell table is bounded by |langs| x |sources| regardless of corpus
    size — then broadcast marginal joins and one scalar combine; the
    per-cell terms quantize to micros before the sum, so the result
    is accumulation-order-proof.  At 100 TB the only full-scan cost is
    the first groupBy; counts ride in doubles inside the term (o^2 * n
    would overflow int64 at petabyte row counts).""",
)
def chi2_lang_source_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    cell = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("o")
    )
    rm = cell.groupBy("lang").agg(F.sum("o").cast("long").alias("rt"))
    cm = cell.groupBy("source").agg(F.sum("o").cast("long").alias("ct"))
    tot = cell.agg(
        F.sum("o").cast("long").alias("n"),
        F.count_distinct("lang").cast("long").alias("r"),
        F.count_distinct("source").cast("long").alias("c"),
    )
    term = F.round(
        F.col("o").cast("double")
        * F.col("o")
        * F.col("n")
        / (F.col("rt").cast("double") * F.col("ct"))
        * 1_000_000
    ).cast("long")
    chi2_raw = (F.sum("term_micros") - F.col("n") * 1_000_000) / 1_000_000.0
    return (
        cell.join(F.broadcast(rm), "lang")
        .join(F.broadcast(cm), "source")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("term_micros"), "n", "r", "c")
        .groupBy("n", "r", "c")
        .agg(
            F.round(chi2_raw, 6).alias("chi2"),
            F.round(
                F.sqrt(
                    chi2_raw / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
        .select(
            F.col("n").alias("n_docs"),
            F.col("r").alias("n_langs"),
            F.col("c").alias("n_sources"),
            ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
            "chi2",
            "cramers_v",
        )
    )


@register(
    "quality_gains_by_band",
    oracle=f"""
        WITH scored AS (
            SELECT least(floor(round(
                       0.4 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                       + 0.3 * (len(list_filter(string_split(text, ' '),
                                    t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                                / len(string_split(text, ' ')))
                       + 0.3 * (1 - length(regexp_replace(lower(text),
                                    '[a-z0-9 ]', '', 'g'))::DOUBLE
                                    / length(text)), 6)
                       * {GAINS_BANDS})::BIGINT, {GAINS_BANDS - 1}) AS band,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
            FROM documents
        ), band_agg AS (
            SELECT band, count(*)::BIGINT AS n, sum(pos)::BIGINT AS npos
            FROM scored GROUP BY band
        ), fan AS (
            SELECT unnest(generate_series(0, band)) AS band_cut, n, npos
            FROM band_agg
        ), cum AS (
            SELECT band_cut, sum(n)::BIGINT AS n_selected,
                   sum(npos)::BIGINT AS n_positive
            FROM fan GROUP BY band_cut
        ), tot AS (
            SELECT count(*)::BIGINT AS nt, sum(pos)::BIGINT AS pt FROM scored
        )
        SELECT cum.band_cut,
               round(cum.band_cut / {GAINS_BANDS}.0, 6) AS cut_quality,
               cum.n_selected, cum.n_positive,
               round(cum.n_selected::DOUBLE / tot.nt, 6) AS selected_share,
               round(cum.n_positive::DOUBLE / tot.pt, 6) AS recall,
               round(cum.n_positive::DOUBLE * tot.nt
                     / (cum.n_selected * tot.pt), 6) AS lift
        FROM cum CROSS JOIN tot
    """,
    doc=f"""Cumulative gains/lift curve of the quality ranking against
    the 'en' label, banded into {GAINS_BANDS} equi-width score cutoffs:
    for each cutoff, the selected volume, the share of all positives
    captured (recall), and the lift over random selection.  The curve a
    selection budget is read off of — AUC says the ranking works,
    this says WHERE to cut.  The cumulative-from-the-top sums use the
    bounded fan-out pattern (each band row explodes to the cutoffs it
    satisfies, ≤{GAINS_BANDS} rows each, then one equi-groupBy) —
    never an unpartitioned window, exactly like decayed_hourly_traffic;
    the fan-out input is the ≤{GAINS_BANDS}-row band aggregate, so the
    explode is O(bands²) regardless of corpus size.  Counts are exact
    integers; every ratio is one deterministic double division.""",
)
def quality_gains_by_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_expr

    docs = load_table(spark, "documents", sf_dir)
    # One projection instead of scan + scan + 1:1 self-join on doc_id
    # (round-10, session 3 — the quality_auc_en pattern).
    scored = docs.select(quality_expr("text").alias("quality"), "lang")
    band = F.least(
        F.floor(F.col("quality") * GAINS_BANDS).cast("long"),
        F.lit(GAINS_BANDS - 1),
    )
    # Pin the ≤GAINS_BANDS-row band aggregate: the totals row and the
    # cumulative fan-out both hang off it, and each re-derived the full
    # text-scoring scan (change-8 waist; eager — both consumers sit in
    # the same final action, so there is no earlier job to ride).
    band_agg = scored.select(
        band.alias("band"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    ).groupBy("band").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("npos"),
    ).localCheckpoint(eager=True)
    tot = band_agg.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("npos").cast("long").alias("pt"),
    )
    cum = (
        band_agg.select(
            F.explode(F.sequence(F.lit(0), F.col("band"))).alias("band_cut"),
            "n",
            "npos",
        )
        .groupBy("band_cut")
        .agg(
            F.sum("n").cast("long").alias("n_selected"),
            F.sum("npos").cast("long").alias("n_positive"),
        )
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "band_cut",
        F.round(F.col("band_cut") / float(GAINS_BANDS), 6).alias("cut_quality"),
        "n_selected",
        "n_positive",
        F.round(F.col("n_selected").cast("double") / F.col("nt"), 6).alias(
            "selected_share"
        ),
        F.round(F.col("n_positive").cast("double") / F.col("pt"), 6).alias(
            "recall"
        ),
        F.round(
            F.col("n_positive").cast("double")
            * F.col("nt")
            / (F.col("n_selected") * F.col("pt")),
            6,
        ).alias("lift"),
    )


@register(
    "jackknife_ci_order_total",
    oracle=f"""
        WITH blk AS (
            SELECT (('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT
                    % {JK_BLOCKS}) AS b,
                   count(*)::BIGINT AS n_i,
                   sum(round(o_totalprice * 100))::BIGINT AS s_i
            FROM orders GROUP BY b
        ), tot AS (
            SELECT sum(n_i)::BIGINT AS n, sum(s_i)::BIGINT AS s,
                   count(*)::BIGINT AS nb
            FROM blk
        ), theta AS (
            SELECT round((tot.s - blk.s_i)
                         / (100.0 * (tot.n - blk.n_i)) * 1000000)::BIGINT
                       AS th_micros,
                   tot.n, tot.s, tot.nb
            FROM blk CROSS JOIN tot
        ), tsum AS (
            SELECT sum(th_micros)::BIGINT AS t, max(n) AS n, max(s) AS s,
                   max(nb) AS nb
            FROM theta
        ), dev AS (
            SELECT round((theta.th_micros - tsum.t / tsum.nb::DOUBLE)
                         / 10000)::BIGINT AS dev_cents,
                   tsum.n, tsum.s, tsum.nb
            FROM theta CROSS JOIN tsum
        )
        SELECT max(n) AS n_orders, max(nb)::BIGINT AS n_blocks,
               round(max(s) / (100.0 * max(n)), 6) AS mean_total,
               round(sqrt(sum(dev_cents * dev_cents) / 10000.0
                          * (max(nb) - 1) / max(nb)), 6) AS se_jack,
               round(max(s) / (100.0 * max(n))
                     - 1.96 * sqrt(sum(dev_cents * dev_cents) / 10000.0
                                   * (max(nb) - 1) / max(nb)), 6) AS ci_lo,
               round(max(s) / (100.0 * max(n))
                     + 1.96 * sqrt(sum(dev_cents * dev_cents) / 10000.0
                                   * (max(nb) - 1) / max(nb)), 6) AS ci_hi
        FROM dev
    """,
    doc=f"""Delete-one-block jackknife standard error and 95% CI of the
    mean order total (Quenouille/Tukey; the block form is the standard
    cluster-resampling scheme): rows hash into {JK_BLOCKS} blocks, each
    leave-one-block-out mean theta_i = (S - s_i)/(N - n_i) comes from
    the SAME one-pass per-block (sum, count) frame, and
    var_jack = (B-1)/B * sum((theta_i - theta_bar)^2).  Unlike a
    bootstrap there is no per-replicate re-draw — one corpus pass plus
    a {JK_BLOCKS}-row combine prices the uncertainty of every mean the
    other audits report.  FP discipline: money sums in integer cents
    (exact), each theta_i quantizes to micros and each deviation to
    cents BEFORE the cross-engine sum of squares, so double
    accumulation order cannot flip a rounded digit (deviation² stays
    inside double's exact-integer range, which raw micros² would not).
    Scale shape: one shuffle on a {JK_BLOCKS}-ary key, then scalar
    crossJoins over the {JK_BLOCKS}-row frame — declared BNL sites,
    bounded by construction.""",
)
def jackknife_ci_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    blk = orders.groupBy(
        (portable_hash32(F.col("o_orderkey").cast("string")) % JK_BLOCKS).alias("b")
    ).agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("s_i"),
    )
    tot = blk.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("s_i").cast("long").alias("s"),
        F.count("*").cast("long").alias("nb"),
    )
    theta = blk.crossJoin(F.broadcast(tot)).select(
        F.round(
            (F.col("s") - F.col("s_i"))
            / (100.0 * (F.col("n") - F.col("n_i")))
            * 1_000_000
        )
        .cast("long")
        .alias("th_micros"),
        "n",
        "s",
        "nb",
    )
    tsum = theta.agg(
        F.sum("th_micros").cast("long").alias("t"),
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.max("nb").alias("nb"),
    )
    dev = theta.select("th_micros").crossJoin(F.broadcast(tsum)).select(
        F.round(
            (F.col("th_micros") - F.col("t") / F.col("nb").cast("double"))
            / 10_000
        )
        .cast("long")
        .alias("dev_cents"),
        "n",
        "s",
        "nb",
    )
    se = F.sqrt(
        F.sum(F.col("dev_cents") * F.col("dev_cents")) / 10_000.0
        * (F.max("nb") - 1)
        / F.max("nb")
    )
    mean = F.max("s") / (100.0 * F.max("n"))
    return dev.agg(
        F.max("n").alias("n_orders"),
        F.max("nb").cast("long").alias("n_blocks"),
        F.round(mean, 6).alias("mean_total"),
        F.round(se, 6).alias("se_jack"),
        F.round(mean - 1.96 * se, 6).alias("ci_lo"),
        F.round(mean + 1.96 * se, 6).alias("ci_hi"),
    )


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
    "quantile_normalize_by_source",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id) AS rk
            FROM documents
        ), targets AS (
            SELECT rk, round(avg(n_chars) * 1e6)::BIGINT AS qnorm_micros
            FROM ranked GROUP BY rk
            HAVING count(*) = (SELECT count(DISTINCT source) FROM documents)
        )
        SELECT r.doc_id, r.source, r.n_chars, r.rk, t.qnorm_micros
        FROM ranked r JOIN targets t ON r.rk = t.rk
    """,
    doc="""Quantile normalization of document length across sources
    (the batch-effect correction standard in expression analysis,
    Bolstad '03, applied to corpus curation): rank within source, then
    replace each value with the cross-source mean at its rank, so
    every source ends up with the SAME length distribution — the
    pre-mixing step that stops one source's length profile from
    leaking through a mixture.  Ranks not present in every source are
    dropped (the defined behavior when group sizes differ).  Scale
    shape: one per-source window (partitioned — never global), one
    |ranks|-keyed aggregation, one rank-keyed join back; a single
    source too large for one partition's window switches to the
    hierarchical rank machinery (``bucketed_prefix_sums``) unchanged.
    The 1-row source-count aggregate broadcasts into the HAVING.""",
)
def quantile_normalize_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "n_chars"
    )
    rk = F.row_number().over(
        W.partitionBy("source").orderBy("n_chars", "doc_id")
    )
    ranked = docs.withColumn("rk", rk)
    n_sources = docs.agg(
        F.countDistinct("source").alias("ns")
    )
    targets = (
        ranked.groupBy("rk")
        .agg(
            F.round(F.avg("n_chars") * 1e6).cast("long").alias("qnorm_micros"),
            F.count(F.lit(1)).alias("n_at_rank"),
        )
        .crossJoin(F.broadcast(n_sources))
        .where(F.col("n_at_rank") == F.col("ns"))
        .select("rk", "qnorm_micros")
    )
    return ranked.join(targets, "rk").select(
        "doc_id", "source", "n_chars", "rk", "qnorm_micros"
    )


# --- nDCG of the quality ranking ------------------------------------
# Graded gains by language tier (gain = 2^rel - 1 precomputed exactly:
# en rel=2 -> 3, de rel=1 -> 1, rest rel=0 -> 0).
NDCG_K = 100
_GAIN_SQL = "CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 1 ELSE 0 END"


def _quality_sql() -> str:

    return f"""round(0.4 * least(len(string_split(text, ' ')) / 100.0, 1.0)
         + 0.3 * (len(list_filter(string_split(text, ' '),
                      t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                  / len(string_split(text, ' ')))
         + 0.3 * (1 - length(regexp_replace(lower(text),
                      '[a-z0-9 ]', '', 'g'))::DOUBLE
                      / length(text)), 6)"""


def _ndcg_oracle() -> str:
    return f"""
        WITH scored AS (
            SELECT doc_id, {_GAIN_SQL} AS gain, {_quality_sql()} AS quality
            FROM documents
        ), top AS (
            SELECT gain,
                   row_number() OVER (ORDER BY quality DESC, doc_id) AS r
            FROM scored ORDER BY quality DESC, doc_id LIMIT {NDCG_K}
        ), ideal AS (
            SELECT gain, row_number() OVER (ORDER BY gain DESC) AS r
            FROM scored ORDER BY gain DESC LIMIT {NDCG_K}
        ), dcg AS (
            SELECT sum(round(1e6 * gain / log2(r + 1))::BIGINT) AS micros
            FROM top
        ), idcg AS (
            SELECT sum(round(1e6 * gain / log2(r + 1))::BIGINT) AS micros
            FROM ideal
        )
        SELECT {NDCG_K}::BIGINT AS k,
               dcg.micros::BIGINT AS dcg_micros,
               idcg.micros::BIGINT AS idcg_micros,
               round(dcg.micros::DOUBLE / idcg.micros, 6) AS ndcg
        FROM dcg CROSS JOIN idcg
    """


@register(
    "ndcg_quality_ranking",
    oracle=_ndcg_oracle(),
    doc=f"""nDCG@{NDCG_K} (Järvelin & Kekäläinen '02) of the heuristic
    quality ranking against graded language relevance (gain tiers
    en=3, de=1, rest 0) — the position-discounted member of the
    ranking-evaluation family (quality_precision_at_k = one binary
    cutoff, quality_auc_en = every cutoff unweighted).  Per-position
    terms gain/log2(rank+1) are rounded to integer MICROS before the
    sum, so both DCG and ideal-DCG are exact integer sums — no
    FP-accumulation-order hazard across partitions; the single FP
    division happens once on two integers.  Scale shape: both the
    ranked cut and the ideal cut are (ORDER BY, LIMIT {NDCG_K}) —
    TakeOrderedAndProject per-partition top-k, never a full sort — and
    the rank window runs over the already-bounded {NDCG_K}-row frame
    (constant partition key, explicitly bounded by the preceding
    limit).""",
)
def ndcg_quality_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import hierarchical_row_number
    from ..operators.text import quality_expr

    docs = load_table(spark, "documents", sf_dir)
    gain = (
        F.when(F.col("lang") == "en", 3)
        .when(F.col("lang") == "de", 1)
        .otherwise(0)
    )
    # One projection instead of scan + scan + 1:1 self-join on doc_id
    # (round-10, session 3 — the quality_auc_en pattern).
    scored = docs.select(
        "doc_id", quality_expr("text").alias("quality"), gain.alias("gain")
    )
    # Both cuts are bounded at NDCG_K rows BEFORE ranking; ranks come
    # from the engine's hierarchical row_number (never an unpartitioned
    # window, even over a bounded frame).  The cuts are eagerly
    # checkpointed: they are <= NDCG_K rows, and the ranker's sizing
    # probes would otherwise re-run the corpus quality scan per job.
    top = (
        scored.orderBy(F.desc("quality"), F.asc("doc_id"))
        .limit(NDCG_K)
        .localCheckpoint(eager=True)
    )
    top_r = hierarchical_row_number(
        top, -F.col("quality"), tiebreak="doc_id", out="r"
    )
    ideal = (
        scored.orderBy(F.desc("gain"), F.asc("doc_id"))
        .limit(NDCG_K)
        .localCheckpoint(eager=True)
    )
    ideal_r = hierarchical_row_number(
        ideal, -F.col("gain"), tiebreak="doc_id", out="r"
    )
    term = F.round(
        F.lit(1e6) * F.col("gain") / F.log2(F.col("r") + F.lit(1))
    ).cast("long")
    dcg = top_r.agg(F.sum(term).alias("dcg_micros"))
    idcg = ideal_r.agg(F.sum(term).alias("idcg_micros"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            F.lit(NDCG_K).cast("long").alias("k"),
            F.col("dcg_micros").cast("long"),
            F.col("idcg_micros").cast("long"),
            F.round(
                F.col("dcg_micros").cast("double") / F.col("idcg_micros"), 6
            ).alias("ndcg"),
        )
    )


# --- Mean reciprocal rank ----------------------------------------------
@register(
    "mrr_quality_by_source",
    oracle="""
        WITH ranked AS (
            SELECT source, lang,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id) AS r
            FROM documents
        ), firsts AS (
            SELECT source, min(r) AS first_rel
            FROM ranked WHERE lang = 'en' GROUP BY source
        ), rr AS (
            SELECT s.source,
                   coalesce(round(1000000.0 / f.first_rel), 0)::BIGINT
                       AS rr_ppm
            FROM (SELECT DISTINCT source FROM documents) s
            LEFT JOIN firsts f USING (source)
        )
        SELECT count(*)::BIGINT AS n_queries,
               sum(CASE WHEN rr_ppm > 0 THEN 1 ELSE 0 END)::BIGINT
                   AS n_with_relevant,
               sum(rr_ppm)::BIGINT AS total_rr_ppm,
               round(sum(rr_ppm)::DOUBLE / count(*))::BIGINT AS mrr_ppm
        FROM rr
    """,
    doc="""Mean reciprocal rank of the first relevant ('en') document
    across per-source length rankings — each source acts as a query,
    the position of its first relevant hit contributes 1/rank
    (integer ppm; sources with no relevant doc contribute 0) — the
    last member of the ranking-evaluation family
    (quality_precision_at_k = one cutoff, quality_auc_en = every
    cutoff, ndcg_quality_ranking = graded positions, this = first-hit
    latency, the navigational-retrieval metric).  Scale shape: one
    source-PARTITIONED rank window, a grouped min, and a
    |sources|-row summary — no global window, no collect.""",
)
def mrr_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    r = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    )
    ranked = docs.select("source", "lang", r.alias("r"))
    firsts = (
        ranked.where(F.col("lang") == "en")
        .groupBy("source")
        .agg(F.min("r").alias("first_rel"))
    )
    rr = (
        docs.select("source")
        .distinct()
        .join(firsts, "source", "left")
        .select(
            F.coalesce(
                F.round(F.lit(1000000.0) / F.col("first_rel")), F.lit(0)
            )
            .cast("long")
            .alias("rr_ppm")
        )
    )
    return rr.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.when(F.col("rr_ppm") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_with_relevant"),
        F.sum("rr_ppm").cast("long").alias("total_rr_ppm"),
        F.round(F.sum("rr_ppm").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("mrr_ppm"),
    )


KM_CENSOR_DAYS = 90


# --- Kaplan–Meier --------------------------------------------------------


@register(
    "kaplan_meier_retention",
    oracle=f"""
        WITH RECURSIVE span AS (
            SELECT o_custkey,
                   min(o_orderdate)::DATE AS first_d,
                   max(o_orderdate)::DATE AS last_d
            FROM orders GROUP BY o_custkey
        ), cutoff AS (SELECT max(o_orderdate)::DATE AS cut FROM orders),
        per AS (
            SELECT (date_diff('day', first_d, last_d) // 7)::BIGINT AS dur,
                   CASE WHEN last_d < cut - INTERVAL {KM_CENSOR_DAYS} DAY
                        THEN 1 ELSE 0 END AS ev
            FROM span, cutoff
        ), grp AS (
            SELECT dur, count(*)::BIGINT AS c, sum(ev)::BIGINT AS d
            FROM per GROUP BY dur
        ), idx AS (
            SELECT dur, c, d, row_number() OVER (ORDER BY dur) AS i FROM grp
        ), tot AS (SELECT count(*)::BIGINT AS n FROM per),
        km(i, dur, n_risk, d, s, at_next) AS (
            SELECT i, dur, tot.n, d,
                   ((1000000 * (tot.n - d)) // tot.n)::BIGINT,
                   tot.n - c
            FROM idx, tot WHERE i = 1
            UNION ALL
            SELECT idx.i, idx.dur, km.at_next, idx.d,
                   ((km.s * (km.at_next - idx.d)) // km.at_next)::BIGINT,
                   km.at_next - idx.c
            FROM km JOIN idx ON idx.i = km.i + 1
        )
        SELECT dur AS duration_weeks, n_risk, d AS n_events,
               s AS surv_micros
        FROM km
    """,
    doc=f"""Kaplan–Meier ('58) product-limit survival estimator over
    customer lifetimes (weeks between first and last order), with
    explicit right-censoring: a customer whose last order falls within
    {KM_CENSOR_DAYS} days of the dataset horizon is CENSORED (still
    alive), not an event — the estimator the retention/churn family
    (cohort_weekly_retention, user_daily_streaks) needs to be
    statistically honest about the open end of the observation window.
    S(t) = Π (1 − d_i/n_i) folded in EXACT INTEGER MICROS
    (``(s·(n−d)) div n`` per step — the sequential-recurrence class,
    same contract discipline as holt_linear_daily).  Scale shape: the
    row-scale work is one groupBy(customer) span + one groupBy(week)
    count; the recurrence runs over the BOUNDED distinct-week frame
    (≤ date-range/7 rows) collected into a single codegen'd
    ``aggregate`` fold — never an unpartitioned window over row-scale
    data.  The oracle replays the fold as a recursive CTE.""",
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    span = orders.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    cutoff = orders.agg(F.max(F.to_date("o_orderdate")).alias("cut"))
    per = span.crossJoin(F.broadcast(cutoff)).select(
        F.floor(F.datediff("last_d", "first_d") / 7)
        .cast("long")
        .alias("dur"),
        F.when(
            F.col("last_d") < F.date_sub("cut", KM_CENSOR_DAYS), 1
        )
        .otherwise(0)
        .alias("ev"),
    )
    grp = per.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("ev").cast("long").alias("d"),
    )
    series = grp.agg(
        F.sort_array(F.collect_list(F.struct("dur", "c", "d"))).alias("xs"),
        F.sum("c").cast("long").alias("n"),
    )

    def step(acc, x):
        n_risk = acc["at"]
        s2 = _idiv(acc["s"] * (n_risk - x["d"]), n_risk)
        row = F.struct(
            x["dur"].alias("duration_weeks"),
            n_risk.alias("n_risk"),
            x["d"].alias("n_events"),
            s2.alias("surv_micros"),
        )
        return F.struct(
            (n_risk - x["c"]).alias("at"),
            s2.alias("s"),
            F.array_append(acc["out"], row).alias("out"),
        )

    folded = series.select(
        F.aggregate(
            F.col("xs"),
            F.struct(
                F.col("n").alias("at"),
                F.lit(1_000_000).cast("long").alias("s"),
                F.expr(
                    "CAST(array() AS ARRAY<STRUCT<duration_weeks: BIGINT,"
                    " n_risk: BIGINT, n_events: BIGINT, surv_micros: BIGINT>>)"
                ).alias("out"),
            ),
            step,
            lambda acc: acc["out"],
        ).alias("out")
    )
    return folded.select(F.explode("out").alias("r")).select("r.*")


# --- Mutual information --------------------------------------------------


@register(
    "mutual_information_lang_source",
    oracle="""
        WITH cell AS (
            SELECT lang, source, count(*)::DOUBLE AS c
            FROM documents GROUP BY lang, source
        ), ml AS (SELECT lang, sum(c) AS nx FROM cell GROUP BY lang),
        ms AS (SELECT source, sum(c) AS ny FROM cell GROUP BY source),
        tot AS (SELECT sum(c) AS n FROM cell)
        SELECT tot.n::BIGINT AS n_docs,
               round(sum((c / tot.n) * ln((c * tot.n) / (nx * ny))), 6)
                   AS mi_nats,
               round(-sum((c / tot.n) * ln(nx / tot.n)), 6) AS h_lang,
               round(-sum((c / tot.n) * ln(ny / tot.n)), 6) AS h_source
        FROM cell
        JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN tot
        GROUP BY tot.n
    """,
    doc="""Mutual information (nats) between document language and
    source, with both marginal entropies — the dependence STRENGTH
    companion to chi2_lang_source_independence (chi2 tests whether
    lang⊥source; MI says how much knowing the source tells you about
    the language, the quantity a corpus-mixing plan actually budgets).
    H entropies are computed cell-wise (−Σ p(x,y)·ln p(x) ≡
    −Σ p(x)·ln p(x)) so all three numbers share one |langs×sources|
    frame.  Scale shape: one grouped count over the corpus, then
    arithmetic on the bounded contingency table — identical economics
    to the chi2/KL family (domain_shift_kl's lockstep ln/round-6
    contract).""",
)
def mutual_information_lang_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    cell = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    ml = cell.groupBy("lang").agg(F.sum("c").alias("nx"))
    ms = cell.groupBy("source").agg(F.sum("c").alias("ny"))
    tot = cell.agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        cell.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.round(
                F.sum(p * F.log((F.col("c") * F.col("n")) / (F.col("nx") * F.col("ny")))),
                6,
            ).alias("mi_nats"),
            F.round(-F.sum(p * F.log(F.col("nx") / F.col("n"))), 6).alias(
                "h_lang"
            ),
            F.round(-F.sum(p * F.log(F.col("ny") / F.col("n"))), 6).alias(
                "h_source"
            ),
        )
        .select(
            F.col("n").cast("long").alias("n_docs"),
            "mi_nats",
            "h_lang",
            "h_source",
        )
    )


# --- Grid-density clustering (DBSCAN-style) -----------------------------

GRID_INV_H = 25  # cell width 0.04 on the first two embedding dims
GRID_MINPTS = 4
GRID_OFF = 32  # normalized vectors: |coord| <= 1 so |cell| < OFF
GRID_STRIDE = 64


def _grid_oracle() -> str:
    return f"""
        WITH RECURSIVE pts AS (
            SELECT vec_id,
                   floor(CAST(embedding[1] AS DOUBLE) * {GRID_INV_H})::BIGINT AS cx,
                   floor(CAST(embedding[2] AS DOUBLE) * {GRID_INV_H})::BIGINT AS cy
            FROM embeddings
        ), cells AS (
            SELECT cx, cy, count(*)::BIGINT AS npts FROM pts GROUP BY cx, cy
        ), core AS (
            SELECT cx, cy, npts,
                   (cx + {GRID_OFF}) * {GRID_STRIDE} + (cy + {GRID_OFF}) AS cid
            FROM cells WHERE npts >= {GRID_MINPTS}
        ), adj AS (
            SELECT a.cid AS x, b.cid AS y
            FROM core a JOIN core b
              ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
        ), reach(cid, lbl) AS (
            SELECT cid, cid FROM core
            UNION
            SELECT adj.x, reach.lbl FROM reach JOIN adj ON adj.y = reach.cid
        ), lab AS (
            SELECT cid, min(lbl) AS lbl FROM reach GROUP BY cid
        )
        SELECT lab.lbl AS cluster_id, count(*)::BIGINT AS n_cells,
               sum(core.npts)::BIGINT AS n_points
        FROM lab JOIN core ON core.cid = lab.cid
        GROUP BY lab.lbl
        UNION ALL
        SELECT -1, count(*)::BIGINT, coalesce(sum(npts), 0)::BIGINT
        FROM cells WHERE npts < {GRID_MINPTS}
    """


@register(
    "grid_density_clusters",
    oracle=_grid_oracle(),
    doc=f"""Grid-density clustering (the STING/GriDBSCAN family — Wang
    et al. \'97 grid statistics under DBSCAN \'96 density semantics) on
    the first two embedding dimensions: points land in 1/{GRID_INV_H}-
    wide cells, cells with >= {GRID_MINPTS} points are CORE, 8-adjacent
    core cells merge into clusters (cluster_id = min cell id in the
    CONNECTED COMPONENT — converged, so the contract is
    algorithm-independent), and sparse-cell points report as the noise
    row (cluster_id = -1).  Density clustering without any pairwise
    distance join: the Spark side builds cell adjacency by EXPLODING
    each core cell to its 9 neighbor coordinates and equi-joining back
    on the cell key — no theta join anywhere (the oracle\'s |core|²
    abs()-join + recursive min-label closure is the bounded replay,
    not the plan) — then merges components by driver union-find over the
    GRID-BOUNDED cell frame (<= (2*OFF)^2 = 4096 cells by construction
    — the engine\'s bounded-collect class; an unbounded key space would
    swap in the alternating-star ``connected_components``).
    All-integer cell ids ((cx+{GRID_OFF})·{GRID_STRIDE}+cy+{GRID_OFF} —
    normalized vectors keep |coord| < 1 so the encoding is
    collision-free); the only FP step is the floor to cells, identical
    double math in both engines.  Scale shape: one grouped count per
    cell (map-side combined), components over the |core cells| frame —
    the iterate is grid-bounded, not data-bounded.""",
)
def grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    pts = emb.select(
        F.floor(
            F.element_at("embedding", 1).cast("double") * GRID_INV_H
        )
        .cast("long")
        .alias("cx"),
        F.floor(
            F.element_at("embedding", 2).cast("double") * GRID_INV_H
        )
        .cast("long")
        .alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("npts")
    )
    core = (
        cells.where(F.col("npts") >= GRID_MINPTS)
        .withColumn(
            "cid",
            (F.col("cx") + GRID_OFF) * GRID_STRIDE + F.col("cy") + GRID_OFF,
        )
        .localCheckpoint(eager=True)
    )
    offsets = F.expr(
        "array("
        + ", ".join(
            f"struct({dx} AS dx, {dy} AS dy)"
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        + ")"
    )
    probes = core.select(
        F.col("cid").alias("y"), F.explode(offsets).alias("o"), "cx", "cy"
    ).select(
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
        "y",
    )
    adj = probes.join(
        core.select("cx", "cy", F.col("cid").alias("x")), ["cx", "cy"]
    ).select("x", "y")
    # The merge runs on the driver over the GRID-BOUNDED cell frame:
    # |cells| <= (2*GRID_OFF)^2 = 4096 by construction regardless of
    # data volume, so this collect is in the engine's bounded-summary
    # class (|buckets| rows, k centroids) — union-find over <= 4096
    # vertices beats 4-6 alternating-star shuffle rounds (measured
    # 12 s -> instant at sf0.1).  On an UNBOUNDED key space swap in
    # operators/dedup.py:connected_components, same contract.
    edge_rows = adj.where(F.col("x") < F.col("y")).distinct().collect()
    cid_rows = [r["cid"] for r in core.select("cid").collect()]
    parent = {c: c for c in cid_rows}

    def _find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for r in edge_rows:
        ra, rb = _find(r["x"]), _find(r["y"])
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for c in cid_rows:
        root = _find(c)
        comp_min[root] = min(comp_min.get(root, c), c)
    mapping = spark.createDataFrame(
        [(c, comp_min[_find(c)]) for c in cid_rows],
        "cid long, cluster_id long",
    )
    clusters = (
        core.select("cid", "npts")
        .join(F.broadcast(mapping), "cid")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("npts").cast("long").alias("n_points"),
        )
    )
    noise = cells.where(F.col("npts") < GRID_MINPTS).agg(
        F.lit(-1).cast("long").alias("cluster_id"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.coalesce(F.sum("npts"), F.lit(0)).cast("long").alias("n_points"),
    )
    return clusters.unionByName(noise)


# --- Welch's t-test ------------------------------------------------------

_WELCH_A = "1-URGENT"
_WELCH_B = "5-LOW"
# Two-sided 95% normal critical value (df is ~6000 here, so the normal
# approximation to the t quantile is exact to 4 decimals).
_WELCH_CRIT = 1.959964


@register(
    "welch_t_test_orders",
    oracle=f"""
        WITH x AS (
            SELECT o_orderpriority AS grp,
                   round(o_totalprice)::BIGINT AS xd
            FROM orders
            WHERE o_orderpriority IN ('{_WELCH_A}', '{_WELCH_B}')
        ), s AS (
            SELECT grp, count(*)::BIGINT AS n, sum(xd)::BIGINT AS s
            FROM x GROUP BY grp
        ), m AS (
            SELECT grp, n, s, (s // n) AS mf, (s % n) AS r FROM s
        ), q AS (
            SELECT x.grp, any_value(m.n) AS n, any_value(m.s) AS s,
                   any_value(m.r) AS r,
                   sum((x.xd - m.mf) * (x.xd - m.mf))::BIGINT AS ssq
            FROM x JOIN m ON x.grp = m.grp GROUP BY x.grp
        ), w AS (
            SELECT
                max(CASE WHEN grp = '{_WELCH_A}' THEN n END) AS na,
                max(CASE WHEN grp = '{_WELCH_B}' THEN n END) AS nb,
                max(CASE WHEN grp = '{_WELCH_A}' THEN s END) AS sa,
                max(CASE WHEN grp = '{_WELCH_B}' THEN s END) AS sb,
                max(CASE WHEN grp = '{_WELCH_A}' THEN r END) AS ra,
                max(CASE WHEN grp = '{_WELCH_B}' THEN r END) AS rb,
                max(CASE WHEN grp = '{_WELCH_A}' THEN ssq END) AS qa,
                max(CASE WHEN grp = '{_WELCH_B}' THEN ssq END) AS qb
            FROM q
        )
        SELECT na AS n_urgent, nb AS n_low,
               round(sa::DOUBLE / na, 4) AS mean_urgent,
               round(sb::DOUBLE / nb, 4) AS mean_low,
               round((sa::DOUBLE / na - sb::DOUBLE / nb)
                     / sqrt((qa::DOUBLE - ra::DOUBLE * (ra::DOUBLE / na))
                                / (na - 1) / na
                            + (qb::DOUBLE - rb::DOUBLE * (rb::DOUBLE / nb))
                                / (nb - 1) / nb), 6) AS t_stat,
               round(
                   pow((qa::DOUBLE - ra::DOUBLE * (ra::DOUBLE / na))
                           / (na - 1) / na
                       + (qb::DOUBLE - rb::DOUBLE * (rb::DOUBLE / nb))
                           / (nb - 1) / nb, 2)
                   / (pow((qa::DOUBLE - ra::DOUBLE * (ra::DOUBLE / na))
                              / (na - 1) / na, 2) / (na - 1)
                      + pow((qb::DOUBLE - rb::DOUBLE * (rb::DOUBLE / nb))
                              / (nb - 1) / nb, 2) / (nb - 1)), 2)
                   AS df_welch,
               abs((sa::DOUBLE / na - sb::DOUBLE / nb)
                   / sqrt((qa::DOUBLE - ra::DOUBLE * (ra::DOUBLE / na))
                              / (na - 1) / na
                          + (qb::DOUBLE - rb::DOUBLE * (rb::DOUBLE / nb))
                              / (nb - 1) / nb)) > {_WELCH_CRIT}
                   AS reject_95
        FROM w
    """,
    doc=f"""Welch's unequal-variance two-sample t-test of order spend,
    '{_WELCH_A}' vs '{_WELCH_B}' priorities: t statistic, Welch–
    Satterthwaite degrees of freedom, and the 95% two-sided decision.
    Determinism: amounts round to exact integer dollars; each group's
    mean splits into exact floor + remainder (s = n·mf + r), and the
    centered second moment Σ(x−mf)² is an exact int64 sum, corrected to
    the true-mean moment by the identity Σ(x−μ)² = Σ(x−mf)² − r·(r/n) —
    so t and df are identical IEEE expressions over identical integers
    in both engines.  Scale shape: one filtered scan, two grouped
    partial aggregations joined through a 2-row broadcast, a 1-row
    report — the canonical sufficient-statistics pattern (no raw data
    ever leaves the executors, works unchanged at 100 TB).""",
)
def welch_t_test_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    x = orders.where(F.col("o_orderpriority").isin(_WELCH_A, _WELCH_B)).select(
        F.col("o_orderpriority").alias("grp"),
        F.round("o_totalprice").cast("long").alias("xd"),
    )
    s = x.groupBy("grp").agg(F.count("*").alias("n"), F.sum("xd").alias("s"))
    m = s.select(
        "grp",
        "n",
        "s",
        _idiv(F.col("s"), F.col("n")).alias("mf"),
        (F.col("s") % F.col("n")).alias("r"),
    )
    q = (
        x.join(F.broadcast(m), "grp")
        .groupBy("grp")
        .agg(
            F.first("n").alias("n"),
            F.first("s").alias("s"),
            F.first("r").alias("r"),
            F.sum((F.col("xd") - F.col("mf")) * (F.col("xd") - F.col("mf"))).alias(
                "ssq"
            ),
        )
    )
    is_a = F.col("grp") == _WELCH_A
    is_b = F.col("grp") == _WELCH_B
    w = q.agg(
        F.max(F.when(is_a, F.col("n"))).alias("na"),
        F.max(F.when(is_b, F.col("n"))).alias("nb"),
        F.max(F.when(is_a, F.col("s"))).alias("sa"),
        F.max(F.when(is_b, F.col("s"))).alias("sb"),
        F.max(F.when(is_a, F.col("r"))).alias("ra"),
        F.max(F.when(is_b, F.col("r"))).alias("rb"),
        F.max(F.when(is_a, F.col("ssq"))).alias("qa"),
        F.max(F.when(is_b, F.col("ssq"))).alias("qb"),
    )
    na, nb = F.col("na"), F.col("nb")
    d = F.col
    va = (d("qa").cast("double") - d("ra").cast("double") * (d("ra").cast("double") / na)) / (
        na - 1
    ) / na
    vb = (d("qb").cast("double") - d("rb").cast("double") * (d("rb").cast("double") / nb)) / (
        nb - 1
    ) / nb
    mean_a = d("sa").cast("double") / na
    mean_b = d("sb").cast("double") / nb
    t = (mean_a - mean_b) / F.sqrt(va + vb)
    df_w = F.pow(va + vb, 2) / (F.pow(va, 2) / (na - 1) + F.pow(vb, 2) / (nb - 1))
    return w.select(
        na.alias("n_urgent"),
        nb.alias("n_low"),
        F.round(mean_a, 4).alias("mean_urgent"),
        F.round(mean_b, 4).alias("mean_low"),
        F.round(t, 6).alias("t_stat"),
        F.round(df_w, 2).alias("df_welch"),
        (F.abs(t) > _WELCH_CRIT).alias("reject_95"),
    )


# --- one-way ANOVA --------------------------------------------------------

_PRIORITIES: tuple[str, ...] = (
    "1-URGENT",
    "2-HIGH",
    "3-MEDIUM",
    "4-NOT SPECIFIED",
    "5-LOW",
)
_PRIO_SHORT: tuple[str, ...] = ("urgent", "high", "medium", "notspec", "low")


def _anova_oracle() -> str:
    pivots = ",\n                ".join(
        f"max(CASE WHEN grp = '{p}' THEN {c} END) AS {c}{i}"
        for i, p in enumerate(_PRIORITIES, 1)
        for c in ("n", "s", "r", "qf")
    )
    means = " ".join(
        f"(s{i}::DOUBLE / n{i}) AS m{i}," for i in range(1, 6)
    ).rstrip(",")
    gm = "((s1+s2+s3+s4+s5)::DOUBLE / (n1+n2+n3+n4+n5))"
    ssb = " + ".join(f"n{i}*(m{i} - gm)*(m{i} - gm)" for i in range(1, 6))
    ssw = " + ".join(
        f"(qf{i}::DOUBLE - r{i}::DOUBLE*(r{i}::DOUBLE / n{i}))"
        for i in range(1, 6)
    )
    mean_cols = ", ".join(
        f"round(m{i}, 4) AS mean_{s}" for i, s in enumerate(_PRIO_SHORT, 1)
    )
    return f"""
        WITH x AS (
            SELECT o_orderpriority AS grp,
                   CAST(round(o_totalprice) AS BIGINT) AS xd
            FROM orders
        ), s AS (
            SELECT grp, count(*)::BIGINT AS n, (sum(xd))::BIGINT AS s
            FROM x GROUP BY grp
        ), m AS (
            SELECT grp, n, s, (s // n) AS mf, (s % n) AS r FROM s
        ), q AS (
            SELECT x.grp, any_value(m.n) AS n, any_value(m.s) AS s,
                   any_value(m.r) AS r,
                   (sum((x.xd - m.mf) * (x.xd - m.mf)))::BIGINT AS qf
            FROM x JOIN m ON x.grp = m.grp GROUP BY x.grp
        ), w AS (
            SELECT {pivots}
            FROM q
        ), e AS (
            SELECT *, {means}, {gm} AS gm,
                   (n1+n2+n3+n4+n5) AS n_total
            FROM w
        ), f AS (
            SELECT n_total, ({ssb}) AS ssb, ({ssw}) AS ssw, {mean_cols}
            FROM e
        )
        SELECT n_total,
               round((ssb / 4.0) / (ssw / (n_total - 5)), 6) AS f_stat,
               round(ssb / (ssb + ssw), 6) AS eta_sq,
               {", ".join(f"mean_{s}" for s in _PRIO_SHORT)}
        FROM f
    """


@register(
    "anova_f_priority_spend",
    oracle=_anova_oracle(),
    doc="""One-way ANOVA across the five order-priority groups on
    dollar-rounded order totals: F statistic, eta-squared effect size,
    and the per-group means — the k-group generalization of the Welch
    pair test.  Determinism: per group only exact int64 sufficient
    statistics travel (n, sum, remainder vs the integer floor-mean, and
    the squared-deviation sum around that floor-mean — the Welch
    convention, so within-group SS reconstructs exactly as
    qf − r·(r/n)); the 20 scalars pivot into ONE row and SSB/SSW/F are
    a fixed-order double expression both engines evaluate identically.
    Scale shape: one grouped aggregate over the fact table, one
    broadcast equi-join back for the squared deviations (the group
    frame is |k| rows), one 5-row pivot aggregate — no window, no
    nested loop; at any scale the fact table is scanned exactly
    twice.""",
)
def anova_f_priority_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    x = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.round("o_totalprice").cast("long").alias("xd"),
    )
    s = x.groupBy("grp").agg(F.count("*").alias("n"), F.sum("xd").alias("s"))
    m = s.select(
        "grp",
        "n",
        "s",
        _idiv(F.col("s"), F.col("n")).alias("mf"),
        (F.col("s") % F.col("n")).alias("r"),
    )
    q = (
        x.join(F.broadcast(m), "grp")
        .groupBy("grp")
        .agg(
            F.first("n").alias("n"),
            F.first("s").alias("s"),
            F.first("r").alias("r"),
            F.sum(
                (F.col("xd") - F.col("mf")) * (F.col("xd") - F.col("mf"))
            ).alias("qf"),
        )
    )
    w = q.agg(
        *[
            F.max(F.when(F.col("grp") == p, F.col(c))).alias(f"{c}{i}")
            for i, p in enumerate(_PRIORITIES, 1)
            for c in ("n", "s", "r", "qf")
        ]
    )
    d = F.col
    means = [d(f"s{i}").cast("double") / d(f"n{i}") for i in range(1, 6)]
    gm = sum(d(f"s{i}") for i in range(1, 6)).cast("double") / sum(
        d(f"n{i}") for i in range(1, 6)
    )
    n_total = sum(d(f"n{i}") for i in range(1, 6))
    ssb = d("n1") * (means[0] - gm) * (means[0] - gm)
    for i in range(2, 6):
        ssb = ssb + d(f"n{i}") * (means[i - 1] - gm) * (means[i - 1] - gm)
    ssw = d("qf1").cast("double") - d("r1").cast("double") * (
        d("r1").cast("double") / d("n1")
    )
    for i in range(2, 6):
        ssw = ssw + (
            d(f"qf{i}").cast("double")
            - d(f"r{i}").cast("double") * (d(f"r{i}").cast("double") / d(f"n{i}"))
        )
    return w.select(
        n_total.alias("n_total"),
        F.round((ssb / F.lit(4.0)) / (ssw / (n_total - 5)), 6).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 6).alias("eta_sq"),
        *[
            F.round(means[i - 1], 4).alias(f"mean_{s_}")
            for i, s_ in enumerate(_PRIO_SHORT, 1)
        ],
    )


# --- Spearman rank correlation --------------------------------------------


@register(
    "spearman_daily_kpis",
    oracle="""
        WITH daily AS (
            SELECT o_orderdate AS d,
                   (sum(CAST(round(o_totalprice * 100) AS BIGINT)))::BIGINT
                       AS rev_c,
                   count(*)::BIGINT AS n_orders
            FROM orders GROUP BY o_orderdate
        ), gx AS (
            SELECT rev_c AS v, count(*)::BIGINT AS c FROM daily GROUP BY rev_c
        ), rx AS (
            SELECT a.v,
                   (2 * coalesce(sum(b.c), 0) + any_value(a.c) + 1)::BIGINT
                       AS r2
            FROM gx a LEFT JOIN gx b ON b.v < a.v GROUP BY a.v
        ), gy AS (
            SELECT n_orders AS v, count(*)::BIGINT AS c
            FROM daily GROUP BY n_orders
        ), ry AS (
            SELECT a.v,
                   (2 * coalesce(sum(b.c), 0) + any_value(a.c) + 1)::BIGINT
                       AS r2
            FROM gy a LEFT JOIN gy b ON b.v < a.v GROUP BY a.v
        ), j AS (
            SELECT daily.rev_c, daily.n_orders,
                   rx.r2 AS r2x, ry.r2 AS r2y
            FROM daily
            JOIN rx ON daily.rev_c = rx.v
            JOIN ry ON daily.n_orders = ry.v
        ), st AS (
            SELECT count(*)::BIGINT AS n_days,
                   sum(r2x::HUGEINT) AS srx,
                   sum(r2y::HUGEINT) AS sry,
                   sum(r2x::HUGEINT * r2y) AS srxy,
                   sum(r2x::HUGEINT * r2x) AS srxx,
                   sum(r2y::HUGEINT * r2y) AS sryy,
                   sum(rev_c::HUGEINT) AS sx,
                   sum(n_orders::HUGEINT) AS sy,
                   sum(rev_c::HUGEINT * n_orders) AS sxy,
                   sum(rev_c::HUGEINT * rev_c) AS sxx,
                   sum(n_orders::HUGEINT * n_orders) AS syy
            FROM j
        )
        SELECT n_days,
               CASE WHEN (n_days::HUGEINT * srxx - srx * srx) > 0
                     AND (n_days::HUGEINT * sryy - sry * sry) > 0
                    THEN round((n_days::HUGEINT * srxy - srx * sry)::DOUBLE
                         / sqrt((n_days::HUGEINT * srxx - srx * srx)::DOUBLE)
                         / sqrt((n_days::HUGEINT * sryy - sry * sry)::DOUBLE),
                         6)
               END AS spearman_rho,
               CASE WHEN (n_days::HUGEINT * sxx - sx * sx) > 0
                     AND (n_days::HUGEINT * syy - sy * sy) > 0
                    THEN round((n_days::HUGEINT * sxy - sx * sy)::DOUBLE
                         / sqrt((n_days::HUGEINT * sxx - sx * sx)::DOUBLE)
                         / sqrt((n_days::HUGEINT * syy - sy * sy)::DOUBLE),
                         6)
               END AS pearson_r
        FROM st
    """,
    doc="""Spearman rank correlation between the daily-revenue and
    daily-order-count series, with exact average-tie midranks, next to
    the Pearson r on the raw values — when the two diverge the
    relationship is nonlinear or outlier-driven (the standard robust
    check before trusting a linear KPI model).  Determinism: midranks
    are exact integers via the 2×midrank identity
    (2·|values below| + |ties| + 1), built from a per-distinct-value
    count frame, so no floating rank ever exists; Spearman is Pearson
    on those integer ranks (affine-invariant, so the ×2 cancels); BOTH
    correlations are computed from EXACT integer sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy² in decimal(38)/HUGEINT) through one
    fixed-order double expression, so no decimal-boundary flip can
    appear at any scale, and a zero-variance (constant) series yields
    NULL in both engines instead of an ANSI divide-by-zero (round-7
    guard).  Scale shape:
    the fact table collapses to the
    calendar-bounded daily frame first (≤ |days| rows at ANY data
    scale); the rank computation is a non-equi self-join of the
    distinct-VALUE frame, also calendar-bounded, declared in the plan
    sweep's bounded nested-loop allowlist; then two broadcast
    equi-joins back and one 1-row aggregate.""",
)
def spearman_daily_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"),
        F.count("*").alias("n_orders"),
    )

    def midranks(col: str) -> DataFrame:
        g = daily.groupBy(F.col(col).alias("v")).agg(F.count("*").alias("c"))
        a, b = g.alias("a"), g.alias("b")
        return (
            a.join(b, F.col("b.v") < F.col("a.v"), "left")
            .groupBy(F.col("a.v").alias("v"))
            .agg(
                (
                    2 * F.coalesce(F.sum("b.c"), F.lit(0))
                    + F.first("a.c")
                    + 1
                ).alias("r2")
            )
        )

    rx = midranks("rev_c").withColumnRenamed("r2", "r2x")
    ry = midranks("n_orders").withColumnRenamed("r2", "r2y")
    j = daily.join(
        F.broadcast(rx), daily.rev_c == rx.v
    ).join(F.broadcast(ry), daily.n_orders == ry.v)
    # Pearson over ~1e9-magnitude cent values would be one-ulp fragile
    # through the builtin ``corr`` (partial-aggregation order varies),
    # so BOTH correlations are computed from EXACT integer sufficient
    # statistics — decimal(38,0) sums here, HUGEINT in the oracle —
    # folded through ONE fixed-order double expression, the
    # welch_t/anova pattern.  Spearman's inputs are the small integer
    # midranks, so its sufficient statistics are exact too (and the
    # affine ×2 in the midrank identity cancels in the correlation).
    xd = F.col("rev_c").cast("decimal(19,0)")
    yd = F.col("n_orders").cast("decimal(19,0)")
    rxd = F.col("r2x").cast("decimal(19,0)")
    ryd = F.col("r2y").cast("decimal(19,0)")
    st = j.agg(
        F.count("*").alias("n_days"),
        F.sum(rxd).alias("srx"),
        F.sum(ryd).alias("sry"),
        F.sum(rxd * ryd).alias("srxy"),
        F.sum(rxd * rxd).alias("srxx"),
        F.sum(ryd * ryd).alias("sryy"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    n = F.col("n_days").cast("decimal(38,0)")

    def corr_guarded(sxy: str, sxx: str, syy: str, sx: str, sy: str):
        # Zero-variance guard (round-7 ADVICE): a constant series makes
        # a cross-moment exactly zero (exact integers, so the comparison
        # is engine-independent) and the division would be an
        # engine-dependent inf/NaN/divide-by-zero (ANSI mode raises) —
        # emit NULL, mirrored by the oracle's CASE WHEN, matching the
        # lang_id_agreement_ari ARI-denominator pattern.
        cxy = (n * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
        cxx = (n * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double")
        cyy = (n * F.col(syy) - F.col(sy) * F.col(sy)).cast("double")
        return F.when(
            (cxx > 0) & (cyy > 0),
            F.round(cxy / F.sqrt(cxx) / F.sqrt(cyy), 6),
        )

    return st.select(
        "n_days",
        corr_guarded("srxy", "srxx", "sryy", "srx", "sry").alias("spearman_rho"),
        corr_guarded("sxy", "sxx", "syy", "sx", "sy").alias("pearson_r"),
    )


# --- pair-counting agreement (Rand / ARI) ----------------------------------


@register(
    "lang_id_agreement_ari",
    oracle=f"""
        WITH pred AS (
            SELECT lang AS true_lang,
                   CASE WHEN len(list_filter(string_split(text, ' '),
                            t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                            / len(string_split(text, ' ')) > 0.05
                        THEN 'en' ELSE 'und' END AS lang_guess
            FROM documents
        ), cells AS (
            SELECT true_lang, lang_guess, count(*)::BIGINT AS nij
            FROM pred GROUP BY true_lang, lang_guess
        ), mt AS (
            SELECT (sum((nij * (nij - 1)) // 2))::BIGINT AS matched,
                   (sum(nij))::BIGINT AS n_docs
            FROM cells
        ), ta AS (
            SELECT (sum((ai * (ai - 1)) // 2))::BIGINT AS true_pairs
            FROM (SELECT (sum(nij))::BIGINT AS ai FROM cells
                  GROUP BY true_lang)
        ), tb AS (
            SELECT (sum((bj * (bj - 1)) // 2))::BIGINT AS pred_pairs
            FROM (SELECT (sum(nij))::BIGINT AS bj FROM cells
                  GROUP BY lang_guess)
        ), z AS (
            SELECT n_docs, matched, true_pairs, pred_pairs,
                   ((n_docs * (n_docs - 1)) // 2) AS tot
            FROM mt, ta, tb
        )
        SELECT n_docs, matched AS matched_pairs, true_pairs, pred_pairs,
               CASE WHEN pred_pairs > 0
                    THEN ((matched * 1000000) // pred_pairs)
               END AS precision_micros,
               CASE WHEN true_pairs > 0
                    THEN ((matched * 1000000) // true_pairs)
               END AS recall_micros,
               CASE WHEN true_pairs + pred_pairs > 0
                    THEN ((2 * matched * 1000000)
                          // (true_pairs + pred_pairs))
               END AS f1_micros,
               CASE WHEN tot > 0
                    THEN (((matched + tot - true_pairs - pred_pairs
                            + matched) * 1000000) // tot)
               END AS rand_index_micros,
               CASE WHEN tot > 0
                     AND ((true_pairs + pred_pairs) / 2.0
                          - true_pairs::DOUBLE * pred_pairs / tot) > 0
                    THEN round((matched
                                - true_pairs::DOUBLE * pred_pairs / tot)
                               / ((true_pairs + pred_pairs) / 2.0
                                  - true_pairs::DOUBLE * pred_pairs / tot),
                               6)
               END AS ari
        FROM z
    """,
    doc="""Pair-counting agreement between the labeled languages and
    the cheap stopword-density detector: pairwise precision / recall /
    F1 (a predicted same-language pair vs a true same-language pair),
    the Rand index, and the chance-corrected Adjusted Rand Index
    (Hubert & Arabie '85) — the scalar summary lang_id_confusion's
    matrix cannot give, and the standard way to score ANY partition
    against labels (dedup clusters, blocking keys, topic buckets)
    without enumerating pairs.  Determinism: everything reduces to
    exact integer pair counts n·(n−1)/2 over the contingency cells;
    only the final ARI ratio is a fixed-order double expression.
    Scale shape: one grouped count to the |langs|·|guesses| cell frame,
    then three 1-row aggregates combined by broadcast (declared
    bounded nested-loop) — no pair is ever materialized, so the audit
    costs one scan at any corpus size (pair counts exceed int64 past
    ~3e9 docs per label; the decimal(38) variant is the same plan).""",
)
def lang_id_agreement_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import stopword_ratio

    docs = load_table(spark, "documents", sf_dir)
    pred = docs.select(
        F.col("lang").alias("true_lang"),
        F.when(stopword_ratio("text") > 0.05, F.lit("en"))
        .otherwise(F.lit("und"))
        .alias("lang_guess"),
    )
    cells = pred.groupBy("true_lang", "lang_guess").agg(
        F.count("*").alias("nij")
    )

    def pairs(c: Column) -> Column:
        return _idiv(c * (c - 1), F.lit(2))

    mt = cells.agg(
        F.sum(pairs(F.col("nij"))).alias("matched"),
        F.sum("nij").alias("n_docs"),
    )
    ta = (
        cells.groupBy("true_lang")
        .agg(F.sum("nij").alias("ai"))
        .agg(F.sum(pairs(F.col("ai"))).alias("true_pairs"))
    )
    tb = (
        cells.groupBy("lang_guess")
        .agg(F.sum("nij").alias("bj"))
        .agg(F.sum(pairs(F.col("bj"))).alias("pred_pairs"))
    )
    z = (
        mt.crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .withColumn("tot", _idiv(F.col("n_docs") * (F.col("n_docs") - 1), F.lit(2)))
    )
    d = F.col
    exp_idx = d("true_pairs").cast("double") * d("pred_pairs") / d("tot")
    ari_den = (d("true_pairs") + d("pred_pairs")) / F.lit(2.0) - exp_idx
    # Degenerate-partition guards (mirrored by the oracle CASEs): a
    # single-cluster or single-doc input zeroes pred_pairs /
    # true_pairs / tot / the ARI denominator — report NULL cleanly
    # rather than an engine-dependent divide-by-zero.
    return z.select(
        "n_docs",
        d("matched").alias("matched_pairs"),
        "true_pairs",
        "pred_pairs",
        F.when(
            d("pred_pairs") > 0,
            _idiv(d("matched") * 1_000_000, d("pred_pairs")),
        ).alias("precision_micros"),
        F.when(
            d("true_pairs") > 0,
            _idiv(d("matched") * 1_000_000, d("true_pairs")),
        ).alias("recall_micros"),
        F.when(
            d("true_pairs") + d("pred_pairs") > 0,
            _idiv(
                2 * d("matched") * 1_000_000,
                d("true_pairs") + d("pred_pairs"),
            ),
        ).alias("f1_micros"),
        F.when(
            d("tot") > 0,
            _idiv(
                (d("matched") + d("tot") - d("true_pairs") - d("pred_pairs")
                 + d("matched"))
                * 1_000_000,
                d("tot"),
            ),
        ).alias("rand_index_micros"),
        F.when(
            (d("tot") > 0) & (ari_den > 0),
            F.round((d("matched") - exp_idx) / ari_den, 6),
        ).alias("ari"),
    )


# --- Kruskal–Wallis --------------------------------------------------------

_KW_BUCKETS = 32
# chi².95 with k−1 = 4 degrees of freedom.
_KW_CRIT = 9.487729


def _kw_oracle() -> str:
    pivots = ",\n                ".join(
        f"max(CASE WHEN grp = '{p}' THEN {c} END) AS {c}{i}"
        for i, p in enumerate(_PRIORITIES, 1)
        for c in ("r2j", "nj")
    )
    s_term = " + ".join(
        f"(r2j{i}::DOUBLE * r2j{i}) / (4 * nj{i})" for i in range(1, 6)
    )
    mean_cols = ", ".join(
        f"round((r2j{i}::DOUBLE / 2) / nj{i}, 4) AS mean_rank_{s}"
        for i, s in enumerate(_PRIO_SHORT, 1)
    )
    return f"""
        WITH x AS (
            SELECT o_orderpriority AS grp,
                   CAST(round(o_totalprice) AS BIGINT) AS xd
            FROM orders
        ), vals AS (
            SELECT xd, count(*)::BIGINT AS c FROM x GROUP BY xd
        ), ranks AS (
            SELECT xd,
                   (2 * (sum(c) OVER (ORDER BY xd
                                      ROWS UNBOUNDED PRECEDING) - c)
                    + c + 1)::BIGINT AS r2
            FROM vals
        ), gv AS (
            SELECT xd, grp, count(*)::BIGINT AS cnt
            FROM x GROUP BY xd, grp
        ), gstats AS (
            SELECT gv.grp, (sum(gv.cnt * ranks.r2))::BIGINT AS r2j,
                   (sum(gv.cnt))::BIGINT AS nj
            FROM gv JOIN ranks ON gv.xd = ranks.xd GROUP BY gv.grp
        ), ties AS (
            SELECT (sum(c * c * c - c))::BIGINT AS tie,
                   (sum(c))::BIGINT AS n
            FROM vals
        ), w AS (
            SELECT {pivots}
            FROM gstats
        ), e AS (
            SELECT *, ties.n AS n_total, ties.tie AS tie,
                   ({s_term}) AS s_term
            FROM w, ties
        ), h AS (
            SELECT n_total,
                   ((12.0 / (n_total::DOUBLE * (n_total + 1))) * s_term
                    - 3.0 * (n_total + 1))
                   / (1 - tie::DOUBLE
                          / (n_total::DOUBLE * n_total * n_total - n_total))
                       AS h_stat,
                   {mean_cols}
            FROM e
        )
        SELECT n_total, round(h_stat, 6) AS h_stat, 4::BIGINT AS df,
               (h_stat > {_KW_CRIT}) AS reject_95,
               {", ".join(f"mean_rank_{s}" for s in _PRIO_SHORT)}
        FROM h
    """


@register(
    "kruskal_wallis_priority_spend",
    oracle=_kw_oracle(),
    doc=f"""Kruskal–Wallis H test across the five order-priority groups
    on dollar-rounded spend — the rank-based (outlier-proof) twin of
    anova_f_priority_spend, with the tie correction 1 − Σ(t³−t)/(N³−N)
    and per-group mean ranks.  Determinism: tie-averaged midranks are
    exact integers (2·midrank = 2·|below| + |ties| + 1), group rank
    sums and the tie term are exact int64, and H is one fixed-order
    double expression on the 5-group pivot row.  Scale shape — the
    engine story: global midranks over the FULL fact table run
    hierarchically (the hierarchical_row_number pattern): distinct
    values range-bucket into {_KW_BUCKETS} equi-width buckets from a
    2-scalar driver probe, the cumulative count runs per bucket (a
    PARTITIONED window), and only {_KW_BUCKETS} bucket subtotals join
    back as prefix offsets (bounded nested loop, declared) — no
    unpartitioned window, no O(d²) rank join, at any data scale.""",
)
def kruskal_wallis_priority_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    x = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.round("o_totalprice").cast("long").alias("xd"),
    )
    # Pinned distinct-value frame (change-8 waist): the min/max probe,
    # the in-bucket window, both prefix-join sides and the tie
    # aggregate all read it — without the cut each re-derived the
    # grouped fact scan.  Eager: the probe collect follows immediately.
    vals = x.groupBy("xd").agg(F.count("*").alias("c")).localCheckpoint(
        eager=True
    )
    lo, hi = probe_min_max(
        vals, "xd", query="kruskal_wallis_priority_spend", sf_dir=sf_dir
    )
    width = max((hi - lo) / _KW_BUCKETS, 1e-9)
    bucket = F.least(
        F.lit(_KW_BUCKETS - 1),
        F.floor((F.col("xd") - F.lit(float(lo))) / F.lit(width)),
    ).alias("bucket")
    vb = vals.select("xd", "c", bucket)
    wnd = W.partitionBy("bucket").orderBy("xd").rowsBetween(
        W.unboundedPreceding, 0
    )
    within = vb.select(
        "xd", "c", "bucket", (F.sum("c").over(wnd) - F.col("c")).alias("less_in")
    )
    btot = vb.groupBy("bucket").agg(F.sum("c").alias("bc"))
    a, b = btot.alias("a"), btot.alias("b")
    prefix = (
        a.join(b, F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b.bc"), F.lit(0)).alias("pb"))
    )
    ranks = within.join(F.broadcast(prefix), "bucket").select(
        "xd",
        (2 * (F.col("pb") + F.col("less_in")) + F.col("c") + 1).alias("r2"),
    )
    gv = x.groupBy("xd", "grp").agg(F.count("*").alias("cnt"))
    gstats = (
        gv.join(ranks, "xd")
        .groupBy("grp")
        .agg(
            F.sum(F.col("cnt") * F.col("r2")).alias("r2j"),
            F.sum("cnt").alias("nj"),
        )
    )
    ties = vals.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tie"),
        F.sum("c").alias("n"),
    )
    w = gstats.agg(
        *[
            F.max(F.when(F.col("grp") == p, F.col(c))).alias(f"{c}{i}")
            for i, p in enumerate(_PRIORITIES, 1)
            for c in ("r2j", "nj")
        ]
    ).crossJoin(F.broadcast(ties))
    d = F.col
    s_term = (d("r2j1").cast("double") * d("r2j1")) / (4 * d("nj1"))
    for i in range(2, 6):
        s_term = s_term + (d(f"r2j{i}").cast("double") * d(f"r2j{i}")) / (
            4 * d(f"nj{i}")
        )
    n = d("n")
    h_stat = (
        (F.lit(12.0) / (n.cast("double") * (n + 1))) * s_term
        - F.lit(3.0) * (n + 1)
    ) / (
        1 - d("tie").cast("double") / (n.cast("double") * n * n - n)
    )
    return w.select(
        n.alias("n_total"),
        F.round(h_stat, 6).alias("h_stat"),
        F.lit(4).cast("long").alias("df"),
        (h_stat > _KW_CRIT).alias("reject_95"),
        *[
            F.round(
                (d(f"r2j{i}").cast("double") / 2) / d(f"nj{i}"), 4
            ).alias(f"mean_rank_{s_}")
            for i, s_ in enumerate(_PRIO_SHORT, 1)
        ],
    )


# --- isotonic calibration (PAV via minimax) ---------------------------------

_PAV_BANDS = 10


@register(
    "pav_calibration_bins",
    oracle=f"""
        WITH x AS (
            SELECT CAST(round(o_totalprice) AS BIGINT) AS xd,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
            FROM orders
        ), mm AS (
            SELECT min(xd)::BIGINT AS lo,
                   greatest((max(xd) - min(xd))::DOUBLE / {_PAV_BANDS},
                            1e-9) AS w
            FROM x
        ), banded AS (
            SELECT least({_PAV_BANDS - 1},
                         floor((x.xd - mm.lo) / mm.w))::BIGINT AS band,
                   x.y
            FROM x, mm
        ), bands AS (
            SELECT band, count(*)::BIGINT AS n, (sum(y))::BIGINT AS pos
            FROM banded GROUP BY band
        ), pre AS (
            SELECT a.band, any_value(a.n) AS n, any_value(a.pos) AS pos,
                   coalesce(sum(b.n), 0)::BIGINT AS pre_n,
                   coalesce(sum(b.pos), 0)::BIGINT AS pre_pos
            FROM bands a LEFT JOIN bands b ON b.band < a.band
            GROUP BY a.band
        ), iv AS (
            SELECT j.band AS j, k.band AS k,
                   ((k.pre_pos + k.pos - j.pre_pos)::DOUBLE
                    / (k.pre_n + k.n - j.pre_n)) AS avg_jk
            FROM pre j JOIN pre k ON j.band <= k.band
        ), fit AS (
            SELECT band, max(mn) AS fitted
            FROM (
                SELECT p.band, iv.j, min(iv.avg_jk) AS mn
                FROM pre p JOIN iv
                  ON iv.j <= p.band AND iv.k >= p.band
                GROUP BY p.band, iv.j
            )
            GROUP BY band
        )
        SELECT pre.band, pre.n,
               ((pre.pos * 1000000) // pre.n) AS rate_micros,
               round(1000000 * fit.fitted)::BIGINT AS iso_micros
        FROM pre JOIN fit ON pre.band = fit.band
        ORDER BY pre.band
    """,
    doc=f"""Exact isotonic calibration of P(order is finalized) on
    {_PAV_BANDS} equal-width spend bands: the pool-adjacent-violators
    fit computed by the minimax identity f(i) = max_{{j≤i}} min_{{k≥i}}
    mean(y over bands j..k) — no sequential pooling loop, so the whole
    fit is three bounded joins over the {_PAV_BANDS}-row band frame
    (prefix sums → all {_PAV_BANDS * (_PAV_BANDS + 1) // 2} interval
    means → per-band minimax).  Output: raw vs isotonic rate per band
    (the isotonic column is monotone by construction — the reliability
    curve a score consumer is allowed to invert).  Determinism: band
    edges from exact integer min/max through one shared double
    expression; interval means are exact-int ratios; comparisons
    happen on identical IEEE doubles.  Scale shape: one banded count
    over the fact table; everything after is O(bands³) on a
    config-bounded frame (declared bounded nested loops).""",
)
def pav_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    x = orders.select(
        F.round("o_totalprice").cast("long").alias("xd"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    mm = x.agg(
        F.min("xd").alias("lo"),
        F.greatest(
            (F.max("xd") - F.min("xd")).cast("double") / _PAV_BANDS,
            F.lit(1e-9),
        ).alias("w"),
    )
    banded = x.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.lit(_PAV_BANDS - 1),
            F.floor((F.col("xd") - F.col("lo")) / F.col("w")),
        )
        .cast("long")
        .alias("band"),
        "y",
    )
    # Pinned ≤_PAV_BANDS-row band tally (change-8 waist): it feeds both
    # sides of the prefix self-join, and `pre` in turn feeds the
    # interval frame twice, the band list and the final join — without
    # the cut every reference re-derived the banded corpus scan (12
    # effective scans in the before plan).
    bands = banded.groupBy("band").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    ).localCheckpoint(eager=True)
    a, b = bands.alias("a"), bands.alias("b")
    pre = (
        a.join(F.broadcast(b), F.col("b.band") < F.col("a.band"), "left")
        .groupBy(F.col("a.band").alias("band"))
        .agg(
            F.first("a.n").alias("n"),
            F.first("a.pos").alias("pos"),
            F.coalesce(F.sum("b.n"), F.lit(0)).alias("pre_n"),
            F.coalesce(F.sum("b.pos"), F.lit(0)).alias("pre_pos"),
        )
    )
    j, k = pre.alias("j"), pre.alias("k")
    iv = j.join(F.broadcast(k), F.col("j.band") <= F.col("k.band")).select(
        F.col("j.band").alias("ivj"),
        F.col("k.band").alias("ivk"),
        (
            (F.col("k.pre_pos") + F.col("k.pos") - F.col("j.pre_pos")).cast(
                "double"
            )
            / (F.col("k.pre_n") + F.col("k.n") - F.col("j.pre_n"))
        ).alias("avg_jk"),
    )
    p = pre.select(F.col("band").alias("pband"))
    fit = (
        p.join(
            F.broadcast(iv),
            (F.col("ivj") <= F.col("pband")) & (F.col("ivk") >= F.col("pband")),
        )
        .groupBy("pband", "ivj")
        .agg(F.min("avg_jk").alias("mn"))
        .groupBy("pband")
        .agg(F.max("mn").alias("fitted"))
    )
    return (
        pre.join(fit, pre.band == fit.pband)
        .select(
            "band",
            "n",
            _idiv(F.col("pos") * 1_000_000, F.col("n")).alias("rate_micros"),
            F.round(1_000_000 * F.col("fitted")).cast("long").alias("iso_micros"),
        )
        .orderBy("band")
    )


# --- split-conformal coverage -------------------------------------------------

_CONF_BUCKETS = 32


@register(
    "conformal_coverage_audit",
    oracle="""
        WITH m AS (
            SELECT vec_id, label, (vec_id % 3) AS part,
                   round(x * 1000)::BIGINT AS v, i::BIGINT AS i
            FROM (
                SELECT vec_id, label, unnest(embedding)::DOUBLE AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings
            )
        ), cent AS (
            SELECT label, i,
                   round((sum(v))::DOUBLE / count(*))::BIGINT AS c
            FROM m WHERE part = 0 GROUP BY label, i
        ), sc AS (
            SELECT m.vec_id, any_value(m.part) AS part,
                   (sum((m.v - cent.c) * (m.v - cent.c)))::BIGINT AS score
            FROM m JOIN cent ON m.label = cent.label AND m.i = cent.i
            WHERE m.part IN (1, 2)
            GROUP BY m.vec_id
        ), cal AS (
            SELECT score, row_number() OVER (ORDER BY score, vec_id) AS rn
            FROM sc WHERE part = 1
        ), nk AS (
            SELECT count(*)::BIGINT AS n_cal,
                   ((9 * (count(*) + 1) + 9) // 10)::BIGINT AS k
            FROM cal
        ), qh AS (
            SELECT cal.score AS qhat FROM cal, nk WHERE cal.rn = nk.k
        ), cov AS (
            SELECT count(*)::BIGINT AS n_test,
                   (sum(CASE WHEN sc.score <= qh.qhat THEN 1 ELSE 0 END))
                       ::BIGINT AS covered
            FROM sc, qh WHERE sc.part = 2
        )
        SELECT nk.n_cal, nk.k, qh.qhat, cov.n_test, cov.covered,
               ((cov.covered * 1000000) // cov.n_test) AS coverage_micros,
               900000::BIGINT AS target_micros
        FROM nk, qh, cov
    """,
    doc=f"""Split-conformal prediction audit at 90% (Vovk's
    distribution-free guarantee): class centroids fit on the vec_id%3=0
    third, nonconformity scores are exact integer squared distances to
    the own-class centroid, q̂ is the ⌈(n+1)·0.9⌉-th smallest
    calibration score (%3=1), and the empirical coverage of
    {{score ≤ q̂}} on the untouched test third (%3=2) is reported
    against the 900000-micro target — the check that certifies "the
    90% set really covers ~90%" before anyone ships thresholded
    predictions.  Determinism: centroids round to exact milli-ints,
    scores are exact int64, k is integer arithmetic, coverage is a
    floor-micros ratio.  Scale shape — the engine story: the k-th
    order statistic runs hierarchically on the Spark side
    ({_CONF_BUCKETS} range buckets from a 2-scalar probe, bounded
    prefix join locates the k-th bucket, ONE partitioned in-bucket
    rank window reads it out) — no unpartitioned window at any scale;
    the oracle's global row_number states the same semantics.""",
)
def conformal_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    m = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 3).alias("part"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda e: F.round(e.cast("double") * 1000).cast("long"),
            )
        ).alias("pos", "v"),
    ).select("vec_id", "label", "part", (F.col("pos") + 1).alias("i"), "v")
    cent = (
        m.where(F.col("part") == 0)
        .groupBy("label", "i")
        .agg(
            F.round(F.sum("v").cast("double") / F.count("*"))
            .cast("long")
            .alias("c")
        )
    )
    # Pinned per-vector score frame (change-8 waist; 3 slim columns,
    # one row per calibration/test vector): the calibration branch
    # reads it three ways (count/k probe, range probe, in-bucket rank)
    # and the test branch once more — without the cut each reference
    # re-derived the dimension explode + centroid join + per-vector
    # aggregate (10 effective scans in the before plan).
    sc = (
        m.where(F.col("part").isin(1, 2))
        .join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id")
        .agg(
            F.first("part").alias("part"),
            F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias(
                "score"
            ),
        )
        .localCheckpoint(eager=True)
    )
    cal = sc.where(F.col("part") == 1).select("vec_id", "score")
    nk = cal.agg(
        F.count("*").alias("n_cal"),
        _idiv(9 * (F.count("*") + 1) + 9, F.lit(10)).alias("k"),
    )
    # Hierarchical k-th order statistic: bucket by range, prefix-count,
    # rank only inside the bucket that contains rank k.
    lo, hi = probe_min_max(
        cal, "score", query="conformal_coverage_audit", sf_dir=sf_dir
    )
    width = max((hi - lo) / _CONF_BUCKETS, 1e-9)
    bucket = F.least(
        F.lit(_CONF_BUCKETS - 1),
        F.floor((F.col("score") - F.lit(float(lo))) / F.lit(width)),
    ).alias("bucket")
    cb = cal.select("vec_id", "score", bucket)
    btot = cb.groupBy("bucket").agg(F.count("*").alias("bc"))
    a, b = btot.alias("a"), btot.alias("b")
    prefix = (
        a.join(b, F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(
            F.first("a.bc").alias("bc"),
            F.coalesce(F.sum("b.bc"), F.lit(0)).alias("pb"),
        )
    )
    target_bucket = (
        prefix.crossJoin(F.broadcast(nk))
        .where((F.col("pb") < F.col("k")) & (F.col("pb") + F.col("bc") >= F.col("k")))
        .select("bucket", "pb", "k", "n_cal")
    )
    wnd = W.partitionBy("bucket").orderBy("score", "vec_id")
    qh = (
        cb.join(F.broadcast(target_bucket), "bucket")
        .withColumn("rn", F.row_number().over(wnd))
        .where(F.col("pb") + F.col("rn") == F.col("k"))
        .select("n_cal", "k", F.col("score").alias("qhat"))
    )
    test = sc.where(F.col("part") == 2)
    cov = test.crossJoin(F.broadcast(qh)).agg(
        F.first("n_cal").alias("n_cal"),
        F.first("k").alias("k"),
        F.first("qhat").alias("qhat"),
        F.count("*").alias("n_test"),
        F.sum(
            F.when(F.col("score") <= F.col("qhat"), 1).otherwise(0)
        ).alias("covered"),
    )
    return cov.select(
        "n_cal",
        "k",
        "qhat",
        "n_test",
        "covered",
        _idiv(F.col("covered") * 1_000_000, F.col("n_test")).alias(
            "coverage_micros"
        ),
        F.lit(900_000).cast("long").alias("target_micros"),
    )


# --- decision stump -----------------------------------------------------------

_STUMP_CUTS = 9


@register(
    "decision_stump_split",
    oracle=f"""
        WITH x AS (
            SELECT n_chars::BIGINT AS xv,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ), mm AS (
            SELECT min(xv)::BIGINT AS lo,
                   greatest((max(xv) - min(xv))::DOUBLE / {_STUMP_CUTS + 1},
                            1e-9) AS w
            FROM x
        ), cuts AS (
            SELECT t::BIGINT AS cut_no,
                   (mm.lo + round(t * mm.w))::BIGINT AS threshold
            FROM (SELECT unnest(generate_series(1, {_STUMP_CUTS})) AS t), mm
        ), tot AS (
            SELECT count(*)::BIGINT AS n, (sum(y))::BIGINT AS pos FROM x
        ), split AS (
            SELECT c.cut_no, any_value(c.threshold) AS threshold,
                   (sum(CASE WHEN x.xv <= c.threshold THEN 1 ELSE 0 END))
                       ::BIGINT AS n_left,
                   (sum(CASE WHEN x.xv <= c.threshold THEN x.y ELSE 0 END))
                       ::BIGINT AS pos_left
            FROM cuts c CROSS JOIN x
            GROUP BY c.cut_no
        ), g AS (
            SELECT s.cut_no, s.threshold, s.n_left,
                   (tot.n - s.n_left) AS n_right,
                   (1 - (tot.pos::DOUBLE / tot.n) * (tot.pos::DOUBLE / tot.n)
                      - (1 - tot.pos::DOUBLE / tot.n)
                        * (1 - tot.pos::DOUBLE / tot.n))
                   - CASE WHEN s.n_left = 0 OR s.n_left = tot.n THEN
                       (1 - (tot.pos::DOUBLE / tot.n)
                            * (tot.pos::DOUBLE / tot.n)
                          - (1 - tot.pos::DOUBLE / tot.n)
                            * (1 - tot.pos::DOUBLE / tot.n))
                     ELSE
                       (s.n_left::DOUBLE / tot.n)
                       * (1 - (s.pos_left::DOUBLE / s.n_left)
                              * (s.pos_left::DOUBLE / s.n_left)
                            - (1 - s.pos_left::DOUBLE / s.n_left)
                              * (1 - s.pos_left::DOUBLE / s.n_left))
                       + ((tot.n - s.n_left)::DOUBLE / tot.n)
                       * (1 - ((tot.pos - s.pos_left)::DOUBLE
                               / (tot.n - s.n_left))
                              * ((tot.pos - s.pos_left)::DOUBLE
                                 / (tot.n - s.n_left))
                            - (1 - (tot.pos - s.pos_left)::DOUBLE
                                   / (tot.n - s.n_left))
                              * (1 - (tot.pos - s.pos_left)::DOUBLE
                                     / (tot.n - s.n_left)))
                     END AS gini_drop
            FROM split s, tot
        ), best AS (SELECT max(gini_drop) AS mx FROM g)
        SELECT g.cut_no, g.threshold, g.n_left, g.n_right,
               round(1000000 * g.gini_drop)::BIGINT AS gini_drop_micros,
               (g.gini_drop = best.mx) AS is_best
        FROM g, best
        ORDER BY g.cut_no
    """,
    doc=f"""Decision-stump feature screen: Gini impurity drop of
    splitting "is this document English?" on n_chars at {_STUMP_CUTS}
    equal-width thresholds, with the argmax flagged — the CART
    one-feature step that ranks candidate quality features before any
    model training (a near-zero best drop says the feature is useless;
    compare against mutual_information_lang_source's information view).
    Determinism: thresholds derive from exact integer min/max through
    one shared expression; left/right counts are exact ints; each Gini
    drop is one fixed-order double expression (empty-side splits fall
    back to zero drop via the parent impurity).  Scale shape: the
    {_STUMP_CUTS}-row threshold frame broadcasts against the fact scan
    (one pass computes ALL split tallies — the classic single-scan
    histogram trick), then everything is a {_STUMP_CUTS}-row frame.""",
)
def decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    x = docs.select(
        F.col("n_chars").cast("long").alias("xv"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    # ONE probe scan for min/max AND the totals (round-10, session 3:
    # the old shape ran separate mm and tot aggregates over the same
    # projection — two scans where one suffices; the expressions are
    # unchanged, so every derived value is identical).
    stats = x.agg(
        F.min("xv").alias("lo"),
        F.greatest(
            (F.max("xv") - F.min("xv")).cast("double") / (_STUMP_CUTS + 1),
            F.lit(1e-9),
        ).alias("w"),
        F.count("*").alias("n"),
        F.sum("y").alias("pos"),
    )
    cuts = (
        spark.range(1, _STUMP_CUTS + 1)
        .select(F.col("id").alias("cut_no"))
        .crossJoin(F.broadcast(stats))
        .select(
            "cut_no",
            (F.col("lo") + F.round(F.col("cut_no") * F.col("w")))
            .cast("long")
            .alias("threshold"),
            "n",
            "pos",
        )
    )
    # Pinned ≤_STUMP_CUTS-row tally (change-8 waist): the Gini frame
    # feeds both the argmax and the final select, and without the cut
    # each re-derived the broadcast-tally corpus scan.  The totals ride
    # the cuts frame, so no separate tot crossJoin re-scans the corpus.
    split = (
        F.broadcast(cuts)
        .crossJoin(x)
        .groupBy("cut_no")
        .agg(
            F.first("threshold").alias("threshold"),
            F.first("n").alias("n"),
            F.first("pos").alias("pos"),
            F.sum(F.when(F.col("xv") <= F.col("threshold"), 1).otherwise(0)).alias(
                "n_left"
            ),
            F.sum(
                F.when(F.col("xv") <= F.col("threshold"), F.col("y")).otherwise(0)
            ).alias("pos_left"),
        )
        .localCheckpoint(eager=True)
    )
    g0 = split
    d = F.col
    p = d("pos").cast("double") / d("n")
    parent = 1 - p * p - (1 - p) * (1 - p)
    pl = d("pos_left").cast("double") / d("n_left")
    gl = 1 - pl * pl - (1 - pl) * (1 - pl)
    nr = d("n") - d("n_left")
    pr = (d("pos") - d("pos_left")).cast("double") / nr
    gr = 1 - pr * pr - (1 - pr) * (1 - pr)
    child = (d("n_left").cast("double") / d("n")) * gl + (
        nr.cast("double") / d("n")
    ) * gr
    drop = F.when(
        (d("n_left") == 0) | (d("n_left") == d("n")), parent - parent
    ).otherwise(parent - child)
    g = g0.select(
        "cut_no",
        "threshold",
        "n_left",
        nr.alias("n_right"),
        drop.alias("gini_drop"),
    )
    best = g.agg(F.max("gini_drop").alias("mx"))
    return (
        g.crossJoin(F.broadcast(best))
        .select(
            "cut_no",
            "threshold",
            "n_left",
            "n_right",
            F.round(1_000_000 * F.col("gini_drop"))
            .cast("long")
            .alias("gini_drop_micros"),
            (F.col("gini_drop") == F.col("mx")).alias("is_best"),
        )
        .orderBy("cut_no")
    )


# --- bandit replay -----------------------------------------------------------

_ARMS: tuple[str, ...] = ("click", "purchase", "view")  # sorted arm ids


@register(
    "bandit_replay_evaluation",
    oracle=f"""
        WITH logged AS (
            SELECT user_id, event_type AS arm,
                   CAST(round(value * 100) AS BIGINT) AS reward_c
            FROM events
            WHERE event_type IN ({", ".join(f"'{a}'" for a in _ARMS)})
        ), pol AS (
            SELECT * FROM (VALUES
                ('always_purchase'), ('hash_explore'), ('logged')
            ) p(policy)
        ), choice AS (
            SELECT l.*, p.policy,
                   CASE p.policy
                       WHEN 'always_purchase' THEN 'purchase'
                       WHEN 'hash_explore' THEN
                           CASE (({duckdb_hash32_sql("'arm:' || user_id")})
                                 % {len(_ARMS)})
                               {" ".join(f"WHEN {i} THEN '{a}'" for i, a in enumerate(_ARMS))}
                           END
                       ELSE l.arm
                   END AS chosen
            FROM logged l CROSS JOIN pol p
        )
        SELECT policy,
               (sum(CASE WHEN arm = chosen THEN 1 ELSE 0 END))::BIGINT
                   AS n_matched,
               ((sum(CASE WHEN arm = chosen THEN 1 ELSE 0 END) * 1000000)
                // count(*))::BIGINT AS match_rate_micros,
               (CASE WHEN sum(CASE WHEN arm = chosen THEN 1 ELSE 0 END) > 0
                     THEN ((sum(CASE WHEN arm = chosen THEN reward_c
                                ELSE 0 END) * 1000)
                           // sum(CASE WHEN arm = chosen THEN 1 ELSE 0 END))
                END)::BIGINT AS mean_reward_cents_milli
        FROM choice
        GROUP BY policy
        ORDER BY policy
    """,
    doc=f"""Offline policy evaluation by replay matching (Li et al.
    WSDM '11): each candidate policy keeps exactly the logged events
    whose arm equals the policy's deterministic choice and averages
    their rewards — the standard pre-A/B estimator for recommenders
    and data-selection policies.  Policies: the constant
    'always_purchase' exploit, a 'hash_explore' uniform mixer (arm =
    portable hash of user mod {len(_ARMS)}), and the 'logged' identity
    baseline (matches everything — the sanity row).  Determinism:
    rewards quantize to exact cents; matches are exact counts; means
    are floor-milli ratios; the explorer's hash is the portable md5
    family.  Scale shape: ONE scan fans out to the |policies|
    constant frame (bounded broadcast multiplier, declared), then one
    grouped aggregate — evaluating another policy adds a CASE branch,
    never a scan.""",
)
def bandit_replay_evaluation(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    logged = events.where(F.col("event_type").isin(*_ARMS)).select(
        "user_id",
        F.col("event_type").alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("reward_c"),
    )
    pol = spark.createDataFrame(
        [("always_purchase",), ("hash_explore",), ("logged",)], "policy string"
    )
    hash_arm = F.element_at(
        F.array(*[F.lit(a) for a in _ARMS]),
        (
            portable_hash32(
                F.concat(F.lit("arm:"), F.col("user_id").cast("string"))
            )
            % len(_ARMS)
            + 1
        ).cast("int"),
    )
    chosen = (
        F.when(F.col("policy") == "always_purchase", F.lit("purchase"))
        .when(F.col("policy") == "hash_explore", hash_arm)
        .otherwise(F.col("arm"))
    )
    choice = logged.crossJoin(F.broadcast(pol)).withColumn("chosen", chosen)
    matched = F.when(F.col("arm") == F.col("chosen"), 1).otherwise(0)
    return (
        choice.groupBy("policy")
        .agg(
            F.sum(matched).alias("n_matched"),
            _idiv(F.sum(matched) * 1_000_000, F.count("*")).alias(
                "match_rate_micros"
            ),
            # A policy that matches zero logged events has no defined
            # mean reward: report NULL cleanly (both engines) instead
            # of leaking an engine-dependent divide-by-zero.
            F.when(
                F.sum(matched) > 0,
                _idiv(
                    F.sum(
                        F.when(
                            F.col("arm") == F.col("chosen"), F.col("reward_c")
                        ).otherwise(0)
                    )
                    * 1000,
                    F.sum(matched),
                ),
            ).alias("mean_reward_cents_milli"),
        )
        .orderBy("policy")
    )


# --- Benjamini–Hochberg screen -------------------------------------------------

_BH_ALPHA_MICROS = 50_000  # alpha = 0.05


@register(
    "fdr_bh_screen",
    oracle=f"""
        WITH x AS (
            SELECT c.c_nationkey AS nk,
                   CAST(round(o.o_totalprice) AS BIGINT) AS xd
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ), g AS (
            SELECT nk, count(*)::BIGINT AS n, (sum(xd))::BIGINT AS s,
                   (sum(xd * xd))::BIGINT AS q
            FROM x GROUP BY nk
        ), tot AS (
            SELECT (sum(n))::BIGINT AS nn, (sum(s))::BIGINT AS ss,
                   (sum(q))::BIGINT AS qq
            FROM g
        ), z AS (
            SELECT g.nk, g.n,
                   (g.s::DOUBLE / g.n - tot.ss::DOUBLE / tot.nn)
                   / sqrt(((tot.qq::DOUBLE - tot.ss::DOUBLE * tot.ss
                            / tot.nn) / (tot.nn - 1)) / g.n) AS zv
            FROM g, tot
        ), p AS (
            SELECT nk, n, zv,
                   CASE WHEN zv * zv <= 1 THEN 1000000
                        ELSE round(1000000 / (zv * zv))::BIGINT
                   END AS p_micros
            FROM z
        ), r AS (
            SELECT a.nk, any_value(a.n) AS n, any_value(a.zv) AS zv,
                   any_value(a.p_micros) AS p_micros,
                   (1 + coalesce(sum(CASE WHEN b.p_micros < a.p_micros
                                          OR (b.p_micros = a.p_micros
                                              AND b.nk < a.nk)
                                     THEN 1 ELSE 0 END), 0))::BIGINT AS rnk,
                   (SELECT count(*) FROM p)::BIGINT AS m
            FROM p a LEFT JOIN p b ON a.nk <> b.nk
            GROUP BY a.nk
        ), cut AS (
            SELECT coalesce(max(rnk), 0)::BIGINT AS rstar
            FROM r WHERE p_micros * m <= {_BH_ALPHA_MICROS} * rnk
        )
        SELECT n.n_name AS nation, r.n AS n_orders,
               round(r.zv, 6) AS z_stat, r.p_micros AS p_cheb_micros,
               r.rnk AS p_rank,
               (({_BH_ALPHA_MICROS} * r.rnk) // r.m) AS bh_cut_micros,
               (r.rnk <= cut.rstar) AS rejected
        FROM r JOIN nation n ON r.nk = n.n_nationkey, cut
        ORDER BY nation
    """,
    doc=f"""Benjamini–Hochberg step-up FDR screen (α = 0.05) over the
    25 per-nation one-vs-all mean-spend z tests, using the
    distribution-free Chebyshev bound p = min(1, 1/z²) as the p-value
    (conservative, and free of erf in both engines) — the multiple-
    testing correction that keeps a 25-segment dashboard from crying
    wolf on {int(0.05 * 25 * 100) / 100} segments per refresh by
    chance.  Determinism: z comes from exact integer sufficient
    statistics through one fixed double expression; p quantizes to
    micros; the BH comparison p·m ≤ α_micros·rank and the step-up cut
    are PURE INTEGER arithmetic; rank ties break on the nation key.
    Scale shape: one fact-dim equi-join (customer is SF-scaled, so the
    join carries no broadcast hint — AQE broadcasts while it fits and
    shuffles on the key past that), one grouped aggregate, then
    everything lives on the |nations|-row frame (bounded rank
    self-join and 1-row cut broadcast, declared).""",
)
def fdr_bh_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    # customer grows with scale factor, so no broadcast HINT here: AQE
    # broadcasts it while it fits and falls back to a key-partitioned
    # shuffle join past that — the only join shape that survives 100 TB.
    x = orders.join(
        cust.select("c_custkey", "c_nationkey"),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nk"),
        F.round("o_totalprice").cast("long").alias("xd"),
    )
    # Materialize the |nations|-row sufficient-stats frame ONCE: every
    # downstream frame (tot, p twice via the rank self-join, m, cut,
    # the final select) re-derives from g, and without the cut the
    # fact-dim join + aggregate re-ran per reference — the before plan
    # showed 50 parquet scans with zero ReusedExchange (guide §1.2
    # step 1 / §5 localCheckpoint-to-truncate).  One scan after.
    g = x.groupBy("nk").agg(
        F.count("*").alias("n"),
        F.sum("xd").alias("s"),
        F.sum(F.col("xd") * F.col("xd")).alias("q"),
    ).localCheckpoint(eager=True)
    tot = g.agg(
        F.sum("n").alias("nn"), F.sum("s").alias("ss"), F.sum("q").alias("qq")
    )
    d = F.col
    zv = (
        d("s").cast("double") / d("n") - d("ss").cast("double") / d("nn")
    ) / F.sqrt(
        (
            (d("qq").cast("double") - d("ss").cast("double") * d("ss") / d("nn"))
            / (d("nn") - 1)
        )
        / d("n")
    )
    p = g.crossJoin(F.broadcast(tot)).select(
        "nk",
        "n",
        zv.alias("zv"),
        F.when(zv * zv <= 1, F.lit(1_000_000).cast("long"))
        .otherwise(F.round(1_000_000 / (zv * zv)).cast("long"))
        .alias("p_micros"),
    )
    m = p.agg(F.count("*").alias("m"))
    a, b = p.alias("a"), p.alias("b")
    r = (
        a.join(F.broadcast(b), F.col("a.nk") != F.col("b.nk"), "left")
        .groupBy(F.col("a.nk").alias("nk"))
        .agg(
            F.first("a.n").alias("n"),
            F.first("a.zv").alias("zv"),
            F.first("a.p_micros").alias("p_micros"),
            (
                1
                + F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("b.p_micros") < F.col("a.p_micros"))
                            | (
                                (F.col("b.p_micros") == F.col("a.p_micros"))
                                & (F.col("b.nk") < F.col("a.nk"))
                            ),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
            ).alias("rnk"),
        )
        .crossJoin(F.broadcast(m))
    )
    cut = r.where(
        F.col("p_micros") * F.col("m") <= _BH_ALPHA_MICROS * F.col("rnk")
    ).agg(F.coalesce(F.max("rnk"), F.lit(0)).alias("rstar"))
    return (
        r.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            r.nk == F.col("n_nationkey"),
        )
        .crossJoin(F.broadcast(cut))
        .select(
            F.col("n_name").alias("nation"),
            F.col("n").alias("n_orders"),
            F.round("zv", 6).alias("z_stat"),
            F.col("p_micros").alias("p_cheb_micros"),
            F.col("rnk").alias("p_rank"),
            _idiv(F.lit(_BH_ALPHA_MICROS) * F.col("rnk"), F.col("m")).alias(
                "bh_cut_micros"
            ),
            (F.col("rnk") <= F.col("rstar")).alias("rejected"),
        )
        .orderBy("nation")
    )


# --- Poisson bootstrap -----------------------------------------------------------

_PB_REPLICATES = 32
# Poisson(1) CDF thresholds at k = 0..4 (weights cap at 5) — literal
# constants embedded in BOTH plans so the inverse-CDF is identical.
_PB_CDF: tuple[float, ...] = tuple(
    sum(math.exp(-1) / math.factorial(i) for i in range(k + 1))
    for k in range(5)
)


def _pb_weight_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t!r} THEN {k}" for k, t in enumerate(_PB_CDF)
    )
    return f"(CASE {branches} ELSE 5 END)"


@register(
    "poisson_bootstrap_se",
    oracle=f"""
        WITH x AS (
            SELECT o_orderkey AS okey,
                   CAST(round(o_totalprice) AS BIGINT) AS xd
            FROM orders
        ), rep AS (
            SELECT x.okey, x.xd, b.b,
                   (({duckdb_hash32_sql("'pb:' || b.b || ':' || x.okey")})
                    ::DOUBLE / 4294967296.0) AS u
            FROM x CROSS JOIN (
                SELECT unnest(generate_series(0, {_PB_REPLICATES - 1})) AS b
            ) b
        ), w AS (
            SELECT b, xd, {_pb_weight_sql("u")} AS wt FROM rep
        ), means AS (
            SELECT b,
                   round(1000 * ((sum(wt * xd))::DOUBLE / sum(wt)))
                       ::BIGINT AS m_milli
            FROM w GROUP BY b HAVING sum(wt) > 0
        ), boot AS (
            SELECT count(*)::BIGINT AS nb,
                   (sum(m_milli))::BIGINT AS sm,
                   (sum(m_milli * m_milli))::BIGINT AS qm
            FROM means
        ), base AS (
            SELECT count(*)::BIGINT AS n, (sum(xd))::BIGINT AS s,
                   (sum(xd * xd))::BIGINT AS q
            FROM x
        )
        SELECT base.n AS n_rows, boot.nb AS n_replicates,
               round(base.s::DOUBLE / base.n, 4) AS mean_dollars,
               round(sqrt((boot.qm::DOUBLE - boot.sm::DOUBLE * boot.sm
                           / boot.nb) / (boot.nb - 1)) / 1000, 4)
                   AS se_boot_dollars,
               round(sqrt(((base.q::DOUBLE - base.s::DOUBLE * base.s
                            / base.n) / (base.n - 1)) / base.n), 4)
                   AS se_analytic_dollars
        FROM base, boot
    """,
    doc=f"""Poisson(1) bootstrap standard error of mean order value
    (Chamandy et al. '12 — the resampling method for data too large to
    index): each row draws a deterministic Poisson weight per
    replicate from the portable hash (u = h/2³², inverted through the
    literal Poisson CDF thresholds embedded in both plans, capped at
    5), {_PB_REPLICATES} replicates computed in ONE pass, and the
    spread of replicate means is reported against the analytic s/√n
    (they should agree — that agreement IS the audit).  Determinism:
    uniforms are exact dyadic ratios of exact hashes; weights are
    integer CASE branches; weighted sums are exact int64; replicate
    means quantize to milli-dollars BEFORE the cross-replicate variance
    (dollar-rounded values keep every Σx² inside int64 at any SF).
    Scale shape: a bounded ×{_PB_REPLICATES} fan-out (declared) into a
    {_PB_REPLICATES}-group aggregate with map-side partial
    aggregation — the shuffle carries {_PB_REPLICATES} partials per
    task, not rows; this is exactly how planet-scale means get error
    bars.""",
)
def poisson_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    x = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.round("o_totalprice").cast("long").alias("xd"),
    )
    # Round-10 fan-out rework (guide §1.2 step 2, §3.6; measured).  The
    # ×32 replicate fan-out was a crossJoin(broadcast(reps)) — a
    # BroadcastNestedLoopJoin whose per-row copy machinery, running on
    # the ONE partition a small parquet scan produces, dominated the
    # whole query (5.4 s isolated; the pure hash floor for the same
    # 4.8M rows is 0.33 s).  Now: fan the scan out across cores first
    # (tiny shuffle of two longs per row), then emit the replicates
    # with a codegen'd explode over a 32-element literal array — no
    # join machinery at all.  The replicate-constant "pb:<b>" prefix
    # and the row-constant ":<okey>" suffix are each built once on
    # their own side, so the hash input bytes — and every weight — are
    # bit-identical to the old 4-way concat.
    xs = ensure_parallelism(x, bytes_per_slot=1).select(
        "xd", F.concat(F.lit(":"), F.col("okey").cast("string")).alias("_sfx")
    )
    reps_arr = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("b"),
                F.lit(f"pb:{b}").alias("_pfx"),
            )
            for b in range(_PB_REPLICATES)
        ]
    )
    rep = xs.select("xd", "_sfx", F.explode(reps_arr).alias("r")).select(
        F.col("r.b").alias("b"),
        "xd",
        (
            portable_hash32(F.concat(F.col("r._pfx"), F.col("_sfx")))
            .cast("double")
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    wt = F.lit(5)
    for k in range(len(_PB_CDF) - 1, -1, -1):
        wt = F.when(F.col("u") < _PB_CDF[k], F.lit(k)).otherwise(wt)
    w = rep.select("b", "xd", wt.alias("wt"))
    means = (
        w.groupBy("b")
        .agg(
            F.sum(F.col("wt") * F.col("xd")).alias("swx"),
            F.sum("wt").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select(
            F.round(1000 * (F.col("swx").cast("double") / F.col("sw")))
            .cast("long")
            .alias("m_milli")
        )
    )
    boot = means.agg(
        F.count("*").alias("nb"),
        F.sum("m_milli").alias("sm"),
        F.sum(F.col("m_milli") * F.col("m_milli")).alias("qm"),
    )
    base = x.agg(
        F.count("*").alias("n"),
        F.sum("xd").alias("s"),
        F.sum(F.col("xd") * F.col("xd")).alias("q"),
    )
    d = F.col
    return base.crossJoin(F.broadcast(boot)).select(
        d("n").alias("n_rows"),
        d("nb").alias("n_replicates"),
        F.round(d("s").cast("double") / d("n"), 4).alias("mean_dollars"),
        F.round(
            F.sqrt(
                (d("qm").cast("double") - d("sm").cast("double") * d("sm") / d("nb"))
                / (d("nb") - 1)
            )
            / 1000,
            4,
        ).alias("se_boot_dollars"),
        F.round(
            F.sqrt(
                (
                    (d("q").cast("double") - d("s").cast("double") * d("s") / d("n"))
                    / (d("n") - 1)
                )
                / d("n")
            ),
            4,
        ).alias("se_analytic_dollars"),
    )


# --- CUPED ------------------------------------------------------------------------

_CUPED_CUTOVER = "2024-01-16"


@register(
    "cuped_adjusted_ab",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   (({duckdb_hash32_sql("'arm:' || user_id")}) % 2) AS arm,
                   (sum(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOVER}'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END))::BIGINT AS xc,
                   (sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOVER}'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END))::BIGINT AS yc
            FROM events GROUP BY user_id
        ), s AS (
            SELECT count(*)::BIGINT AS n,
                   (sum(xc))::BIGINT AS sx, (sum(yc))::BIGINT AS sy,
                   (sum(xc * xc))::BIGINT AS qx,
                   (sum(yc * yc))::BIGINT AS qy,
                   (sum(xc * yc))::BIGINT AS sxy,
                   (sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END))::BIGINT AS na,
                   (sum(CASE WHEN arm = 0 THEN yc ELSE 0 END))::BIGINT AS sya,
                   (sum(CASE WHEN arm = 0 THEN xc ELSE 0 END))::BIGINT AS sxa,
                   (sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END))::BIGINT AS nb,
                   (sum(CASE WHEN arm = 1 THEN yc ELSE 0 END))::BIGINT AS syb,
                   (sum(CASE WHEN arm = 1 THEN xc ELSE 0 END))::BIGINT AS sxb
            FROM per_user
        ), t AS (
            SELECT *,
                   (sxy::DOUBLE - sx::DOUBLE * sy / n)
                   / (qx::DOUBLE - sx::DOUBLE * sx / n) AS theta,
                   (qy::DOUBLE - sy::DOUBLE * sy / n) / (n - 1) AS var_y,
                   (qx::DOUBLE - sx::DOUBLE * sx / n) / (n - 1) AS var_x,
                   (sxy::DOUBLE - sx::DOUBLE * sy / n) / (n - 1) AS cov_xy
            FROM s
        )
        SELECT n AS n_users, na AS n_arm_a, nb AS n_arm_b,
               round(theta, 6) AS theta,
               round((syb::DOUBLE / nb - sya::DOUBLE / na) / 100, 4)
                   AS diff_raw_dollars,
               round(((syb::DOUBLE / nb - theta * (sxb::DOUBLE / nb))
                      - (sya::DOUBLE / na - theta * (sxa::DOUBLE / na)))
                     / 100, 4) AS diff_cuped_dollars,
               round(1000000 * (cov_xy * cov_xy / (var_x * var_y)))
                   ::BIGINT AS var_reduction_micros
        FROM t
    """,
    doc=f"""CUPED variance reduction (Deng et al. WSDM '13) on a
    hash-split A/B over users: Y = post-{_CUPED_CUTOVER} spend,
    covariate X = pre-period spend, θ = cov(X,Y)/var(X), adjusted
    effect = Δmean(Y − θX) — and the variance reduction actually won,
    ρ² = cov²/(var_x·var_y) (the fraction of metric variance the
    covariate explains).  The pre-period is untouched by any
    treatment, so the adjustment is unbiased — this is the standard
    trick that shrinks experiment runtimes severalfold.  Determinism:
    per-user cent totals and all cross-moments are exact int64; θ and
    every mean are fixed double expressions on the ONE pivoted
    sufficient-statistics row.  Scale shape: one user-keyed grouped
    aggregate (the arm and both periods fold into the same pass), one
    1-row reduction — the fact table is scanned exactly once at any
    scale.""",
)
def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    pre = F.when(F.col("ts") < F.lit(_CUPED_CUTOVER).cast("timestamp"), cents).otherwise(
        F.lit(0)
    )
    post = F.when(
        F.col("ts") >= F.lit(_CUPED_CUTOVER).cast("timestamp"), cents
    ).otherwise(F.lit(0))
    per_user = events.groupBy("user_id").agg(
        F.sum(pre).alias("xc"), F.sum(post).alias("yc")
    ).select(
        (
            portable_hash32(
                F.concat(F.lit("arm:"), F.col("user_id").cast("string"))
            )
            % 2
        ).alias("arm"),
        "xc",
        "yc",
    )
    is_a = F.col("arm") == 0
    is_b = F.col("arm") == 1
    s = per_user.agg(
        F.count("*").alias("n"),
        F.sum("xc").alias("sx"),
        F.sum("yc").alias("sy"),
        F.sum(F.col("xc") * F.col("xc")).alias("qx"),
        F.sum(F.col("yc") * F.col("yc")).alias("qy"),
        F.sum(F.col("xc") * F.col("yc")).alias("sxy"),
        F.sum(F.when(is_a, 1).otherwise(0)).alias("na"),
        F.sum(F.when(is_a, F.col("yc")).otherwise(0)).alias("sya"),
        F.sum(F.when(is_a, F.col("xc")).otherwise(0)).alias("sxa"),
        F.sum(F.when(is_b, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(is_b, F.col("yc")).otherwise(0)).alias("syb"),
        F.sum(F.when(is_b, F.col("xc")).otherwise(0)).alias("sxb"),
    )
    d = F.col
    theta = (d("sxy").cast("double") - d("sx").cast("double") * d("sy") / d("n")) / (
        d("qx").cast("double") - d("sx").cast("double") * d("sx") / d("n")
    )
    var_y = (d("qy").cast("double") - d("sy").cast("double") * d("sy") / d("n")) / (
        d("n") - 1
    )
    var_x = (d("qx").cast("double") - d("sx").cast("double") * d("sx") / d("n")) / (
        d("n") - 1
    )
    cov_xy = (d("sxy").cast("double") - d("sx").cast("double") * d("sy") / d("n")) / (
        d("n") - 1
    )
    return s.select(
        d("n").alias("n_users"),
        d("na").alias("n_arm_a"),
        d("nb").alias("n_arm_b"),
        F.round(theta, 6).alias("theta"),
        F.round(
            (d("syb").cast("double") / d("nb") - d("sya").cast("double") / d("na"))
            / 100,
            4,
        ).alias("diff_raw_dollars"),
        F.round(
            (
                (
                    d("syb").cast("double") / d("nb")
                    - theta * (d("sxb").cast("double") / d("nb"))
                )
                - (
                    d("sya").cast("double") / d("na")
                    - theta * (d("sxa").cast("double") / d("na"))
                )
            )
            / 100,
            4,
        ).alias("diff_cuped_dollars"),
        F.round(1_000_000 * (cov_xy * cov_xy / (var_x * var_y)))
        .cast("long")
        .alias("var_reduction_micros"),
    )
