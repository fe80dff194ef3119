"""Property-style tests for the DataSketches estimators the sketch
queries rely on (``sketch_mergeability_audit`` / ``theta_overlap_audit``
/ ``approx_distinct``).

The driver's hash gate can only see estimator quality at ONE point
(sf0.01 with the production lgK): a config regression — lgK silently
dropped to a coarser default, an estimate read from the wrong sketch, a
union that rescans instead of merging — can keep that single point green
while destroying accuracy everywhere else.  These tests sweep the sketch
parameters and corpus scales and pin three properties the single-point
audit can't:

1. **Published error bounds hold at every (param, scale) pair.**
   DataSketches HLL has relative standard error 1.04/sqrt(2^lgK); theta
   has 1/sqrt(2^lgNomEntries) once in estimation mode; KLL (k=200) has
   single-sided normalized rank error ≈1.65%, shrinking with k.  Bounds
   are asserted at 5×RSE — far above the ~1σ typical error (max observed
   2.3σ across this sweep), so the tests are stable, while a
   mis-routed-parameter bug (effective lgK≤6 → RSE≥13%) still fails.
2. **The accuracy parameter actually reaches the sketch**: at a scale
   deep in estimation mode, different lgK values must produce different
   HLL/theta estimates (they are hash-deterministic for a fixed input,
   and identical estimates across a 16× size change mean the knob is
   dead).  KLL estimates are random, so its k is checked through the
   sketch's serialized size instead.
3. **Mergeability is lossless where the algorithm guarantees it**: an
   HLL sketch is a max-per-bucket array and a theta sketch keeps the k
   smallest hashes, so the union of per-partition sketches is
   IDENTICAL (not merely close) to one sketch over the whole data —
   the property that makes per-day pre-aggregation at 100 TB exact
   w.r.t. a full rescan.  KLL merge is not identity, so it gets the
   rank-error bound instead.

All inputs are ``spark.range`` — deterministic, no fixture data needed.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

HLL_LGKS = (10, 12, 14)
THETA_LGKS = (10, 12, 14)
SCALES = (1_000, 50_000, 500_000)
SIGMA_MULT = 5.0
# DataSketches KLL published single-sided normalized rank error at the
# default k=200 is ~1.65%; error shrinks ~k^-0.93, bounded loosely here.
KLL_EPS = {200: 0.0165, 400: 0.0095, 800: 0.0055}


def _hll_rse(lgk: int) -> float:
    return 1.04 / math.sqrt(2**lgk)


def _theta_rse(lgk: int) -> float:
    return 1.0 / math.sqrt(2**lgk)


@pytest.mark.parametrize("n", SCALES)
def test_hll_and_theta_error_within_published_bounds(spark, n):
    df = spark.range(n)
    aggs = []
    for lgk in HLL_LGKS:
        aggs.append(
            F.hll_sketch_estimate(F.hll_sketch_agg("id", F.lit(lgk))).alias(
                f"h{lgk}"
            )
        )
    for lgk in THETA_LGKS:
        aggs.append(
            F.theta_sketch_estimate(
                F.expr(f"theta_sketch_agg(id, {lgk})")
            ).alias(f"t{lgk}")
        )
    row = df.agg(*aggs).first()
    for lgk in HLL_LGKS:
        bound = SIGMA_MULT * _hll_rse(lgk) * n
        assert abs(row[f"h{lgk}"] - n) <= bound, (
            f"HLL lgK={lgk} n={n}: est {row[f'h{lgk}']} off by more than "
            f"{SIGMA_MULT}x the published RSE"
        )
    for lgk in THETA_LGKS:
        bound = SIGMA_MULT * _theta_rse(lgk) * n
        assert abs(row[f"t{lgk}"] - n) <= bound, (
            f"theta lgK={lgk} n={n}: est {row[f't{lgk}']} off by more "
            f"than {SIGMA_MULT}x the published RSE"
        )


def test_accuracy_parameter_reaches_the_sketch(spark):
    # Deep in estimation mode (n >> 2^14) a 16x accuracy change MUST
    # move the estimate; equality across lgK means the parameter is
    # being dropped on the floor (e.g. always building at a default).
    n = 500_000
    row = (
        spark.range(n)
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("id", F.lit(10))).alias(
                "h10"
            ),
            F.hll_sketch_estimate(F.hll_sketch_agg("id", F.lit(14))).alias(
                "h14"
            ),
            F.theta_sketch_estimate(F.expr("theta_sketch_agg(id, 10)")).alias(
                "t10"
            ),
            F.theta_sketch_estimate(F.expr("theta_sketch_agg(id, 14)")).alias(
                "t14"
            ),
        )
        .first()
    )
    assert row["h10"] != row["h14"]
    assert row["t10"] != row["t14"]


def test_kll_rank_error_within_published_bounds_across_k(spark):
    n = 100_000
    df = spark.range(n).select(F.col("id").cast("double").alias("v"))
    aggs = []
    for k in KLL_EPS:
        for q in (0.5, 0.99):
            aggs.append(
                F.expr(
                    f"kll_sketch_get_quantile_double("
                    f"kll_sketch_agg_double(v, {k}), {q})"
                ).alias(f"k{k}_q{int(q * 100)}")
            )
    for k in (200, 800):
        aggs.append(
            F.expr(f"length(kll_sketch_agg_double(v, {k}))").alias(f"k{k}_bytes")
        )
    row = df.agg(*aggs).first()
    for k, eps in KLL_EPS.items():
        for q in (0.5, 0.99):
            est = row[f"k{k}_q{int(q * 100)}"]
            # Values are 0..n-1 uniform, so the true rank of the
            # returned value is est/n — the published contract bounds
            # |true_rank - q|, NOT the value error.
            assert abs(est / n - q) <= eps, (
                f"KLL k={k} q={q}: returned value {est} has rank error "
                f"{abs(est / n - q):.5f} > published eps {eps}"
            )
    # The k parameter must reach the sketch.  The estimates are random
    # (equal medians across k happen by chance); the retained size is not.
    assert row["k200_bytes"] != row["k800_bytes"]


def test_union_of_partition_sketches_is_identical_to_whole(spark):
    """HLL union-of-parts == whole (max-per-bucket is associative);
    theta union-of-parts == whole (k smallest hashes of a union are the
    k smallest of the per-part k-smallest sets).  This is EXACT identity
    — the property that makes per-day sketch rollups at 100 TB
    equivalent to a full rescan, and the one a broken union (rebuild
    from estimates, wrong default lgK on the union accumulator) breaks
    immediately.  KLL merge has no identity guarantee, so it only gets
    the rank bound."""
    n = 300_000
    parts = spark.range(n).withColumn("g", F.col("id") % 7)
    merged = (
        parts.groupBy("g")
        .agg(
            F.hll_sketch_agg("id", F.lit(12)).alias("hll"),
            F.expr("theta_sketch_agg(id, 12)").alias("theta"),
            F.expr("kll_sketch_agg_double(CAST(id AS DOUBLE), 200)").alias(
                "kll"
            ),
        )
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("hll")).alias(
                "hll_merged"
            ),
            F.theta_sketch_estimate(F.expr("theta_union_agg(theta, 12)")).alias(
                "theta_merged"
            ),
            F.expr(
                "kll_sketch_get_quantile_double("
                "kll_merge_agg_double(kll), 0.5)"
            ).alias("kll_merged_p50"),
        )
        .first()
    )
    whole = (
        spark.range(n)
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("id", F.lit(12))).alias(
                "hll_whole"
            ),
            F.theta_sketch_estimate(F.expr("theta_sketch_agg(id, 12)")).alias(
                "theta_whole"
            ),
        )
        .first()
    )
    assert merged["hll_merged"] == whole["hll_whole"]
    assert merged["theta_merged"] == whole["theta_whole"]
    assert abs(merged["kll_merged_p50"] / n - 0.5) <= KLL_EPS[200]


def test_theta_set_algebra_error_across_overlap_sizes(spark):
    """Theta intersection/difference accuracy across overlap regimes —
    the capability the overlap-audit query checks at ONE corpus point.
    Planted sets A = [0, 200k), B = [200k-ov, 400k-ov): exact
    intersection is ov, exact difference 200k-ov.  At lgK=12 the base
    RSE is 1.56%; intersections degrade roughly with the union/overlap
    ratio (measured max 3.0% across this sweep), so 8% is far outside
    noise yet tight enough to catch a set-algebra regression."""
    n = 200_000
    for ov in (2_000, 20_000, 100_000):
        df = spark.range(0, 2 * n - ov).select(
            F.col("id"),
            (F.col("id") < n).alias("in_a"),
            (F.col("id") >= n - ov).alias("in_b"),
        )
        row = (
            df.agg(
                F.expr("theta_sketch_agg(CASE WHEN in_a THEN id END, 12)").alias("sa"),
                F.expr("theta_sketch_agg(CASE WHEN in_b THEN id END, 12)").alias("sb"),
            )
            .select(
                F.expr(
                    "theta_sketch_estimate(theta_intersection(sa, sb))"
                ).alias("inter"),
                F.expr(
                    "theta_sketch_estimate(theta_difference(sa, sb))"
                ).alias("diff"),
            )
            .first()
        )
        assert abs(row["inter"] - ov) <= 0.08 * ov, (ov, row["inter"])
        assert abs(row["diff"] - (n - ov)) <= 0.08 * (n - ov), (ov, row["diff"])


def test_countmin_guarantees_and_geometry(spark):
    """Count-Min invariants the hash gate can't see (the oracle replays
    the same arithmetic, so a broken geometry would stay green):

    1. One-sided error is a HARD guarantee: est >= exact for every key
       at every geometry (each bucket counts a superset of the key).
    2. Row-count monotonicity is a HARD guarantee when one family
       prefixes another: min over a superset of hash rows can only
       tighten, so est_d4(k) <= est_d1(k) per key.
    3. Width monotonicity is statistical but pinned at extreme
       separation (32x width, zipf-ish skewed keys): total overestimate
       at w=2048 must not exceed w=64 — a dead-width bug (w ignored,
       modulus misrouted) fails by orders of magnitude.
    """
    from scats_transis_kinesis_spark.operators.sketches import countmin_estimates
    from scats_transis_kinesis_spark.plans.audits import CM_PARAMS

    # Skewed synthetic keys: key = floor(sqrt(id)) gives frequency
    # ~2k+1 for key k — heavy head, long tail, deterministic.
    keys = spark.range(0, 40_000).select(
        F.floor(F.sqrt(F.col("id"))).cast("long").alias("k")
    )

    d4 = countmin_estimates(keys, "k", CM_PARAMS, 256).collect()
    assert all(r["est"] >= r["exact"] for r in d4), "one-sided guarantee broken"

    d1 = {
        r["key"]: r["est"]
        for r in countmin_estimates(keys, "k", CM_PARAMS[:1], 256).collect()
    }
    assert all(r["est"] <= d1[r["key"]] for r in d4), (
        "adding hash rows must only tighten estimates"
    )

    def total_over(w):
        rows = countmin_estimates(keys, "k", CM_PARAMS, w).collect()
        return sum(r["est"] - r["exact"] for r in rows)

    over_narrow, over_wide = total_over(64), total_over(2048)
    assert over_wide <= over_narrow, (over_narrow, over_wide)
    # At w=2048 with ~200 distinct keys the sketch should answer almost
    # everything exactly; a misrouted width cannot.
    assert over_wide < over_narrow / 4 or over_narrow == 0
