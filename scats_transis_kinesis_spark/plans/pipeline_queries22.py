"""Round-5 batch: offline policy evaluation, feature-space capacity,
and sampling design — the decision layer over logged data:

- ``bandit_replay_evaluation`` — offline (off-policy) evaluation by
  replay matching (Li et al. '11): a candidate deterministic policy is
  scored on logged events by keeping exactly the events whose logged
  arm equals the policy's choice and averaging their rewards — the
  unbiased-under-uniform-logging estimator every recommender team
  runs before an online A/B.  Three policies: the constant
  highest-value arm, a hash-mixed explorer, and the logged baseline.
- ``feature_hashing_collision_audit`` — the hashing-trick capacity
  sweep: vocabulary collision rates at 2¹⁰/2¹²/2¹⁴ hash dimensions,
  measured exactly (distinct terms minus occupied buckets) in ONE
  vocabulary pass — the table that picks a feature-hash width before
  training a linear model at 100 TB.
- ``neyman_allocation_plan`` — optimal stratified-sampling allocation
  (Neyman '34): per-language sample shares ∝ n_h·σ_h from exact
  integer sufficient statistics — the design step that turns
  stratified_sample_by_lang's equal rates into variance-optimal ones
  for corpus evaluation budgets.

Determinism contracts: replay rewards quantize to exact cents before
summing; collision counts are exact distinct-count integers; Neyman
weights quantize n_h·σ_h to integer micros per stratum BEFORE the
cross-strata sum (no double accumulation across groups), and the
final shares/allocations are floor-micros integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import duckdb_hash32_sql, portable_hash32
from ..sources.loaders import load_table
from .pipeline_queries13 import _idiv
from .registry import register

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


# --- Neyman allocation -----------------------------------------------------------

_NEYMAN_BUDGET = 1000


@register(
    "neyman_allocation_plan",
    oracle=f"""
        WITH s AS (
            SELECT lang, count(*)::BIGINT AS n_h,
                   (sum(n_chars))::BIGINT AS sx,
                   (sum(n_chars * n_chars))::BIGINT AS sxx
            FROM documents GROUP BY lang
        ), w AS (
            SELECT lang, n_h,
                   round(1000000 * n_h * sqrt(
                       (sxx::DOUBLE - sx::DOUBLE * sx / n_h)
                       / (n_h - 1)))::BIGINT AS w_micros
            FROM s WHERE n_h > 1
        ), tot AS (SELECT (sum(w_micros))::BIGINT AS tw FROM w)
        SELECT w.lang, w.n_h,
               ((w.w_micros * 1000000) // tot.tw) AS share_micros,
               ((w.w_micros * {_NEYMAN_BUDGET}) // tot.tw) AS alloc_floor
        FROM w, tot
        ORDER BY w.lang
    """,
    doc=f"""Neyman-optimal stratified sampling allocation ('34): for a
    {_NEYMAN_BUDGET}-document evaluation budget, each language stratum
    gets share ∝ n_h·σ_h (σ from document length) — minimizing the
    estimator variance a uniform-rate stratified sample
    (stratified_sample_by_lang) leaves on the table.  Determinism:
    per-stratum variance comes from exact integer sufficient
    statistics; the weight n_h·σ_h quantizes to integer MICROS per
    stratum BEFORE the cross-strata sum, so no double ever
    accumulates across groups; shares and floors are integer
    arithmetic.  Scale shape: one grouped aggregate over the corpus,
    then |langs|-row arithmetic with a 1-row total broadcast
    (declared).  Single-document strata are excluded (σ undefined),
    matching survey practice of merging them into a takeall
    stratum.""",
)
def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    s = docs.groupBy("lang").agg(
        F.count("*").alias("n_h"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
    )
    w = s.where(F.col("n_h") > 1).select(
        "lang",
        "n_h",
        F.round(
            1_000_000
            * F.col("n_h")
            * F.sqrt(
                (
                    F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx") / F.col("n_h")
                )
                / (F.col("n_h") - 1)
            )
        )
        .cast("long")
        .alias("w_micros"),
    )
    tot = w.agg(F.sum("w_micros").alias("tw"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_h",
            _idiv(F.col("w_micros") * 1_000_000, F.col("tw")).alias(
                "share_micros"
            ),
            _idiv(F.col("w_micros") * _NEYMAN_BUDGET, F.col("tw")).alias(
                "alloc_floor"
            ),
        )
        .orderBy("lang")
    )
