"""Physical-plan audits — the 100 TB posture, asserted.

Correctness says what a query returns; these tests pin *how* Spark will
execute it at scale: filters reach the parquet scan (row-group /
partition pruning), projections prune the read schema, small dimensions
broadcast instead of shuffling the fact table, aggregations combine
map-side before the exchange, and no registered query ever falls back to
row-at-a-time Python (``BatchEvalPython``) — Arrow-batched pandas
execution (``MapInPandas``/``ArrowEvalPython``) is the only sanctioned
Python on the hot path, and only where declared (multimodal decode).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from scats_transis_kinesis_spark.plans.registry import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


_PLAN_CACHE: dict[str, str] = {}


def plan_of(spark, name: str) -> str:
    # Cached per session run: three engine-wide tests each walk the full
    # registry, and building a plan is not free — the iterative/graph
    # queries run their eager localCheckpoint jobs at construction time,
    # so uncached this triples several minutes of real execution.
    if name not in _PLAN_CACHE:
        df = REGISTRY[name].fn(spark, SF_DIR)
        jvm = spark.sparkContext._jvm
        _PLAN_CACHE[name] = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    return _PLAN_CACHE[name]


def scan_blocks(plan: str) -> list[str]:
    """The per-scan detail blocks (PushedFilters/ReadSchema lines)."""
    return re.findall(r"\(\d+\) Scan parquet.*?(?=\n\(\d+\)|\Z)", plan, re.S)


def test_dim_joins_broadcast_not_shuffle(spark):
    # TPC-H q3/q5 join lineitem against small dims: every join must be a
    # broadcast hash join — a sort-merge shuffle of the fact table at
    # 100 TB is the plan bug these queries exist to catch.
    for name in ["q3_top_revenue", "q5_nation_revenue"]:
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q3_top_revenue")
    pushed = "".join(scan_blocks(plan))
    assert "EqualTo(c_mktsegment,BUILDING)" in pushed

    plan = plan_of(spark, "s5_time_range_scan")
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(ts", plan)
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(ts", plan)

    # Typed pull: the types IN (...) predicate must reach the scan
    # alongside the time range.
    plan = plan_of(spark, "time_range_typed_scan")
    assert re.search(r"PushedFilters:.*In\(event_type", plan)
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(ts", plan)


def test_nano_timestamps_filter_in_nanos_before_converting(spark, tmp_path):
    # Files written with TIMESTAMP(NANOS) scan as int64 under
    # nanosAsLong: the loaders convert them to timestamps, and
    # time_range_scan compares in nanos first so the range still
    # reaches the parquet reader as a pushed filter.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scats_transis_kinesis_spark.sources.loaders import load_table, time_range_scan

    day_ns = 86_400 * 10**9
    ts = pa.array([1_704_844_800 * 10**9 + i * day_ns + 123 for i in range(10)], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": list(range(10)), "ts": ts}), tmp_path / "events.parquet")

    full = load_table(spark, "events", str(tmp_path))
    assert dict(full.dtypes)["ts"] == "timestamp"
    assert full.count() == 10
    df = time_range_scan(spark, "events", "ts", "2024-01-12", "2024-01-15", sf_dir=str(tmp_path))
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert sorted(r["event_id"] for r in df.collect()) == [2, 3, 4]
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(ts,1705017600000000000\)", plan)
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(ts,1705276800000000000\)", plan)


def test_column_pruning_on_fact_scan(spark):
    # q1 touches 7 lineitem columns; the scan must not read the rest
    # (l_orderkey, l_partkey, comments, dates beyond shipdate, ...).
    plan = plan_of(spark, "q1_pricing_summary")
    for block in scan_blocks(plan):
        m = re.search(r"ReadSchema: struct<([^>]*)>", block)
        assert m, block
        cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
        assert len(cols) <= 7, f"q1 scan reads too many columns: {cols}"
        assert "l_comment" not in cols


def test_partial_aggregation_before_exchange(spark):
    # groupBy must combine map-side: HashAggregate appears below the
    # shuffle exchange as well as above it.
    plan = plan_of(spark, "dedup_exact")
    agg_then_exchange = re.search(
        r"HashAggregate.*Exchange.*HashAggregate", plan, re.S
    )
    assert agg_then_exchange, "no map-side partial aggregate in dedup_exact"


def test_dedup_pair_generator_plans_pre_checkpoint(spark):
    """The dedup pair generators eagerly localCheckpoint their bounded
    pair output (cache-lifecycle fix), so the REGISTRY-wide sweeps below
    see only an ExistingRDD scan for them.  This pins their internal
    plan hygiene at the pre-checkpoint level instead: the banded /
    prefix self-joins must be equi-joins (no cartesian, no nested
    loop), and signature/simhash aggregation must partial-aggregate
    below the exchange."""
    from pyspark.sql import functions as F

    from scats_transis_kinesis_spark.operators.dedup import (
        minhash_signatures,
        simhash,
    )
    from scats_transis_kinesis_spark.sources.loaders import load_table

    docs = load_table(spark, "documents", SF_DIR).limit(50)

    def formatted(df):
        jvm = spark.sparkContext._jvm
        return jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    sigs = minhash_signatures(docs)
    sig_plan = formatted(sigs)
    assert re.search(r"HashAggregate.*Exchange.*HashAggregate", sig_plan, re.S), (
        "minhash signature aggregation lost its map-side combine"
    )

    # the band self-join, built WITHOUT the checkpoint wrapper: use the
    # SAME banding helper lsh_candidate_pairs uses, so a banding-scheme
    # change keeps this hygiene pin aligned with production.
    from scats_transis_kinesis_spark.operators import dedup as D

    banded = D._banded(sigs)
    pair_plan = formatted(
        banded.alias("l").join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
    )
    assert "CartesianProduct" not in pair_plan
    assert "BroadcastNestedLoopJoin" not in pair_plan
    assert "SortMergeJoin" in pair_plan or "ShuffledHashJoin" in pair_plan or (
        "BroadcastHashJoin" in pair_plan
    ), pair_plan

    sim_plan = formatted(simhash(docs))
    assert re.search(r"HashAggregate.*Exchange.*HashAggregate", sim_plan, re.S), (
        "simhash per-bit aggregation lost its map-side combine"
    )


def test_temperature_plan_scans_corpus_once(spark):
    """temperature_sampling_plan pins its |langs|-row inventory with an
    eager localCheckpoint: without it Catalyst plans the broadcast
    totals branch as a SECOND full corpus scan+aggregate.  Post-pin,
    the final plan must read ONLY the checkpoint — zero parquet scans
    (the one real scan ran inside the checkpoint job)."""
    plan = plan_of(spark, "temperature_sampling_plan")
    assert "Scan parquet" not in plan, plan
    assert "Broadcast" in plan  # totals ride a broadcast, not a shuffle


def test_no_rowwise_python_udf_anywhere(spark):
    # The engine-wide invariant: no registered query may use
    # row-at-a-time Python (BatchEvalPython). Arrow-batched pandas
    # stages are allowed only for the declared multimodal decode.
    offenders, pandas_users = [], []
    for name in REGISTRY:
        plan = plan_of(spark, name)
        if "BatchEvalPython" in plan:
            offenders.append(name)
        if "MapInPandas" in plan or "ArrowEvalPython" in plan:
            pandas_users.append(name)
    assert not offenders, f"row-wise Python UDF in: {offenders}"
    assert set(pandas_users) <= {
        "multimodal_features",
        "sim_topk_vectorized",
        "embedding_contamination_check",
        # Arrow-batched Python UDTF (ArrowEvalPythonUDTF) — the declared
        # set-returning-function surface query.
        "udtf_chunk_spans",
        # Round-10 optimization (guide §4.2): the Lloyd assignment is an
        # Arrow-batched numpy projection (operators/ml.py:_assign_batches)
        # instead of an interpreted zip_with/aggregate fold per centroid.
        # Only this query's final frame keeps the lineage — the other
        # k-means users export checkpointed centroids.
        "kmeans_embedding_clusters",
        # Round-10 optimization, session 3 (same pattern): the IVF
        # nearest-centroid assignment (similarity.assign_to_centroids)
        # is an Arrow-batched numpy cosine argmax.  The probe audits
        # checkpoint their candidate frames, so only the queries whose
        # final frame keeps the assignment lineage appear here.
        "sim_topk_ivf",
        "sim_topk_ivf_kmeans",
        "ann_recall_audit",
        "ivf_quantizer_stability_audit",
        "ivf_quantizer_balance_audit",
    }, pandas_users


def test_no_unpartitioned_window_anywhere(spark):
    # Engine-wide scale invariant: a Window with an empty partition spec
    # sends EVERY row to one partition (Spark's WindowExec requires
    # SinglePartition for it) — the classic 100 TB killer.  Global
    # running sums / ranks must instead use the hierarchical forms
    # (operators/relational.py:hierarchical_row_number, the
    # pack_context_windows prefix sum).  A windowspecdefinition whose
    # pre-frame arguments are all sort specs (every one carries NULLS
    # FIRST/LAST) has no partition columns.
    offenders = {}
    for name in REGISTRY:
        plan = plan_of(spark, name)
        for m in re.finditer(
            r"windowspecdefinition\((.*?)specifiedwindowframe", plan
        ):
            args = [a.strip() for a in m.group(1).rstrip(", ").split(",") if a.strip()]
            if not args or all("NULLS" in a for a in args):
                offenders.setdefault(name, []).append(m.group(1)[:80])
    assert not offenders, f"unpartitioned window in: {offenders}"


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    # SCALE.md §3: co-located bucketed layout -> fact-fact join with no
    # Exchange on either side. Broadcast is disabled so the test proves
    # the *bucketing* (not the broadcast) removed the shuffle.
    from scats_transis_kinesis_spark.sources.loaders import load_table, write_bucketed

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{tmp_path}/bucketdb'")
    old_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = load_table(spark, "orders", SF_DIR)
        lineitem = load_table(spark, "lineitem", SF_DIR).withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        write_bucketed(orders, "bucketdb.b_orders", "o_orderkey", 8)
        write_bucketed(lineitem, "bucketdb.b_lineitem", "o_orderkey", 8)

        joined = spark.table("bucketdb.b_orders").join(
            spark.table("bucketdb.b_lineitem"), "o_orderkey"
        )
        jvm = spark.sparkContext._jvm
        plan = jvm.PythonSQLUtils.explainString(joined._jdf.queryExecution(), "formatted")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # sanity: the join actually runs and matches the unbucketed count
        expected = orders.join(lineitem, "o_orderkey").count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_threshold)
        spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


def test_exclusion_and_pipeline_joins_broadcast(spark):
    # q16's NOT-IN build side and the clean-pipeline's id-only semi-join
    # sides are tiny — they must broadcast, never shuffle the fact side.
    for name in ["q16_supplier_count_excluding", "corpus_clean_pipeline"]:
        plan = plan_of(spark, name)
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_contamination_probe_broadcasts(spark):
    # The benchmark shingle set is the small side of the decontam join —
    # it must broadcast; shuffling the corpus shingles against it is the
    # plan bug the broadcast() hint exists to prevent.
    plan = plan_of(spark, "ngram_contamination_check")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_blocked_fuzzy_has_no_theta_join(spark):
    # fuzzy_match_blocked exists as the scale twin of the all-pairs
    # baseline: its join must be a pure equi-join on the block key
    # (hash-joinable), never a nested-loop / cartesian theta join.
    plan = plan_of(spark, "fuzzy_match_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_reduces_probe_side(spark):
    """Runtime bloom-filter semi-join reduction is ON in the session:
    a selective dim filter injects a bloom_filter_agg on the build side
    and a might_contain probe on the fact scan, cutting shuffled fact
    rows before the join.  The application-side size threshold (10 GB
    by default — i.e. the 100 TB regime) is lowered to 0 here because
    the test parquet is tiny; creation-side limits stay at defaults."""
    from scats_transis_kinesis_spark.sources.loaders import load_table

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        o = load_table(spark, "orders", SF_DIR)
        li = load_table(spark, "lineitem", SF_DIR)
        j = li.join(
            o.where(F.col("o_orderpriority") == "1-URGENT"),
            li.l_orderkey == o.o_orderkey,
        )
        jvm = spark.sparkContext._jvm
        plan = jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# BroadcastNestedLoopJoin is acceptable ONLY when the broadcast side is
# bounded by construction: a 1-row aggregate frame (corpus totals /
# thresholds), a fixed query set, or a declared all-pairs baseline
# whose timed scale twin exists.  Each entry documents its bound.
BNL_ALLOWED = {
    "q22_idle_customers_not_exists",  # 1-row avg(acctbal) threshold
    "q11_important_stock_share",      # 1-row sum share threshold
    "text_tfidf_top_terms",           # 1-row corpus doc count
    "collocation_pmi",                # 1-row corpus token total
    "domain_shift_kl",                # 1-row corpus token total
    "curriculum_mixture_sample",      # 1-row max-feasible sample rate
    "resample_locf_fill",             # 1-row global min/max date span
    "timeseries_similarity_topk",     # fixed query-series vector
    "sim_topk_bruteforce",            # |query set| = 5 broadcast rows
    "sim_topk_ivf",                   # |query set| = 5 broadcast rows
    "ivf_probe_recall_audit",         # 16-row centroid + 4-row probe dims
    "ivf_kmeans_recall_audit",        # same bounded dims, x2 quantizers
    "ivf_seeding_recall_audit",       # same bounded dims, x3 quantizers
    "sim_topk_ivf_kmeans",            # 16-row trained-centroid broadcast
    "ivf_quantizer_balance_audit",    # 16-row centroid broadcast per half
    "dedup_embedding_cosine",         # declared all-pairs baseline (LSH twin timed)
    "fuzzy_match_levenshtein",        # declared all-pairs baseline (timed
                                      # since r10 alongside its blocked twin)
    "unigram_perplexity_score",       # 1-row corpus token total
    "bm25_topk",                      # 1-row (n_docs, avgdl) aggregate
    "emb_hard_negatives",             # |query set| = 5 broadcast rows
    "embedding_label_margin",         # |labels| centroid broadcast rows
    "rrf_fusion_topk",                # 1-row query vector + 1-row corpus stats
    "kneser_ney_bigram_lm",           # 1-row bigram-type total
    "triangle_count_copurchase",      # 1-row vertex/edge-count summaries
    "association_rules_pairs",        # 1-row basket-count total
    "column_drift_audit",             # 1-row decile cutpoints + 1-row totals
    "near_dup_agreement_audit",       # three 1-row count aggregates
    "benford_digit_audit",            # 1-row grand-total broadcast
    "revenue_concentration_gini",     # num_buckets scalar rank offsets
    "quality_auc_en",                 # 1-row rank-sum totals broadcast
    "sketch_mergeability_audit",      # 1-row exact-stats aggregate
    "theta_overlap_audit",            # 1-row exact-overlap aggregates
    "dsir_importance_weights",        # 1-row corpus/target token totals
    "embedding_anisotropy_audit",     # 1-row global-centroid broadcast
    "vocab_coverage_curve",           # 1-row (total, n_types) aggregate
    "referential_integrity_audit",    # 1-row n_child × 1-row n_orphans per edge
    "chi2_lang_source_independence",  # 1-row (n, r, c) totals broadcast
    "quality_gains_by_band",          # 1-row (nt, pt) totals broadcast
    "jackknife_ci_order_total",       # ≤32-row block frame × 1-row totals
    "ks_drift_orders",                # 1-row totals/max/argmax broadcasts
    "cusum_changepoint_daily",        # 1-row totals/max broadcasts
    "bloom_runtime_filter_audit",     # 1-row n_keys aggregate broadcast
    "k_anonymity_audit",              # 1-row coarse-QI aggregate broadcast
    "ndcg_quality_ranking",           # 1-row IDCG aggregate crossJoin
    "ann_recall_audit",               # |query set| = 5 broadcast rows (exact side)
    "lsh_banding_tradeoff_audit",     # two count rows × 1-row union scalar
    "temperature_sampling_plan",      # 1-row (total, sw) totals broadcast
    "hits_hubs_authorities",          # 1-row max-score normalizer per half-round
    "kaplan_meier_retention",         # 1-row censoring-cutoff date broadcast
    "mutual_information_lang_source", # 1-row corpus-total broadcast
    "markov_stationary_events",       # 1-row |states| count broadcast
    "association_rules_triples",      # 1-row basket-count total broadcast
    "burst_detection_daily",          # 1-row (d0, d1) day-bounds broadcast
    "welch_t_test_orders",            # 2-row group-stats broadcast
    "theil_sen_trend_daily",          # ≤365-row daily frame pair join + 1-row slope
    "forecast_backtest_mase",         # 1-row naive-MAE broadcast
    "degree_assortativity_copurchase",  # three 1-row aggregate broadcasts
    "event_regex_funnel",             # 1-row all-patterns aggregate stack
    "naive_bayes_lang_eval",          # |langs|-row prior/default broadcast
    "spearman_daily_kpis",            # calendar-bounded distinct-value rank join
    "lang_id_agreement_ari",          # three 1-row pair-count broadcasts
    "ivf_quantizer_stability_audit",  # 16-row centroid broadcasts per
                                      # quantizer + three 1-row
                                      # pair-count broadcasts
    "shard_shuffle_quality",          # two 1-row aggregate broadcasts
    "pca_top_component",              # 1-row n / max-norm / Rayleigh broadcasts
    "kruskal_wallis_priority_spend",  # 32-row bucket-prefix join + 1-row ties
    "compaction_coalesce_plan",       # 64-row shard-frame cumulative join
    "pav_calibration_bins",           # 10-band prefix/interval/minimax joins
    "conformal_coverage_audit",       # bucket-prefix + 1-row q-hat broadcasts
    "decision_stump_split",           # 9-row threshold fan-out + 1-row argmax
    "equidepth_histogram_stats",      # 32-row prefix + 9-rank bounded fan-out
    "bandit_replay_evaluation",       # |policies|-row constant fan-out
    "neyman_allocation_plan",         # 1-row weight-total broadcast
    "fdr_bh_screen",                  # |nations|-row rank join + 1-row cut
    "poisson_bootstrap_se",           # bounded 32-replicate fan-out
    "cuped_adjusted_ab",              # (single 1-row frame, no join)
    "modularity_brand_copurchase",    # four 1-row aggregate broadcasts
    "selectivity_estimate_audit",     # |preds|-row fan-out + 1-row min/max
    "nearest_centroid_accuracy",      # 1-row majority-baseline broadcast
}


def test_bm25_topk_uses_take_ordered(spark):
    # The retrieval top-k must be ORDER BY + LIMIT (TakeOrderedAndProject:
    # per-partition partial top-k merged on the driver), never a global
    # sort materialization — the difference between O(k) and O(n log n)
    # driver/exchange load at 100 TB.
    plan = plan_of(spark, "bm25_topk")
    assert "TakeOrderedAndProject" in plan


def test_no_unbounded_nested_loop_join_anywhere(spark):
    # Engine-wide scale invariant: CartesianProduct (shuffle cartesian)
    # must never appear, and BroadcastNestedLoopJoin only where the
    # broadcast side is bounded by construction (see BNL_ALLOWED).
    cartesian, bnl = [], []
    for name in REGISTRY:
        plan = plan_of(spark, name)
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in BNL_ALLOWED:
            bnl.append(name)
    assert not cartesian, f"shuffle cartesian join in: {cartesian}"
    assert not bnl, f"undeclared nested-loop join in: {bnl}"


def test_lsh_verify_stays_equi_join_with_cached_inputs(spark):
    # Cost-based join reordering runs once every join input has
    # row-count stats, as cached (or analyzed) inputs do.  The cosine
    # threshold of the LSH verify step must then still not link the two
    # vector sides: as a join condition it let the optimizer join them
    # first, a nested loop over all vectors.
    from scats_transis_kinesis_spark.plans.dedup import (
        LSH_BANDS,
        LSH_BITS,
        R_BANDS,
        R_BITS,
        _banded_candidates,
        dedup_embedding_lsh,
        dedup_embedding_lsh_recall,
    )
    from scats_transis_kinesis_spark.sources.loaders import load_table

    jvm = spark.sparkContext._jvm
    try:
        e = load_table(spark, "embeddings", SF_DIR).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ).cache()
        e.count()
        # caches and fills both layouts' candidate frames
        for bands, bits in ((LSH_BANDS, LSH_BITS), (R_BANDS, R_BITS)):
            _banded_candidates(e, bands, bits).cache().count()
        for build in (dedup_embedding_lsh, dedup_embedding_lsh_recall):
            plan = jvm.PythonSQLUtils.explainString(
                build(spark, SF_DIR)._jdf.queryExecution(), "formatted"
            )
            assert "InMemoryRelation" in plan, build.__name__
            assert "BroadcastNestedLoopJoin" not in plan, build.__name__
            assert "CartesianProduct" not in plan, build.__name__
    finally:
        spark.catalog.clearCache()


def test_cbo_consumes_analyzed_table_statistics(spark, tmp_path):
    """Statistics-driven planning (SCALE.md §6.9): with CBO on, ANALYZE
    TABLE feeds exact row counts and column NDVs into Catalyst's
    estimates — the input join reordering and build-side selection key
    off at 100 TB. Pinned: the optimized plan of a filtered scan over
    an analyzed table carries a definite rowCount (stat-less plans
    only have sizeInBytes)."""
    assert spark.conf.get("spark.sql.cbo.enabled") == "true"
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS statsdb LOCATION '{tmp_path}/statsdb'"
    )
    try:
        from scats_transis_kinesis_spark.sources.loaders import load_table

        load_table(spark, "nation", SF_DIR).write.saveAsTable(
            "statsdb.nation_stats"
        )
        spark.sql(
            "ANALYZE TABLE statsdb.nation_stats COMPUTE STATISTICS "
            "FOR COLUMNS n_nationkey, n_regionkey"
        )
        t = spark.table("statsdb.nation_stats")
        stats = t._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().isDefined(), "ANALYZE stats not consumed"
        assert int(str(stats.rowCount().get())) == t.count()
    finally:
        spark.sql("DROP DATABASE IF EXISTS statsdb CASCADE")


@pytest.mark.parametrize(
    "name",
    ["pagerank_nation_trade", "ppr_nation_trade_seeds", "lsh_banding_tradeoff_audit"],
)
def test_query_leaves_no_cached_frame(spark, name):
    # A frame a query caches and leaves behind outlives the query: a
    # later query whose subplan matches it is planned against an
    # InMemoryRelation with row-count stats, which cost-based join
    # reordering then acts on, and its blocks hold executor memory.
    spark.catalog.clearCache()
    REGISTRY[name].fn(spark, SF_DIR).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
