"""Deduplication operators for training-data pipelines (north star):
exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.

Scale design:
- Exact dedup = hash-groupBy on a 60-bit content hash — one shuffle of
  (hash, id), never of the payload.
- MinHash+LSH: signatures via explode + k grouped ``min`` aggregates
  (one shuffle), banding turns the O(n²) pair space into per-bucket
  self-joins — only near-identical docs collide.  Sketch parameters
  (k=32, 8 bands × 4 rows) target Jaccard ≳ 0.5 recall.
- SimHash: per-bit majority vote over token hashes as k conditional
  sums in one aggregation.
- All hashing is the portable md5-based family (functions/hashing.py)
  so the DuckDB oracle replicates results bit-for-bit.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    MINHASH_P,
    minhash_value,
    portable_hash32,
    portable_hash64,
)

# --- shared deterministic parameters (mirrored into the oracle SQL) -------

NUM_HASHES = 32
BANDS = 8
ROWS_PER_BAND = NUM_HASHES // BANDS
SIMHASH_BITS = 24
# Jaccard over 3-word shingle sets (order-sensitive — Broder's
# resemblance construction): random docs over even a tiny shared
# vocabulary have near-disjoint shingle sets, so 0.5 cleanly separates
# true near-copies.
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5

# Version stamp for persisted signature state (incremental_minhash_dedup):
# bump whenever the permutation family changes (modulus, coefficients,
# k, the base hash) — cross-family signatures never match, so mixing
# versions in one state table silently re-admits every historical
# near-dup.  v2 = the 2^32+15 modulus.
MINHASH_SIG_VERSION = 2

_rng = random.Random(42)
# a odd in [1, 2^30): a*h < 2^62 for 32-bit h — no int64 overflow in
# either engine.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (_rng.randrange(1, 1 << 30) | 1, _rng.randrange(0, 1 << 30)) for _ in range(NUM_HASHES)
]


def _checkpoint_release(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Eagerly materialize a BOUNDED result via ``localCheckpoint`` and
    unpersist the cached frames it consumed (the pagerank lifecycle,
    ``operators/graph.py``).

    ``persist()`` entries live in the CacheManager for the process
    lifetime; across a 150-query gate/bench run they accumulate until
    LRU eviction.  Checkpointed blocks instead die with the RDD once
    the returned frame is garbage-collected.  Only call this on frames
    bounded by construction (candidate/near-dup pair lists — true-dup
    density, never the corpus)."""
    out = result.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist(blocking=False)
    return out


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: content-hash groupBy keeping the min id.

    Only (hash, id) pairs shuffle; payloads stay columnar at the scan."""
    return (
        df.select(portable_hash64(text_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def _read_state_or_none(spark, state_dir: str):
    """Read a cross-run parquet state table; ``None`` ONLY when the
    state dir does not exist yet (first run).  Any other read failure
    (corrupt footer, permissions, transient FS error) raises loudly —
    silently skipping the history join would re-admit every previously
    kept document AND append duplicate state rows.  The structured
    error condition is the stable contract; message text varies across
    Spark versions."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(state_dir)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None


def incremental_exact_dedup(
    new_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup ACROSS ingestion runs — the rolling-crawl shape: a
    persisted seen-hash table accumulates every content hash ever kept;
    each new batch drops (a) docs whose hash is already in the table
    (left-anti join) and (b) within-batch copies (keep min id), then
    appends the survivors' hashes for the next run.

    Scale shape: the state table is a single ``content_hash`` column —
    one long per distinct document ever seen, NOT the corpus — and the
    anti-join is hash-keyed (broadcastable while small, shuffle-join
    with dynamic pruning when it outgrows that; at lakehouse scale the
    state table would be bucketed by hash so the join co-locates).
    Returns the surviving (id, hash) rows; the streaming twin
    (``streaming/pipeline.py:corpus_ingest_stream``) handles the
    within-horizon case and THIS handles all-of-history."""
    spark = new_docs.sparkSession
    hashed = new_docs.select(
        F.col(id_col), portable_hash64(text_col).alias("content_hash")
    )
    seen = _read_state_or_none(spark, state_dir)
    if seen is not None:
        hashed = hashed.join(seen.select("content_hash"), "content_hash", "left_anti")
    # Materialized via eager localCheckpoint BEFORE the state append —
    # and deliberately NOT via persist(): the survivors' lineage reads
    # ``state_dir``, and Spark's CacheManager re-caches any cached plan
    # whose source path is written (recacheByPath), so a persist would
    # be re-evaluated against the just-appended hashes and anti-join
    # the batch against itself (returning nothing).  The checkpoint
    # cuts the lineage to materialized partitions with no path
    # dependency, pinning this run's view of the state.
    survivors = (
        hashed.groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "content_hash")
        .localCheckpoint(eager=True)
    )
    survivors.select("content_hash").write.mode("append").parquet(state_dir)
    return survivors


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = SHINGLE_N
) -> DataFrame:
    """(id, distinct n-word shingle ARRAY) — the set representation used
    by minhash and Jaccard verification.  Docs shorter than n words are
    excluded (no shingle exists for them).

    The sequence upper bound is clamped to 0 even though the filter
    already excludes short docs: when a consumer explodes the shingle
    array, the optimizer pushes the explode's implicit ``size > 0``
    guard down into the SAME Filter, and codegen's common-subexpression
    elimination then evaluates the transform on pre-filter rows — a
    2-word document would build the descending sequence ``[0, -1]`` and
    crash ``slice(start=0)``.  The clamp makes the expression total
    (short docs yield one garbage window the filter then drops); found
    by the round-7 novelty anchor on a corpus with a sub-n-word doc.

    The token array is projected into its own column BEFORE the window
    transform: interpreted higher-order lambdas re-evaluate every
    sub-expression per element, so referencing ``split(text)`` inside
    the lambda re-split the document once per window (measured 5x the
    whole shingle cost at sf0.1).  CollapseProject keeps the split
    materialized because the downstream transform references the column
    more than once."""
    from ..sources.loaders import ensure_parallelism

    toks = F.split(F.col(text_col), " ")
    toked = (
        ensure_parallelism(df)
        .where(F.size(toks) >= n)
        .select(F.col(id_col), toks.alias("__toks"))
    )
    return toked.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.size("__toks") - n, F.lit(0))
                ),
                lambda i: F.concat_ws(" ", F.slice("__toks", i + 1, n)),
            )
        ).alias("shingles"),
    )


def minhash_signatures_from_sets(sets: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """k-permutation MinHash signature per document from a prepared
    (id, shingles) set DataFrame.

    explode(distinct shingles) → hash32 → k grouped mins in ONE
    hash-aggregate (single shuffle keyed by id; partial aggregation
    reduces map-side)."""
    hashed = (
        sets.select(F.col(id_col), F.explode("shingles").alias("token"))
        .select(id_col, portable_hash32("token").alias("h"))
    )
    aggs = [
        F.min(minhash_value(F.col("h"), a, b)).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return minhash_signatures_from_sets(shingle_sets(df, text_col, id_col), id_col)


def _banded(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, bucket) rows from a signature frame: each of the
    BANDS disjoint ROWS_PER_BAND-row slices hashes to one bucket key.
    Lazy and unpersisted — callers decide materialization."""
    bands = []
    for band in range(BANDS):
        cols = [f"m{band * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        bands.append(
            F.struct(
                F.lit(band).alias("band"),
                portable_hash64(
                    F.concat_ws(",", *[F.col(c).cast("string") for c in cols])
                ).alias("bucket"),
            )
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("b")
    ).select(id_col, "b.band", "b.bucket")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    defer_release: list[DataFrame] | None = None,
) -> DataFrame:
    """Band the signature and self-join per (band, bucket).

    The join key is (band_index, hash of the band's rows): docs agreeing
    on all rows of any band become a candidate pair exactly once
    (distinct).  At scale this is a shuffle of |docs|×BANDS small rows —
    never the O(n²) pair space.

    Called standalone, the bounded pair list checkpoints eagerly and the
    banded cache is released before returning.  Pipelines that verify
    the candidates afterwards pass ``defer_release`` (a list) instead:
    the banded frame is appended to it, the pairs return LAZY, and the
    caller folds everything into ONE end-of-pipeline checkpoint — a
    mid-pipeline materialization costs ~50% extra wall time (measured
    4.9 s vs 3.1 s on dedup_minhash_lsh at sf0.1) for no memory benefit
    when a later stage materializes anyway."""
    # Persisted: the banded frame is both sides of the bucket self-join —
    # unpersisted, each side would recompute the full signature
    # aggregation (the k grouped mins over the exploded shingles).  The
    # candidate-pair output is bounded (bucket-collision density), so it
    # checkpoints eagerly and the cache is released right here.
    banded = _banded(signatures, id_col).persist()
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    if defer_release is not None:
        defer_release.append(banded)
        return pairs
    return _checkpoint_release(pairs, banded)


def jaccard_verify(candidates: DataFrame, sets: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification step).

    Joins the candidate list back to the shingle arrays — proportional to
    |candidates|, not |docs|².  ``sets`` is the (id, shingles) frame from
    :func:`shingle_sets` — pass the SAME (persisted) instance used for
    candidate generation so shingling runs once."""
    toked = sets.withColumnRenamed("shingles", "toks")
    a = toked.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"))
    b = toked.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("toks_a", "toks_b"))
                / F.size(F.array_union("toks_a", "toks_b")),
                6,
            ).alias("jaccard"),
        )
    )


def minhash_lsh_near_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → exact
    Jaccard ≥ threshold.

    The shingle sets are persisted and shared between signature
    computation and verification — shingling is the dominant narrow
    stage, so it runs once (at cluster scale this materialization is a
    checkpoint of the shingle table).  The verified-pair result is
    bounded by true near-dup density, so the pipeline checkpoints ONCE
    at the end and releases the shingle + banded caches together — a
    single end-of-pipeline materialization, not one per stage."""
    caches: list[DataFrame] = []
    sets = shingle_sets(df, text_col, id_col).persist()
    sigs = minhash_signatures_from_sets(sets, id_col)
    cands = lsh_candidate_pairs(sigs, id_col, defer_release=caches)
    verified = (
        jaccard_verify(cands, sets, id_col)
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return _checkpoint_release(verified, sets, *caches)


def incremental_minhash_dedup(
    new_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    est_threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """NEAR-dup dedup ACROSS ingestion runs — the rolling-crawl twin of
    :func:`incremental_exact_dedup` for the fuzzy case: a persisted
    signature table accumulates the MinHash signature of every document
    ever kept; each new batch drops (a) docs whose signature-estimated
    Jaccard against ANY historical doc reaches ``est_threshold``
    (banded candidate join, never all-pairs) and (b) within-batch
    near-dups (the smaller id of each verified pair wins), then appends
    the survivors' signatures for the next run.

    Scale shape: state is k=32 ints per document ever kept — NOT the
    corpus text — and candidate generation is the same (band, bucket)
    equi-join as :func:`lsh_candidate_pairs`, with history on one side
    and the batch on the other (at lakehouse scale the state table is
    bucketed by band hash so the join co-locates; banding is a narrow
    projection of the signature columns).  Verification is the
    SIGNATURE-ESTIMATED Jaccard (matching-row fraction; unbiased,
    σ≈0.09 at k=32) because the historical shingle sets are not
    retained — the documented accuracy trade of keeping state bounded.
    A production pipeline wanting exact verification would join the
    candidate ids back to the corpus store.

    The state table carries a ``sig_version`` column: signatures are
    only comparable when hashed with the same permutation family, so a
    state dir written under a different version (e.g. the round-4
    modulus fix) fails loudly instead of silently re-admitting every
    historical near-dup (old-family signatures never collide with
    new-family ones).

    Returns the surviving ``(id, m0..m31)`` signature rows."""
    spark = new_docs.sparkSession
    k = len(MINHASH_COEFFS)
    sig_cols = [f"m{i}" for i in range(k)]
    sigs = minhash_signatures(new_docs, text_col, id_col).localCheckpoint(
        eager=True
    )
    est = (
        sum(
            F.when(F.col(f"l.{c}") == F.col(f"r.{c}"), 1).otherwise(0)
            for c in sig_cols
        )
        / F.lit(float(k))
    )
    seen = _read_state_or_none(spark, state_dir)
    survivors = sigs
    if seen is not None:
        if "sig_version" not in seen.columns:
            raise ValueError(
                f"incremental_minhash_dedup state at {state_dir} predates "
                "signature versioning — rebuild it (signatures from a "
                "different permutation family never match, so continuing "
                "would silently re-admit every historical near-dup)"
            )
        # Null-safe: a NULL sig_version is NOT the current family (a
        # plain != filters NULLs to nothing and would silently treat a
        # version-less state table as current, re-admitting every
        # historical near-dup — the exact failure this check prevents).
        stale = (
            seen.where(
                ~F.col("sig_version").eqNullSafe(F.lit(MINHASH_SIG_VERSION))
            )
            .limit(1)
            .count()
        )
        if stale:
            raise ValueError(
                f"incremental_minhash_dedup state at {state_dir} was "
                f"written under a different signature version than "
                f"{MINHASH_SIG_VERSION} — rebuild it"
            )
        hist_banded = _banded(seen, id_col)
        new_banded = _banded(survivors, id_col)
        cand = (
            new_banded.alias("n")
            .join(
                hist_banded.alias("h"),
                (F.col("n.band") == F.col("h.band"))
                & (F.col("n.bucket") == F.col("h.bucket")),
            )
            .select(
                F.col(f"n.{id_col}").alias("new_id"),
                F.col(f"h.{id_col}").alias("hist_id"),
            )
            .distinct()
        )
        dup_vs_history = (
            cand.join(
                survivors.alias("l"), cand.new_id == F.col(f"l.{id_col}")
            )
            .join(seen.alias("r"), cand.hist_id == F.col(f"r.{id_col}"))
            .where(est >= est_threshold)
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        # Materialize once: the post-history-filter frame feeds the
        # banded self-join (both sides), both estimate sides, and the
        # final anti-join — uncheckpointed, the history candidate join
        # would re-run for each consumer.
        survivors = survivors.join(
            dup_vs_history, id_col, "left_anti"
        ).localCheckpoint(eager=True)
    # Within-batch near-dups among the remaining docs: banded self-join,
    # estimate, drop the larger id of each verified pair.
    caches: list[DataFrame] = []
    pairs = lsh_candidate_pairs(survivors, id_col, defer_release=caches)
    batch_dups = (
        pairs.join(survivors.alias("l"), pairs.id_a == F.col(f"l.{id_col}"))
        .join(survivors.alias("r"), pairs.id_b == F.col(f"r.{id_col}"))
        .where(est >= est_threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    survivors = survivors.join(batch_dups, id_col, "left_anti")
    # Checkpoint BEFORE the state append (recacheByPath: the survivors'
    # lineage reads state_dir when history exists — same hazard as
    # incremental_exact_dedup), then release the banded cache.
    survivors = _checkpoint_release(
        survivors.select(id_col, *sig_cols), *caches
    )
    survivors.withColumn(
        "sig_version", F.lit(MINHASH_SIG_VERSION)
    ).write.mode("append").parquet(state_dir)
    return survivors


# Containment threshold for excerpt detection: |A∩B|/min(|A|,|B|).
CONTAINMENT_THRESHOLD = 0.6


def containment_near_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Asymmetric containment detection (quote/excerpt dedup): for LSH
    candidate pairs, exact shingle containment in BOTH directions —
    ``|A∩B| / |A|`` catches A being an excerpt of B even when the
    symmetric Jaccard is modest.

    Shares the signature → banding → candidate machinery with
    :func:`minhash_lsh_near_dups`; only the verification metric
    differs.  Recall scope (inherent to Jaccard banding): a tiny
    excerpt inside a huge document has low symmetric Jaccard and may
    not become a candidate here — :func:`containment_prefix_pairs` is
    the LOSSLESS companion that probes the smaller side's rarest
    shingles and catches every pair above the threshold regardless of
    the size ratio.  Work is proportional to |candidates|, never
    |docs|²."""
    caches: list[DataFrame] = []
    sets = shingle_sets(df, text_col, id_col).persist()
    sigs = minhash_signatures_from_sets(sets, id_col)
    cands = lsh_candidate_pairs(sigs, id_col, defer_release=caches)
    toked = sets.withColumnRenamed("shingles", "toks")
    a = toked.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"))
    b = toked.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    c_ab = inter / F.size("toks_a")
    c_ba = inter / F.size("toks_b")
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(c_ab, 6).alias("containment_a_in_b"),
            F.round(c_ba, 6).alias("containment_b_in_a"),
        )
        .where(
            F.greatest("containment_a_in_b", "containment_b_in_a")
            >= CONTAINMENT_THRESHOLD
        )
    )
    return _checkpoint_release(verified, sets, *caches)


def containment_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = CONTAINMENT_THRESHOLD,
) -> DataFrame:
    """LOSSLESS asymmetric containment (excerpt-in-document) pairs via
    rarest-prefix inverted probing — the scale path for the case
    Jaccard banding structurally misses: a tiny excerpt inside a huge
    document (C(A,B) = |A∩B|/|A| high while symmetric Jaccard ≈
    |A|/|B| is tiny).

    Prefix-filter guarantee (PPJoin family, Chaudhuri/Xiao-style
    canonical order, applied to the CONTAINMENT threshold): order each
    doc's shingles by global rarity (document frequency, then shingle —
    a total order), and probe only the first ``floor((1-t)·|A|) + 1``.
    If B contains NONE of those probes, B misses more than (1-t)·|A| of
    A's shingles, so C(A,B) < t — therefore every pair with
    small-side containment ≥ t has a probe hit, with no randomness and
    no recall loss.  Every doc both probes (as the potential excerpt)
    and indexes all its shingles (as the potential container), so both
    directions are covered in one join.

    Scale shape: the index side is the corpus posting list (Σ|doc|
    shingle rows — the same linear footprint as the inverted-index /
    tf-idf queries, never |docs|²); the probe side is ~(1-t) of it.
    Probes are each doc's RAREST shingles, so probe→index fan-out is
    naturally small; hot boilerplate shingles sit only on the index
    side and are rarely probed.  Shuffles: one by shingle (doc
    frequency), one by doc (prefix ranking), one by shingle (the
    candidate join) — all equi-joins, no theta join.  Exact
    verification then touches candidates only."""
    sets = shingle_sets(df, text_col, id_col).persist()
    posting = sets.select(
        F.col(id_col).alias("pid"), F.explode("shingles").alias("sh")
    )
    dfreq = posting.groupBy("sh").agg(F.count("*").alias("dfreq"))
    w_rank = Window.partitionBy("pid").orderBy("dfreq", "sh")
    w_doc = Window.partitionBy("pid")
    prefix = (
        posting.join(dfreq, "sh")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count("*").over(w_doc))
        .where(
            F.col("rn")
            <= F.floor(F.lit(1.0 - threshold) * F.col("n")) + F.lit(1)
        )
        .select("pid", "sh")
    )
    cand = (
        prefix.alias("p")
        .join(posting.alias("q"), "sh")
        .where(F.col("p.pid") != F.col("q.pid"))
        .select(
            F.least("p.pid", "q.pid").alias("id_a"),
            F.greatest("p.pid", "q.pid").alias("id_b"),
        )
        .distinct()
        # Explicit repartition before the exact verify: the candidate
        # rows are two longs each (tiny bytes) but every row pays an
        # array_intersect over two full shingle sets (heavy compute),
        # so AQE coalesces the exchange to ~1 task if allowed — a user
        # repartition with an explicit count is exempt (measured 10.5 s
        # -> ~1 s for the verify stage at sf0.1).
        .repartition(32, "id_a")
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("toks_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / F.size("toks_a"), 6).alias("containment_a_in_b"),
            F.round(inter / F.size("toks_b"), 6).alias("containment_b_in_a"),
        )
        .where(
            F.greatest("containment_a_in_b", "containment_b_in_a")
            >= threshold
        )
    )
    return _checkpoint_release(verified, sets)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Word n-gram shingle Jaccard near-dup via a prefix-filtered
    inverted index (PPJoin-style; Bayardo et al., "Scaling Up All
    Pairs", WWW'07 — public algorithm).

    Candidate generation indexes only each doc's *prefix*: its
    ``|s| - ceil(t*|s|) + 1`` rarest shingles under a global
    (frequency, hash) canonical order.  Any pair with Jaccard ≥ t must
    collide inside both prefixes, so the filter is lossless — while the
    most frequent (hottest-bucket) shingles never enter the index.
    Verification computes exact Jaccard on the full shingle sets for
    candidates only.  At 100 TB this is the difference between a skewed
    O(Σ bucket²) join and one proportional to true near-dup density."""
    from pyspark.sql import Window as W

    shingled = shingle_sets(df, text_col, id_col, n).persist()
    inverted = shingled.select(
        F.col(id_col), F.explode("shingles").alias("sh"), F.size("shingles").alias("n_sh")
    ).select(id_col, portable_hash64("sh").alias("shash"), "n_sh")
    freq = inverted.groupBy("shash").agg(F.count("*").alias("df"))
    prefix_len = (F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1).cast("int")
    # Persisted: the prefix index is BOTH sides of the self-join below —
    # without it each side recomputes the explode + frequency join +
    # ranking window (at scale: materialize the prefix index once, the
    # standard PPJoin index-build step).
    ranked = (
        inverted.join(freq, "shash")
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy(id_col).orderBy(F.asc("df"), F.asc("shash"))
            ),
        )
        .where(F.col("rank") <= prefix_len)
        .select(id_col, "shash", "rank", "n_sh")
        .persist()
    )
    l, r = ranked.alias("l"), ranked.alias("r")
    # Length filter: J ≥ t ⇒ t·max(|a|,|b|) ≤ min(|a|,|b|).
    length_ok = (F.col("r.n_sh") >= threshold * F.col("l.n_sh")) & (
        F.col("l.n_sh") >= threshold * F.col("r.n_sh")
    )
    # Positional filter (PPJoin): matching at prefix positions (pa, pb)
    # bounds the possible overlap by 1 + min(|a|-pa, |b|-pb), which must
    # reach the t-equivalent overlap ⌈t/(1+t)·(|a|+|b|)⌉.
    overlap_needed = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("l.n_sh") + F.col("r.n_sh"))
    )
    positional_ok = (
        1 + F.least(F.col("l.n_sh") - F.col("l.rank"), F.col("r.n_sh") - F.col("r.rank"))
    ) >= overlap_needed
    candidates = (
        l.join(
            r,
            (F.col("l.shash") == F.col("r.shash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            & length_ok
            & positional_ok,
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    verified = (
        jaccard_verify(candidates, shingled, id_col)
        .where(F.col("jaccard") >= threshold)
    )
    return _checkpoint_release(verified, shingled, ranked)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash: per-bit majority over (all, non-distinct) token hashes.

    One explode + one grouped aggregation with SIMHASH_BITS conditional
    sums — a single shuffle keyed by id."""
    from ..sources.loaders import ensure_parallelism

    hashed = ensure_parallelism(df).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).select(id_col, portable_hash32("token").alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = hashed.groupBy(id_col).agg(*bit_sums)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sums.select(id_col, sim.cast("long").alias("simhash"))


SIMHASH_BANDS = 4
SIMHASH_HAMMING_MAX = 3


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = SIMHASH_HAMMING_MAX,
) -> DataFrame:
    """SimHash near-dup pairs: banded candidate generation + exact
    Hamming verification.

    Pigeonhole: two 24-bit simhashes within Hamming distance 3 must
    agree exactly on at least one of 4 disjoint 6-bit bands — so the
    banded equi-join is a lossless candidate filter (same guarantee
    structure as MinHash banding, Charikar '02 / Manku et al. WWW'07,
    public algorithms).  The join shuffles |docs|×4 tiny (band, 6-bit
    chunk) rows, never the pair space; verification is one
    ``bit_count(xor)`` per candidate."""
    bits_per_band = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << bits_per_band) - 1
    sims = simhash(df, text_col, id_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.shiftright(F.col("simhash"), band * bits_per_band)
                .bitwiseAND(F.lit(mask))
                .alias("chunk"),
            )
            for band in range(SIMHASH_BANDS)
        ]
    )
    # Persisted: both sides of the band equi-join — unpersisted, each
    # side would recompute the per-bit majority aggregation.  The pair
    # output is bounded (Hamming-ball density), so it checkpoints
    # eagerly and the cache is released before returning.
    banded = sims.select(id_col, "simhash", F.explode(bands).alias("b")).select(
        id_col, "simhash", "b.band", "b.chunk"
    ).persist()
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "band", "chunk"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "band", "chunk"
    )
    pairs = (
        a.join(b, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return _checkpoint_release(pairs, banded)


CC_MAX_ROUNDS = 30


def _cc_star_step(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star round (Kiveris et al., SOCC'14).

    Both operate per-vertex on the UNDIRECTED neighborhood of the
    current edge set, with ``m = min(Γ(v) ∪ {v})``:

    - large-star: rewire every strictly-LARGER neighbor to m
      (``{(u, m) : u ∈ Γ(v), u > v}``);
    - small-star: rewire every smaller neighbor AND v itself to m
      (``{(u, m) : u ∈ Γ(v), u < v} ∪ {(v, m)}``).

    Each is one groupBy(min) + one equi-join — the same shapes as
    min-label propagation, but the composition contracts path lengths
    multiplicatively, so convergence is O(log²) rounds even on
    adversarial long chains where label propagation needs O(diameter)."""
    nbr = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        nbr.groupBy("u")
        .agg(F.min("v").alias("nbr_min"))
        .select("u", F.least("u", "nbr_min").alias("m"))
    )
    linked = nbr.join(mins, "u")
    if large:
        out = linked.where(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
    else:
        out = linked.where(F.col("v") < F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).union(mins.select("u", F.col("m").alias("v")))
    return out.where(F.col("u") != F.col("v")).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = CC_MAX_ROUNDS,
) -> DataFrame:
    """Connected components over a near-dup pair list → (member_id,
    cluster_id=min id in component).  The canonicalization step after
    any pair generator: every dup cluster keeps one representative.

    Alternating large-star/small-star (Kiveris et al. "Connected
    Components in MapReduce and Beyond", SOCC'14 — public algorithm):
    each round rewires edges toward neighborhood minima until the graph
    is a star forest rooted at each component's minimum.  Unlike
    min-label propagation (O(diameter) rounds — an adversarial dup
    CHAIN of length 1000 would need 1000 shuffled rounds), the star
    composition contracts distances multiplicatively: bounded by
    O(log²|V|) rounds, ~10 on a 1000-vertex chain, 2-3 on the tiny
    near-dup cliques the dedup family produces.  Per round: two
    groupBy(min) + two equi-joins, each shuffle keyed by vertex; the
    driver sees only a scalar convergence checksum, never the data.
    Rounds are cut with eager ``localCheckpoint`` (bounded iterative
    lineage, the pagerank pattern) and a non-convergence within
    ``max_iters`` raises rather than returning wrong clusters."""
    # ONE evaluation of the (possibly expensive) pair lineage: the raw
    # distinct pair list checkpoints first, and both the edge list and
    # the vertex set derive from the checkpointed frame.  Vertices come
    # from the RAW pairs, not the self-loop-filtered edges: a vertex
    # whose only pairs are reflexive (id_a == id_b) still belongs to
    # the output as its own singleton cluster (the pre-star min-label
    # implementation emitted it; dropping it would lose members from
    # the canonicalization).
    # persist + count in ONE job: the count both materializes the reused
    # pair frame AND sizes the graph for the small-graph fast path (the
    # previous eager localCheckpoint + separate count() paid two jobs
    # for the same information).  The cache stays pinned for the
    # function's lifetime — `vertices` re-reads it after the loop — the
    # same block lifetime the checkpoint had; per-round lineage cutting
    # is handled by the loop's own localCheckpoints below.
    raw = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).distinct().persist()
    n_pairs = raw.count()
    edges = raw.where(F.col("u") != F.col("v"))
    # The pair graph is tiny relative to the corpus (near-dup pairs are
    # rare by construction): below this edge count the whole loop runs
    # single-partition — every round's joins and aggregates become one
    # task with no exchanges, cutting per-round overhead ~10×.  A truly
    # large graph keeps the scan's parallelism.
    if n_pairs < 1_000_000:
        edges = edges.coalesce(1)
    vertices = raw.select("u").union(raw.select("v")).distinct()
    # DIRECT star-forest fixed-point test (round-10 optimization): each
    # composed round leaves every edge pointing strictly downward
    # (large-star emits (u, m) with m <= v < u; small-star emits (u, m)
    # with m < u), and both steps preserve the component partition
    # (Kiveris et al. Lemma 1), so a round's output is the fixed point
    # ⟺ no vertex is both a child and a parent: a connected downward
    # depth-1 graph has exactly one parent — the component minimum —
    # and one more composed round provably leaves such a star forest
    # unchanged.  This replaces the edge-set-checksum equality test,
    # which could only SEE convergence one full round late (the
    # confirming round re-ran both star steps), and the lazy
    # localCheckpoint makes the test job itself materialize the
    # round's edges — ONE job per round instead of two (the k-center
    # lazy-persist lesson).  One scalar per round reaches the driver.
    rounds = 0
    for _ in range(max_iters):
        edges = _cc_star_step(
            _cc_star_step(edges, large=True), large=False
        ).localCheckpoint(eager=False)
        rounds += 1
        parents = edges.select(F.col("v").alias("x"))
        children = edges.select(F.col("u").alias("x"))
        nonstar = parents.join(children, "x", "left_semi").limit(1).count()
        if nonstar == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "alternating-star rounds"
        )
    connected_components.last_rounds = rounds  # test/observability hook
    # Fixed point = star forest: every non-root vertex carries exactly
    # one edge to its component minimum; roots label themselves.
    children = edges.select(
        F.col("u").alias("member_id"), F.col("v").alias("cluster_id")
    )
    roots = vertices.join(
        children.select(F.col("member_id").alias("u")), "u", "left_anti"
    ).select(F.col("u").alias("member_id"), F.col("u").alias("cluster_id"))
    return children.union(roots)


# Sign-LSH banding scheme for persisted embedding-dedup state
# (incremental_embedding_dedup): bands × bits-per-band over basis-
# hyperplane sign bits, mirroring the batch dedup_embedding_lsh query.
# The version stamp covers the banding scheme AND the vector space —
# bump on any change (band layout, and ESPECIALLY the embedding model:
# vectors from different encoders are not comparable, so mixing them
# in one state table silently stops catching near-dups).
EMB_LSH_BANDS = 4
EMB_LSH_BITS = 8
EMB_STATE_VERSION = 1


def _emb_banded(vecs: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, band, bucket) rows: bucket = packed sign bits of dims
    [band·BITS, (band+1)·BITS) — sign random projection with basis
    hyperplanes (Charikar '02), identical to dedup_embedding_lsh."""
    def bucket_for(band: int):
        b = F.lit(0)
        for d in range(EMB_LSH_BITS):
            b = b + F.when(
                F.element_at("v", band * EMB_LSH_BITS + d + 1) > 0,
                F.lit(1 << d),
            ).otherwise(0)
        return b

    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), bucket_for(b).alias("bucket"))
            for b in range(EMB_LSH_BANDS)
        ]
    )
    return vecs.select(id_col, F.explode(bands).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def incremental_embedding_dedup(
    new_vecs: DataFrame,
    state_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding near-dup dedup ACROSS ingestion runs — completing the
    incremental family (:func:`incremental_exact_dedup` for exact,
    :func:`incremental_minhash_dedup` for text near-dup): a persisted
    vector table accumulates every embedding ever kept; each new batch
    drops (a) vectors whose exact cosine against ANY historical vector
    reaches ``threshold`` (sign-LSH banded candidate join, never
    all-pairs) and (b) within-batch near-dups (the smaller id of each
    verified pair wins), then appends the survivors for the next run.

    Unlike the minhash variant — whose state keeps only signatures and
    therefore verifies by signature estimate — embedding state IS the
    full vector (dims floats per kept doc), so verification is the
    EXACT rounded cosine on both the history and the batch side.

    Scale shape: candidate generation is the same (band, bucket)
    equi-join as the batch sign-LSH query with history on one side and
    the batch on the other (at lakehouse scale the state table is
    bucketed by (band, bucket) so the join co-locates); state grows by
    dims floats per kept document.  Approximate by construction in the
    same way as dedup_embedding_lsh: a cross-run near-dup whose pair
    shares no band bucket is missed (recall < 1, the documented LSH
    trade; 8×4 banding raises recall at production thresholds —
    BACKLOG.md).

    The state table carries ``emb_version`` (banding scheme + embedding
    model): vectors from a different encoder never score meaningfully,
    so a mismatched state dir fails loudly instead of silently letting
    every near-dup through.

    Returns the surviving ``(id, v)`` rows (v = double vector)."""
    # Norms hoisted to per-row columns before the verify joins
    # (round-10, similarity.cosine_with_norms): the interpreted norm
    # fold runs once per ROW instead of once per candidate pair per
    # side; bit-identical.
    from .similarity import _norm, cosine_with_norms

    spark = new_vecs.sparkSession
    vecs = (
        new_vecs.select(
            id_col, F.col(vec_col).cast("array<double>").alias("v")
        )
        .localCheckpoint(eager=True)
    )
    seen = _read_state_or_none(spark, state_dir)
    survivors = vecs
    if seen is not None:
        if "emb_version" not in seen.columns:
            raise ValueError(
                f"incremental_embedding_dedup state at {state_dir} has no "
                "emb_version column — rebuild it (vectors from an unknown "
                "encoder/banding cannot be compared; continuing would "
                "silently re-admit historical near-dups)"
            )
        stale = (
            seen.where(
                ~F.col("emb_version").eqNullSafe(F.lit(EMB_STATE_VERSION))
            )
            .limit(1)
            .count()
        )
        if stale:
            raise ValueError(
                f"incremental_embedding_dedup state at {state_dir} was "
                f"written under a different version than "
                f"{EMB_STATE_VERSION} — rebuild it"
            )
        cand = (
            _emb_banded(survivors, id_col)
            .alias("n")
            .join(
                _emb_banded(seen, id_col).alias("h"),
                ["band", "bucket"],
            )
            .select(
                F.col(f"n.{id_col}").alias("new_id"),
                F.col(f"h.{id_col}").alias("hist_id"),
            )
            .distinct()
        )
        dup_vs_history = (
            cand.join(
                survivors.select(
                    F.col(id_col).alias("new_id"),
                    F.col("v").alias("nv"),
                    _norm(F.col("v")).alias("_nn"),
                ),
                "new_id",
            )
            .join(
                seen.select(
                    F.col(id_col).alias("hist_id"),
                    F.col("v").alias("hv"),
                    _norm(F.col("v")).alias("_nh"),
                ),
                "hist_id",
            )
            .where(
                F.round(
                    cosine_with_norms(
                        F.col("nv"), F.col("hv"), F.col("_nn"), F.col("_nh")
                    ),
                    6,
                )
                >= threshold
            )
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        survivors = survivors.join(
            dup_vs_history, id_col, "left_anti"
        ).localCheckpoint(eager=True)
    # Within-batch near-dups among the remaining vectors.
    banded = _emb_banded(survivors, id_col)
    pairs = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            ["band", "bucket"],
        )
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    batch_dups = (
        pairs.join(
            survivors.select(
                F.col(id_col).alias("id_a"),
                F.col("v").alias("va"),
                _norm(F.col("v")).alias("_na"),
            ),
            "id_a",
        )
        .join(
            survivors.select(
                F.col(id_col).alias("id_b"),
                F.col("v").alias("vb"),
                _norm(F.col("v")).alias("_nb"),
            ),
            "id_b",
        )
        .where(
            F.round(
                cosine_with_norms(
                    F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
                ),
                6,
            )
            >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    # Checkpoint BEFORE the state append (recacheByPath: with history,
    # the survivors' lineage reads state_dir — same hazard as the other
    # incremental operators).
    survivors = survivors.join(batch_dups, id_col, "left_anti").select(
        id_col, "v"
    ).localCheckpoint(eager=True)
    survivors.withColumn(
        "emb_version", F.lit(EMB_STATE_VERSION)
    ).write.mode("append").parquet(state_dir)
    return survivors


def semantic_prune_stats(
    clustered: DataFrame,
    tau_ppm: int,
    id_col: str = "vec_id",
    cid_col: str = "cid",
    vec_col: str = "v",
) -> DataFrame:
    """SemDeDup pruning stage (Abbas et al. 2023, arXiv:2303.09540):
    given cluster-assigned vectors ``(id, cid, vec)``, drop every
    vector with a lower-id within-cluster neighbor whose squared
    cosine reaches ``tau_ppm`` (sign-checked so anti-parallel vectors
    never count).  Returns per-cluster ``(cluster, n_vecs, n_dropped,
    dropped_checksum)`` — counts plus an identity checksum so the
    contract pins the dropped SET.

    The greedy keep-lowest-id rule replaces the paper's
    keep-farthest-from-centroid tie-break to stay deterministic and
    oracle-replayable.  Scale shape: clustering bounds the pairwise
    stage at O(Σ|cluster|²) (k ∝ n/target-cluster-size in production;
    a within-cluster LSH band is the escape hatch for hot clusters);
    every dot product is a codegen'd ``zip_with`` fold rounded to 6 —
    the cross-engine FP contract of the k-means loop that feeds it.
    The input is materialized ONCE via eager ``localCheckpoint``: both
    self-join sides, the stats, and the drop set read it, and without
    the checkpoint each consumer re-evaluates the upstream k-means
    assignment expression (measured 46 s → 6 s at sf0.01).
    """
    m = clustered.select(
        F.col(id_col).alias("vec_id"),
        F.col(cid_col).alias("cid"),
        F.col(vec_col).alias("v"),
    ).withColumn(
        "n2",
        F.round(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ),
    ).localCheckpoint(eager=True)
    # Salted self-join: the join key space is only |clusters| (k=8 at
    # test scale), so without salting at most k tasks do the O(|c|²)
    # dot-product work and the other cores idle.  Salting the a-side by
    # vec_id and replicating the b-side SALT× multiplies the key space
    # (k·SALT tasks) while enumerating the IDENTICAL pair set — the
    # salted_join_skew pattern applied to a self-join (measured 3.9 s →
    # 1.5 s at sf0.1).  At 100 TB k is chosen ∝ n (clusters outnumber
    # cores) and the salt simply subdivides hot clusters further.
    # The explicit repartition (not just shuffle.partitions) matters:
    # the shuffled BYTES are tiny relative to the O(|c|²) HOF compute
    # they fan out, so AQE would coalesce the exchange down to a few
    # tasks; a user repartition with an explicit count is exempt from
    # AQE coalescing.
    _SALT = 4
    _TASKS = 32
    a = (
        m.withColumn("_salt", (F.col("vec_id") % _SALT).cast("int"))
        .repartition(_TASKS, "cid", "_salt")
        .alias("a")
    )
    b = (
        m.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1)))
        )
        .repartition(_TASKS, "cid", "_salt")
        .alias("b")
    )
    dot = F.round(
        F.aggregate(
            F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    pairs = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a._salt") == F.col("b._salt"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.cid").alias("cid"),
        F.col("b.vec_id").alias("cand"),
        dot.alias("dot"),
        F.col("a.n2").alias("na"),
        F.col("b.n2").alias("nb"),
    )
    dropped = (
        pairs.where(
            (F.col("dot") > 0)
            & (
                F.round(
                    F.lit(1000000.0) * F.col("dot") * F.col("dot")
                    / (F.col("na") * F.col("nb"))
                ).cast("long")
                >= tau_ppm
            )
        )
        .select("cid", F.col("cand").alias("vec_id"))
        .distinct()
    )
    stats = m.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vecs"))
    dr = dropped.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_dropped"),
        F.sum("vec_id").alias("dropped_checksum"),
    )
    return stats.join(dr, "cid", "left").select(
        F.col("cid").alias("cluster"),
        "n_vecs",
        F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
        F.coalesce("dropped_checksum", F.lit(0)).cast("long").alias(
            "dropped_checksum"
        ),
    )
