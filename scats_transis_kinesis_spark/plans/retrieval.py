"""Retrieval queries: similarity search, IVF, lexical ranking, embeddings.

Brute-force, vectorized and IVF top-k cosine search, the trained
(k-means) quantizer and the recall/cost, balance, stability and seeding
audits of the IVF design; BM25, positional phrase search, inverted
postings, reciprocal-rank fusion and MMR diversification; and the
embedding-space audits (int8 quantization, anisotropy, JL projection,
PCA, label margin, hard negatives, nearest-centroid accuracy).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators.ml import kcenter_centroids, kmeans_centroids
from ..operators.similarity import cosine, hard_negative_topk
from ..operators.text import tokens
from ..sources.loaders import load_table
from .common import (
    HH_THRESHOLD,
    KM_DIM,
    KM_ITERS,
    KM_K,
    _M,
    _class_centroid_fit,
    _idiv,
    _kmeans_ctes,
    _milli_int,
    _pair_count_sums,
)
from .registry import register


# --- similarity search ----------------------------------------------------

_SIM_QUERY_IDS = [0, 1, 2, 3, 4]


@register(
    "sim_topk_bruteforce",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id IN ({", ".join(map(str, _SIM_QUERY_IDS))})
        ), pairs AS (
            SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
                   round(
                     list_dot_product(q.qv, c.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
                     6) AS cosine_sim
            FROM q JOIN embeddings c ON c.vec_id <> q.qid
        )
        SELECT query_id, neighbor_id, cosine_sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
            FROM pairs
        ) WHERE rn <= 5
    """,
    doc="""Exact top-5 cosine neighbors for 5 query vectors: broadcast
    nested-loop over one corpus scan; double-precision sequential dot
    products rounded to 6 digits match DuckDB bit-for-bit
    (operators/similarity.py:cosine_topk_bruteforce).""",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk_bruteforce(
        load_table(spark, "embeddings", sf_dir), query_ids=_SIM_QUERY_IDS, k=5
    )


_COS = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) "
    "* sqrt(list_dot_product({b}, {b}))), 6)"
)

@register(
    "sim_topk_ivf",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        cents AS (
            SELECT vec_id AS centroid_id, v AS cvec FROM e
            ORDER BY vec_id LIMIT 16
        ),
        assigned AS (
            SELECT vec_id, v, centroid_id FROM (
                SELECT e.vec_id, e.v, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_COS.format(a="e.v", b="c.cvec")} DESC,
                                    c.centroid_id ASC) AS rn
                FROM e CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        q AS (
            SELECT vec_id AS query_id, v AS qvec FROM e
            WHERE vec_id IN ({", ".join(map(str, _SIM_QUERY_IDS))})
        ),
        probe AS (
            SELECT query_id, qvec, centroid_id FROM (
                SELECT q.query_id, q.qvec, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS.format(a="q.qvec", b="c.cvec")} DESC,
                                    c.centroid_id ASC) AS rn
                FROM q CROSS JOIN cents c
            ) WHERE rn <= 4
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {_COS.format(a="p.qvec", b="a.v")} AS cosine_sim
            FROM probe p JOIN assigned a USING (centroid_id)
            WHERE a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cosine_sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id) AS rn
            FROM scored
        ) WHERE rn <= 5
    """,
    doc="""IVF-bucketed approximate top-k (scale path): corpus assigned
    to 16 coarse centroids (deterministic seed = lowest vec_ids),
    queries probe the 4 nearest clusters — scans nprobe/C of the data
    at 100 TB (operators/similarity.py:cosine_topk_bucketed).
    Approximate relative to the brute-force twin (recall measured in
    tests), but its own semantics are fully deterministic — the oracle
    replicates centroid seeding, rounded-cosine assignment with
    centroid-id tiebreaks, probing, and final top-k exactly.""",
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk_bucketed(
        load_table(spark, "embeddings", sf_dir),
        query_ids=_SIM_QUERY_IDS,
        k=5,
        num_centroids=16,
        nprobe=4,
    )


@register(
    "sim_topk_vectorized",
    # Same oracle as sim_topk_bruteforce: the vectorized operator is an
    # exact computation of the same top-k (round-6 scores, id tiebreak).
    oracle="""
        WITH q AS (
            SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
        ), pairs AS (
            SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
                   round(
                     list_dot_product(q.qv, c.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
                     6) AS cosine_sim
            FROM q JOIN embeddings c ON c.vec_id <> q.qid
        )
        SELECT query_id, neighbor_id, cosine_sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
            FROM pairs
        ) WHERE rn <= 5
    """,
    doc="""Exact top-5 cosine via Arrow-batched numpy matmul with
    per-batch partial top-k (operators/similarity.py:
    cosine_topk_vectorized) — the extreme-throughput twin of
    sim_topk_bruteforce, hash-checked against the same independent
    oracle.  The one sanctioned ArrowEvalPython/MapInPandas stage
    besides the multimodal decode.""",
)
def sim_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_vectorized

    return cosine_topk_vectorized(
        load_table(spark, "embeddings", sf_dir), query_ids=[0, 1, 2, 3, 4], k=5
    )


TS_QUERY_USER = 100


@register(
    "timeseries_similarity_topk",
    oracle=f"""
        WITH grid_days AS (
            SELECT unnest(generate_series(
                DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY))::DATE AS day
        ),
        users AS (SELECT DISTINCT user_id FROM events),
        daily AS (
            SELECT user_id, date_trunc('day', ts)::DATE AS day, count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        dense AS (
            SELECT u.user_id, g.day, coalesce(d.n, 0) AS n
            FROM users u CROSS JOIN grid_days g
            LEFT JOIN daily d ON d.user_id = u.user_id AND d.day = g.day
        ),
        q AS (SELECT day, n AS qn FROM dense WHERE user_id = {TS_QUERY_USER})
        SELECT d.user_id, round(sqrt(sum((d.n - q.qn) * (d.n - q.qn))), 6) AS dist
        FROM dense d JOIN q USING (day)
        WHERE d.user_id <> {TS_QUERY_USER}
        GROUP BY d.user_id
        ORDER BY dist, user_id
        LIMIT 5
    """,
    doc="""Time-series similarity search (cf. PAPERS.md EDBT'19
    streaming-similarity line): each user's daily activity profile on a
    dense gap-filled grid, Euclidean top-5 nearest to a query user.
    The query series (|days| rows) broadcasts against the dense grid;
    distance is one grouped sum of squared diffs — the same
    grid-join shape scales to sliding-window subsequence search.""",
)
def timeseries_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import date

    events = load_table(spark, "events", sf_dir)
    grid = spark.createDataFrame(
        [(date(2024, 1, d),) for d in range(1, 31)], "day date"
    )
    users = events.select("user_id").distinct()
    daily = events.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    dense = (
        users.crossJoin(F.broadcast(grid))
        .join(daily, ["user_id", "day"], "left")
        .select("user_id", "day", F.coalesce("n", F.lit(0)).alias("n"))
    )
    q = dense.where(F.col("user_id") == TS_QUERY_USER).select(
        "day", F.col("n").alias("qn")
    )
    diff = F.col("n") - F.col("qn")
    return (
        dense.where(F.col("user_id") != TS_QUERY_USER)
        .join(F.broadcast(q), "day")
        .groupBy("user_id")
        .agg(F.round(F.sqrt(F.sum(diff * diff)), 6).alias("dist"))
        .orderBy("dist", "user_id")
        .limit(5)
    )


@register(
    "embedding_int8_quantization",
    oracle="""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        scaled AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
            FROM e
        )
        SELECT vec_id,
               round(scale, 6) AS scale,
               round(list_max(list_transform(v,
                   x -> abs(x - floor(x / scale + 0.5) * scale))), 6)
                   AS max_abs_err,
               len(list_filter(v, x -> abs(floor(x / scale + 0.5)) >= 127))::BIGINT
                   AS n_saturated
        FROM scaled WHERE scale > 0
    """,
    doc="""Symmetric int8 embedding quantization audit (vector-store /
    retrieval-infra staple): per-vector scale = max|x|/127, quantized
    value floor(x/scale + 0.5) (explicit half-up — identical in both
    engines, unlike round()'s engine-specific ties), reporting the
    reconstruction error bound and saturation count.  Pure array
    expressions per row — zero shuffle, codegen throughout; the same
    expressions write the int8 column in a real export job.""",
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scaled = e.withColumn(
        "scale", F.expr("array_max(transform(v, x -> abs(x))) / 127.0")
    )
    return scaled.where(F.col("scale") > 0).select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round(
            F.expr("array_max(transform(v, x -> abs(x - floor(x / scale + 0.5) * scale)))"),
            6,
        ).alias("max_abs_err"),
        F.expr("size(filter(v, x -> abs(floor(x / scale + 0.5)) >= 127))")
        .cast("long")
        .alias("n_saturated"),
    )


@register(
    "inverted_index_postings",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        vocab AS (
            SELECT tok FROM toks GROUP BY tok
            HAVING count(*) >= {HH_THRESHOLD}
        )
        SELECT t.tok,
               count(DISTINCT t.doc_id)::BIGINT AS doc_freq,
               array_to_string(array_agg(DISTINCT t.doc_id ORDER BY t.doc_id),
                               ',') AS postings
        FROM toks t JOIN vocab USING (tok)
        GROUP BY t.tok
    """,
    doc="""Inverted-index build (search/retrieval infra): sorted
    posting lists per term, restricted to the heavy-hitter vocabulary
    so no single posting array exceeds bounded size unpredictably —
    at 100 TB the full-vocabulary variant would shard postings by
    (term, doc_id range) instead of collecting one array per term
    (documented; the per-term grouped sort is the same plan).  One
    keyed shuffle on the term; dedup + ordering happen inside the
    aggregate.  Postings render as a comma-joined string so the output
    is scalar-only (driver canonicalizers can't hash list cells).""",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok").count().where(F.col("count") >= HH_THRESHOLD)
    ).select("tok")
    return (
        toks.join(F.broadcast(vocab), "tok", "left_semi")
        .groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.array_join(F.sort_array(F.collect_set("doc_id")), ",").alias(
                "postings"
            ),
        )
    )


def _kmeans_oracle() -> str:
    ctes, last = _kmeans_ctes()
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT vec_id, cid AS cluster, dist FROM {last}
    """
    )


@register(
    "kmeans_embedding_clusters",
    oracle=_kmeans_oracle(),
    doc="""Iterative ML loop (Lloyd's k-means) over the embedding
    corpus: 3 assignment rounds, centroids updated between rounds,
    deterministic smallest-id init.  Per iteration the engine runs one
    broadcast-join scan (k·dim centroid scalars) and one grouped
    per-dimension mean; the driver sees only the k·dim centroid
    summary — the canonical Spark training-loop shape, same contract
    trick as approx_distinct: every FP intermediate (distance,
    centroid coordinate) is rounded to 6 on BOTH engines with
    identical fold order, so the iterations cannot diverge and the
    final assignment hash-matches an exactly-unrolled recursive-CTE
    oracle.""",
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml import kmeans_assign

    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return kmeans_assign(e, k=KM_K, iters=KM_ITERS, dim=KM_DIM)


# The fixed phrase for positional phrase search (a frequent trigram in
# the synthetic corpus at every SF).
PHRASE = ("stream", "table", "hash")


@register(
    "phrase_search_positional",
    oracle=f"""
        WITH pos AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w)),
                          i -> struct_pack(pos := i, tok := w[i]))) AS p
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        ), flat AS (
            SELECT doc_id, p.pos AS pos, p.tok AS tok FROM pos
        )
        SELECT a.doc_id, count(*)::BIGINT AS n_matches
        FROM flat a
        JOIN flat b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        JOIN flat c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        WHERE a.tok = '{PHRASE[0]}' AND b.tok = '{PHRASE[1]}'
          AND c.tok = '{PHRASE[2]}'
        GROUP BY a.doc_id
    """,
    doc=f"""Exact phrase search over a positional inverted index (the
    query-side counterpart of ``inverted_index_postings``): tokenize
    with positions, keep only the phrase's terms (a per-term postings
    probe — at 100 TB each term selection is an index lookup, and the
    planner starts from the rarest term), then join on (doc_id,
    adjacent positions) to verify adjacency.  All joins are keyed
    equi-joins on (doc_id, pos) — no theta join, no window.  Finds
    every occurrence of "{' '.join(PHRASE)}" per document.""",
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    flat = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    a = flat.where(F.col("tok") == PHRASE[0]).select("doc_id", "pos")
    b = flat.where(F.col("tok") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    c = flat.where(F.col("tok") == PHRASE[2]).select(
        "doc_id", (F.col("pos") - 2).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .join(c, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_matches"))
    )


# BM25 constants (the Lucene/Robertson defaults) and a fixed keyword
# query over the synthetic corpus vocabulary.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
BM25_QUERY = ("spark", "window", "stream")


_BM25_ORACLE = f"""
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS dl
            FROM documents
        ), stats AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base
        ), tf AS (
            SELECT doc_id, dl, tok, count(*)::DOUBLE AS tf
            FROM (SELECT doc_id, dl, unnest(w) AS tok FROM base)
            WHERE tok IN {BM25_QUERY!r}
            GROUP BY doc_id, dl, tok
        ), df AS (
            SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY tok
        ), scored AS (
            SELECT t.doc_id,
                   round(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
                         * t.tf * ({BM25_K1} + 1)
                         / (t.tf + {BM25_K1} * (1 - {BM25_B}
                               + {BM25_B} * t.dl / s.avgdl))
                         * 1e6)::BIGINT AS term_micros
            FROM tf t JOIN df d USING (tok) CROSS JOIN stats s
        )
        SELECT doc_id, sum(term_micros)::BIGINT AS score_micros
        FROM scored GROUP BY doc_id
        ORDER BY score_micros DESC, doc_id LIMIT {BM25_TOPK}
    """

_BM25_DOC = f"""BM25 top-{BM25_TOPK} retrieval (Robertson/Sparck Jones; the
    Lucene-style ``ln(1 + (N-df+0.5)/(df+0.5))`` idf) for a fixed
    keyword query — the classic search-infra scorer over the corpus.
    Scale shape: tokens are filtered to the query terms INSIDE the
    per-document array before any explode, so the exploded frame
    carries only |query|-term hits, not the corpus token stream; tf is
    one keyed groupBy; df aggregates the tf frame (|docs·terms| rows);
    the 1-row (n_docs, avgdl) aggregate broadcast-joins back (bounded
    BNL, allowlisted); top-k is ORDER BY + LIMIT — Spark executes
    TakeOrderedAndProject (per-partition partial top-k, no global
    sort materialization).  Per-term scores round to integer micros
    before summing, so cross-engine totals are exact integer math."""


def bm25_score_frame(docs: DataFrame) -> DataFrame:
    """``(doc_id, score_micros)`` BM25 scores for :data:`BM25_QUERY` —
    the shared scorer behind ``bm25_topk`` and the RRF fusion query
    (rrf_fusion_topk).  Only documents with at least one query-term
    hit appear."""
    w = tokens("text")
    # NOT persisted: the tokenized frame feeds both the (n_docs, avgdl)
    # corpus aggregate and the query-term hit extraction, but it is the
    # corpus token stream — at 100 TB you never cache that; two narrow
    # passes over the columnar scan are cheaper than writing + reading
    # a corpus-scale cache (and a persist here would sit in the
    # CacheManager for the process lifetime).
    base = docs.select("doc_id", w.alias("w"), F.size(w).alias("dl"))
    stats = base.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = base.select(
        "doc_id",
        "dl",
        F.explode(
            F.filter("w", lambda t: t.isin(*BM25_QUERY))
        ).alias("tok"),
    )
    tf = hits.groupBy("doc_id", "dl", "tok").agg(
        F.count("*").cast("double").alias("tf")
    )
    df = tf.groupBy("tok").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    term_micros = F.round(
        idf * F.col("tf") * (BM25_K1 + 1) / denom * 1e6
    ).cast("long")
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_micros.alias("term_micros"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("term_micros").cast("long").alias("score_micros")
    )


@register("bm25_topk", oracle=_BM25_ORACLE, doc=_BM25_DOC)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        bm25_score_frame(docs)
        .orderBy(F.desc("score_micros"), "doc_id")
        .limit(BM25_TOPK)
    )


# Fixed query ids for hard-negative mining (same seed set as the
# sim_topk family).
HN_QUERY_IDS = (0, 1, 2, 3, 4)
HN_K = 5

_COS6 = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) "
    "* sqrt(list_dot_product({b}, {b}))), 6)"
)


@register(
    "emb_hard_negatives",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                   label AS qlabel
            FROM embeddings
            WHERE vec_id IN ({", ".join(map(str, HN_QUERY_IDS))})
        ), pairs AS (
            SELECT q.query_id, c.vec_id AS negative_id,
                   c.label AS negative_label,
                   {_COS6.format(a="q.qv", b="c.embedding::DOUBLE[]")}
                       AS cosine_sim
            FROM q JOIN embeddings c ON c.label <> q.qlabel
        )
        SELECT query_id, negative_id, negative_label, cosine_sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, negative_id) AS rn
            FROM pairs
        ) WHERE rn <= {HN_K}
    """,
    doc=f"""Hard-negative mining for contrastive training: for each of
    {len(HN_QUERY_IDS)} query vectors, the {HN_K} most cosine-similar
    corpus vectors with a DIFFERENT label
    (operators/similarity.py:hard_negative_topk).  Broadcast query set
    against one corpus scan (bounded BNL, allowlisted); sequential-fold
    double dot products round to 6 digits, matching DuckDB
    list_dot_product bit-for-bit.""",
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hard_negative_topk(
        load_table(spark, "embeddings", sf_dir),
        query_ids=list(HN_QUERY_IDS),
        k=HN_K,
    )


@register(
    "embedding_label_margin",
    oracle="""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ), flat AS (
            SELECT label, unnest(generate_series(1, len(v))) AS idx, v
            FROM e
        ), cent AS (
            SELECT label,
                   list(cv ORDER BY idx) AS cvec
            FROM (
                SELECT label, idx, round(avg(v[idx]), 6) AS cv
                FROM flat GROUP BY label, idx
            ) GROUP BY label
        ), scored AS (
            SELECT e.vec_id, e.label, c.label AS clabel,
                   round(list_dot_product(e.v, c.cvec)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(c.cvec, c.cvec))), 6)
                       AS sim
            FROM e CROSS JOIN cent c
        )
        SELECT vec_id, label,
               max(CASE WHEN clabel = label THEN sim END) AS own_sim,
               max(CASE WHEN clabel <> label THEN sim END) AS best_other_sim,
               round(max(CASE WHEN clabel = label THEN sim END)
                     - max(CASE WHEN clabel <> label THEN sim END), 6)
                   AS margin
        FROM scored GROUP BY vec_id, label
    """,
    doc="""Embedding-space quality audit: per-vector cosine margin
    between its own-label centroid and the best other-label centroid —
    the statistic behind embedding-quality dashboards and mislabel
    screens (negative margin = the vector sits closer to another
    class).  Scale shape: centroids are an exploded (label, dim) keyed
    aggregate — one shuffle of |vectors|·dims skinny rows, bounded
    output of |labels| rows that broadcasts back; per-vector scoring is
    a single corpus scan against the broadcast centroid set (bounded
    BNL, allowlisted).  Centroid elements round to 6 digits BEFORE the
    dot product (rounded-intermediate contract), so the engine-order
    of the per-dimension averages can never flip the round-6 margin.""",
)
def embedding_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    e = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    flat = e.select(
        "label", F.posexplode("v").alias("idx", "val")
    )
    cent = (
        flat.groupBy("label", "idx")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec")
        )
        .select(F.col("label").alias("clabel"), "cvec")
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.round(cosine(F.col("v"), F.col("cvec")), 6).alias("sim"),
    )
    own = F.max(F.when(F.col("clabel") == F.col("label"), F.col("sim")))
    other = F.max(F.when(F.col("clabel") != F.col("label"), F.col("sim")))
    return scored.groupBy("vec_id", "label").agg(
        own.alias("own_sim"),
        other.alias("best_other_sim"),
        F.round(own - other, 6).alias("margin"),
    )


# Reciprocal-rank-fusion parameters (Cormack et al.: 1/(K + rank)).
RRF_K = 60
RRF_POOL = 50  # depth of each input ranking
RRF_TOPK = 10
RRF_QUERY_VEC_ID = 0  # embedding row used as the dense query


@register(
    "rrf_fusion_topk",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS dl
            FROM documents
        ), stats AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base
        ), tf AS (
            SELECT doc_id, dl, tok, count(*)::DOUBLE AS tf
            FROM (SELECT doc_id, dl, unnest(w) AS tok FROM base)
            WHERE tok IN ('spark', 'window', 'stream')
            GROUP BY doc_id, dl, tok
        ), df AS (
            SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY tok
        ), bm25 AS (
            SELECT doc_id, sum(round(
                       ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
                       * t.tf * (1.2 + 1)
                       / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl))
                       * 1e6))::BIGINT AS score_micros
            FROM tf t JOIN df d USING (tok) CROSS JOIN stats s
            GROUP BY doc_id
        ), qvec AS (
            SELECT embedding::DOUBLE[] AS q FROM embeddings
            WHERE vec_id = {RRF_QUERY_VEC_ID}
        ), cos AS (
            SELECT vec_id AS doc_id,
                   round(list_dot_product(embedding::DOUBLE[], q)
                         / (sqrt(list_dot_product(embedding::DOUBLE[],
                                                  embedding::DOUBLE[]))
                            * sqrt(list_dot_product(q, q))) * 1e6)::BIGINT
                       AS score_micros
            FROM embeddings CROSS JOIN qvec
            WHERE vec_id <> {RRF_QUERY_VEC_ID}
        ), pooled AS (
            SELECT 'bm25' AS ranking, doc_id, score_micros FROM bm25
            UNION ALL
            SELECT 'cosine' AS ranking, doc_id, score_micros FROM cos
        ), ranked AS (
            SELECT ranking, doc_id,
                   row_number() OVER (PARTITION BY ranking
                                      ORDER BY score_micros DESC, doc_id)
                       AS rnk
            FROM pooled
        )
        SELECT doc_id,
               count(*)::BIGINT AS n_rankings,
               sum(round(1e6 / ({RRF_K} + rnk)))::BIGINT AS rrf_micros
        FROM ranked WHERE rnk <= {RRF_POOL}
        GROUP BY doc_id
        ORDER BY rrf_micros DESC, doc_id LIMIT {RRF_TOPK}
    """,
    doc=f"""Reciprocal-rank fusion (Cormack et al.) of the lexical BM25
    ranking and the dense embedding-cosine ranking — the standard
    hybrid-retrieval combiner (score = Σ 1/({RRF_K}+rank) over the two
    top-{RRF_POOL} pools).  Scale shape: both rankings are bounded
    pools; the rank assignment is ONE window partitioned by ranking
    source (never unpartitioned — each ranking is its own partition),
    fusion is a keyed sum, final top-{RRF_TOPK} is ORDER BY + LIMIT
    (TakeOrderedAndProject).  The dense side broadcasts the 1-row query
    vector (bounded BNL, allowlisted); ranks are integers so the RRF
    terms round to micros deterministically.""",
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    bm25 = bm25_score_frame(docs).select(
        F.lit("bm25").alias("ranking"), "doc_id", "score_micros"
    )
    from ..operators.similarity import cosine

    q = emb.where(F.col("vec_id") == RRF_QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    cos = (
        emb.where(F.col("vec_id") != RRF_QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            F.lit("cosine").alias("ranking"),
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("qvec")) * 1e6)
            .cast("long")
            .alias("score_micros"),
        )
    )
    pooled = bm25.unionAll(cos)
    rnk = F.row_number().over(
        Window.partitionBy("ranking").orderBy(
            F.desc("score_micros"), F.col("doc_id")
        )
    )
    ranked = pooled.select("ranking", "doc_id", rnk.alias("rnk")).where(
        F.col("rnk") <= RRF_POOL
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_rankings"),
            F.sum(F.round(1e6 / (RRF_K + F.col("rnk"))))
            .cast("long")
            .alias("rrf_micros"),
        )
        .orderBy(F.desc("rrf_micros"), "doc_id")
        .limit(RRF_TOPK)
    )


@register(
    "embedding_anisotropy_audit",
    oracle="""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ), flat AS (
            SELECT label, unnest(generate_series(1, len(v))) AS idx, v
            FROM e
        ), cent AS (
            SELECT list(cv ORDER BY idx) AS cvec
            FROM (
                SELECT idx, round(avg(v[idx]), 6) AS cv
                FROM flat GROUP BY idx
            )
        ), scored AS (
            SELECT e.vec_id, e.label,
                   round(sqrt(list_dot_product(e.v, e.v)), 6) AS norm6,
                   round(list_dot_product(e.v, c.cvec)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(c.cvec, c.cvec))), 6)
                       AS cos6
            FROM e CROSS JOIN cent c
        )
        SELECT label,
               count(*)::BIGINT AS n_vectors,
               round(avg(norm6), 6) AS avg_norm,
               round(avg(cos6), 6) AS avg_cos_centroid,
               min(cos6) AS min_cos_centroid,
               max(cos6) AS max_cos_centroid,
               round(avg(CASE WHEN cos6 < 0 THEN 1.0 ELSE 0.0 END), 6)
                   AS frac_negative_cos
        FROM scored GROUP BY label
    """,
    doc="""Embedding-space anisotropy audit (Ethayarajh EMNLP'19's
    contextual-anisotropy statistic, per label): every vector's cosine
    to the GLOBAL corpus centroid — a healthy isotropic space averages
    near zero, while a collapsed/anisotropic one (the classic failure
    that silently breaks cosine dedup and retrieval) pushes the average
    toward 1 — plus the norm distribution that exposes near-zero or
    exploding vectors before they poison IVF centroids.  The centroid's
    per-dimension averages round to 6 digits BEFORE the dot product and
    the per-label averages run over already-rounded per-vector values
    (the embedding_label_margin rounded-intermediate contract).  Scale
    shape: the centroid is one exploded (dim)-keyed aggregate —
    |vectors|·dims skinny rows collapsing map-side to dims partials —
    assembled into a single broadcast row; per-vector scoring is one
    corpus scan against that broadcast; the output is |labels| rows.""",
)
def embedding_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import anisotropy_stats

    return anisotropy_stats(load_table(spark, "embeddings", sf_dir))


# MMR parameters: candidate pool from the dense ranking, re-ranked
# greedily with relevance/diversity mixed at λ = 0.7 (exact milli
# integers — 700·rel − 300·max_sim, no FP in the greedy itself).
MMR_POOL = 20
MMR_K = 10
MMR_LAMBDA_MILLI = 700
MMR_QUERY_VEC_ID = 0  # embedding row used as the dense query (as RRF)

_COS_SQL = (
    "round(list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v))"
    " * sqrt(list_dot_product(b.v, b.v))) * 1e6)::BIGINT"
)


def _mmr_oracle() -> str:
    lam, com = MMR_LAMBDA_MILLI, 1000 - MMR_LAMBDA_MILLI
    ctes = [
        f"""qvec AS MATERIALIZED (
            SELECT embedding::DOUBLE[] AS q FROM embeddings
            WHERE vec_id = {MMR_QUERY_VEC_ID}
        )""",
        f"""pool AS MATERIALIZED (
            SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v,
                   round(list_dot_product(embedding::DOUBLE[], q)
                         / (sqrt(list_dot_product(embedding::DOUBLE[],
                                                  embedding::DOUBLE[]))
                            * sqrt(list_dot_product(q, q))) * 1e6)::BIGINT
                       AS rel
            FROM embeddings CROSS JOIN qvec
            WHERE vec_id <> {MMR_QUERY_VEC_ID}
            ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}
        )""",
        f"""sims AS MATERIALIZED (
            SELECT a.doc_id AS i, b.doc_id AS j, {_COS_SQL} AS s
            FROM pool a JOIN pool b ON a.doc_id <> b.doc_id
        )""",
        f"""sel0 AS MATERIALIZED (
            SELECT 0 AS mmr_rank, doc_id, rel, {lam} * rel AS score
            FROM pool ORDER BY rel DESC, doc_id LIMIT 1
        )""",
        "acc0 AS MATERIALIZED (SELECT * FROM sel0)",
    ]
    for t in range(1, MMR_K):
        ctes.append(
            f"""sel{t} AS MATERIALIZED (
                SELECT {t} AS mmr_rank, p.doc_id, p.rel,
                       {lam} * p.rel - {com} * max(s.s) AS score
                FROM pool p
                JOIN sims s ON s.i = p.doc_id
                 AND s.j IN (SELECT doc_id FROM acc{t - 1})
                WHERE p.doc_id NOT IN (SELECT doc_id FROM acc{t - 1})
                GROUP BY p.doc_id, p.rel
                ORDER BY score DESC, p.doc_id LIMIT 1
            )"""
        )
        ctes.append(
            f"acc{t} AS MATERIALIZED (SELECT * FROM acc{t - 1} UNION ALL SELECT * FROM sel{t})"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT mmr_rank, doc_id, rel AS rel_micros, score
        FROM acc{MMR_K - 1}
    """
    )


@register(
    "mmr_diversified_topk",
    oracle=_mmr_oracle(),
    doc=f"""Maximal-marginal-relevance diversified top-{MMR_K}
    (Carbonell & Goldstein '98): greedily re-rank the dense top-
    {MMR_POOL} pool so each pick maximizes λ·relevance −
    (1−λ)·max-similarity-to-already-picked — the standard diversity
    re-rank for retrieval and for redundancy-aware training-sample
    selection.  Scale shape: the DISTRIBUTED work is scoring the
    corpus against the query and taking the top-{MMR_POOL}
    (TakeOrderedAndProject over one scan); the greedy loop then runs
    on the driver over a FIXED {MMR_POOL}-candidate pool —
    O(k·pool) integer comparisons on ≤{MMR_POOL}² collected
    similarity scalars (a bounded summary, like the k-means
    centroids), which is the only honest place for an inherently
    sequential k-step argmax.  All greedy arithmetic is exact milli/
    micro integers ({MMR_LAMBDA_MILLI}·rel − {1000 - MMR_LAMBDA_MILLI}
    ·max_sim), so the 10-step unrolled-CTE oracle cannot drift.""",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.where(F.col("vec_id") == MMR_QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    pool = (
        emb.where(F.col("vec_id") != MMR_QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").alias("v"),
            F.round(cosine(F.col("embedding"), F.col("qvec")) * 1e6)
            .cast("long")
            .alias("rel"),
        )
        .orderBy(F.desc("rel"), "doc_id")
        .limit(MMR_POOL)
        .localCheckpoint(eager=True)
    )
    a, b = pool.alias("a"), pool.alias("b")
    sim_rows = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("i"),
            F.col("b.doc_id").alias("j"),
            F.round(cosine(F.col("a.v"), F.col("b.v")) * 1e6)
            .cast("long")
            .alias("s"),
        )
        .collect()
    )
    sims = {(r["i"], r["j"]): r["s"] for r in sim_rows}
    cands = {
        r["doc_id"]: r["rel"] for r in pool.select("doc_id", "rel").collect()
    }
    lam, com = MMR_LAMBDA_MILLI, 1000 - MMR_LAMBDA_MILLI
    first = max(cands, key=lambda d: (cands[d], -d))
    picked = [(0, first, cands[first], lam * cands[first])]
    selected = [first]
    # A pool smaller than k exhausts early — the oracle's empty sel{t}
    # steps agree (both emit |pool| rows).
    for t in range(1, min(MMR_K, len(cands))):
        remaining = [d for d in cands if d not in selected]
        scored = [
            (lam * cands[d] - com * max(sims[(d, s)] for s in selected), d)
            for d in remaining
        ]
        score, d = max(scored, key=lambda x: (x[0], -x[1]))
        picked.append((t, d, cands[d], score))
        selected.append(d)
    return spark.createDataFrame(
        picked, "mmr_rank int, doc_id long, rel_micros long, score long"
    )


# --- ANN recall audit --------------------------------------------------
def _ann_recall_oracle() -> str:

    ids = ", ".join(map(str, _SIM_QUERY_IDS))
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, v AS qvec FROM e
            WHERE vec_id IN ({ids})
        ), bf AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS.format(a="q.qvec", b="c.v")} DESC,
                                    c.vec_id) AS rn
                FROM q JOIN e c ON c.vec_id <> q.query_id
            ) WHERE rn <= 5
        ), cents AS (
            SELECT vec_id AS centroid_id, v AS cvec FROM e
            ORDER BY vec_id LIMIT 16
        ), assigned AS (
            SELECT vec_id, v, centroid_id FROM (
                SELECT e.vec_id, e.v, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_COS.format(a="e.v", b="c.cvec")} DESC,
                                    c.centroid_id ASC) AS rn
                FROM e CROSS JOIN cents c
            ) WHERE rn = 1
        ), probe AS (
            SELECT query_id, qvec, centroid_id FROM (
                SELECT q.query_id, q.qvec, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS.format(a="q.qvec", b="c.cvec")} DESC,
                                    c.centroid_id ASC) AS rn
                FROM q CROSS JOIN cents c
            ) WHERE rn <= 4
        ), ivf AS (
            SELECT query_id, neighbor_id FROM (
                SELECT s.query_id, s.neighbor_id,
                       row_number() OVER (
                           PARTITION BY s.query_id
                           ORDER BY s.cosine_sim DESC, s.neighbor_id) AS rn
                FROM (
                    SELECT p.query_id, a.vec_id AS neighbor_id,
                           {_COS.format(a="p.qvec", b="a.v")} AS cosine_sim
                    FROM probe p JOIN assigned a USING (centroid_id)
                    WHERE a.vec_id <> p.query_id
                ) s
            ) WHERE rn <= 5
        )
        SELECT bf.query_id, 5::BIGINT AS k,
               count(ivf.neighbor_id)::BIGINT AS n_hits,
               round(1e6 * count(ivf.neighbor_id) / 5)::BIGINT
                   AS recall_ppm
        FROM bf LEFT JOIN ivf
          ON ivf.query_id = bf.query_id
         AND ivf.neighbor_id = bf.neighbor_id
        GROUP BY bf.query_id
    """


@register(
    "ann_recall_audit",
    oracle=_ann_recall_oracle(),
    doc="""Recall@5 of the IVF-pruned approximate nearest-neighbor path
    against the exact brute-force ranking, per query — the
    similarity-search member of the estimate-vs-exact audit family
    (near_dup_agreement_audit for the dedup detectors, the
    sketch_mergeability/countmin audits for the sketches): the number a
    100 TB deployment watches when tuning (num_centroids, nprobe),
    computed IN-QUERY so a probe-routing regression flips the hashed
    result.  Reuses the production operators verbatim
    (operators/similarity.py:cosine_topk_bruteforce /
    cosine_topk_bucketed, both driver-green as standalone queries);
    the audit join is per-(query, neighbor) over two bounded
    |queries|·k frames.  The statistical side (recall floor across
    corpus draws) is pinned by test_ivf_recall_vs_bruteforce.""",
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S

    emb = load_table(spark, "embeddings", sf_dir)
    k = 5
    exact = S.cosine_topk_bruteforce(emb, query_ids=_SIM_QUERY_IDS, k=k)
    approx = S.cosine_topk_bucketed(
        emb, query_ids=_SIM_QUERY_IDS, k=k, num_centroids=16, nprobe=4
    )
    hits = exact.select("query_id", "neighbor_id").join(
        approx.select(
            "query_id", "neighbor_id", F.lit(1).alias("hit")
        ),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.lit(k).cast("long").alias("k"),
        F.count("hit").cast("long").alias("n_hits"),
        F.round(F.lit(1e6) * F.count("hit") / F.lit(k))
        .cast("long")
        .alias("recall_ppm"),
    )


# --- Johnson–Lindenstrauss projection audit ------------------------------

_JL_IN_DIM = 64
_JL_OUT_DIM = 16


def _jl_sign(i: int, j: int) -> int:
    """Deterministic ±1 from md5 — a module-level CONSTANT matrix,
    embedded literally in both engines' plans (never recomputed from
    data, so cross-engine hash parity is structural)."""
    h = hashlib.md5(f"jl:{i}:{j}".encode()).digest()
    return 1 if h[0] % 2 == 0 else -1


_JL_SIGNS: list[list[int]] = [
    [_jl_sign(i, j) for i in range(_JL_IN_DIM)] for j in range(_JL_OUT_DIM)
]


def _jl_oracle() -> str:
    sign_rows = ",\n                ".join(
        f"({j}, {i}, {_JL_SIGNS[j][i]})"
        for j in range(_JL_OUT_DIM)
        for i in range(_JL_IN_DIM)
    )
    return f"""
        WITH m AS (
            SELECT vec_id, round(x * 1000)::BIGINT AS mv, i::BIGINT AS i
            FROM (
                SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings
            )
        ), signs AS (
            SELECT * FROM (VALUES
                {sign_rows}
            ) s(j, i, sg)
        ), proj AS (
            SELECT m.vec_id, s.j, sum(m.mv * s.sg)::BIGINT AS p
            FROM m JOIN signs s ON m.i = s.i + 1
            GROUP BY m.vec_id, s.j
        ), dproj AS (
            SELECT a.vec_id AS va,
                   sum((a.p - b.p) * (a.p - b.p))::BIGINT AS d2p
            FROM proj a JOIN proj b
              ON b.vec_id = a.vec_id + 1 AND a.j = b.j
            GROUP BY a.vec_id
        ), dorig AS (
            SELECT a.vec_id AS va,
                   sum((a.mv - b.mv) * (a.mv - b.mv))::BIGINT AS d2o
            FROM m a JOIN m b ON b.vec_id = a.vec_id + 1 AND a.i = b.i
            GROUP BY a.vec_id
        ), ratios AS (
            SELECT round(1e6 * p.d2p / ({_JL_OUT_DIM}.0 * o.d2o))::BIGINT
                       AS r_micros
            FROM dproj p JOIN dorig o ON p.va = o.va
            WHERE o.d2o > 0
        )
        SELECT count(*)::BIGINT AS n_pairs,
               ((sum(r_micros)::BIGINT) // count(*)) AS mean_ratio_micros,
               ((count(*) FILTER (abs(r_micros - 1000000) <= 200000)
                 * 1000000) // count(*)) AS p_within_20_micros,
               min(r_micros)::BIGINT AS min_ratio_micros,
               max(r_micros)::BIGINT AS max_ratio_micros
        FROM ratios
    """


@register(
    "jl_projection_distortion_audit",
    oracle=_jl_oracle(),
    doc=f"""Johnson–Lindenstrauss random-sign projection audit
    (Achlioptas '03 database-friendly ±1 variant): embeddings
    milli-quantize to exact integers, project {_JL_IN_DIM}→
    {_JL_OUT_DIM} dims through a CONSTANT md5-derived sign matrix, and
    every consecutive-id pair reports the squared-distance distortion
    ratio ‖Ax−Ay‖²/(k·‖x−y‖²) in micros — mean, share within ±20%,
    min, max.  This is the go/no-go for running first-pass ANN /
    near-dup in the 4× cheaper projected space.  Determinism: the sign
    matrix is a module constant embedded literally in BOTH plans;
    projections and squared distances are exact int64; the only
    doubles are the final per-pair ratio (identical IEEE division)
    and summary floor-divisions.  Scale shape: projection is a
    zip-with fold per vector ({_JL_OUT_DIM} map-side expressions, no
    shuffle, no UDF); pairing is an equi-join on vec_id+1; the audit
    is one 1-row aggregate.  At 100 TB the same plan projects every
    embedding in one map pass — the matrix rides in the closure.""",
)
def jl_projection_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    m = emb.select("vec_id", _milli_int("embedding").alias("mv"))

    def proj_col(j: int) -> Column:
        signs = F.array(*[F.lit(s) for s in _JL_SIGNS[j]])
        return F.aggregate(
            F.zip_with("mv", signs, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias(f"p{j}")

    proj = m.select(
        "vec_id", "mv", *[proj_col(j) for j in range(_JL_OUT_DIM)]
    )
    a, b = proj.alias("a"), proj.alias("b")
    d2p = sum(
        (F.col(f"a.p{j}") - F.col(f"b.p{j}"))
        * (F.col(f"a.p{j}") - F.col(f"b.p{j}"))
        for j in range(_JL_OUT_DIM)
    )
    d2o = F.aggregate(
        F.zip_with("a.mv", "b.mv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ratios = (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(d2p.alias("d2p"), d2o.alias("d2o"))
        .where(F.col("d2o") > 0)
        .select(
            F.round(
                F.lit(1e6)
                * F.col("d2p")
                / (F.lit(float(_JL_OUT_DIM)) * F.col("d2o"))
            )
            .cast("long")
            .alias("r_micros")
        )
    )
    return ratios.agg(
        F.count("*").alias("n_pairs"),
        _idiv(F.sum("r_micros"), F.count("*")).alias("mean_ratio_micros"),
        _idiv(
            F.sum(
                F.when(
                    F.abs(F.col("r_micros") - 1_000_000) <= 200_000, 1
                ).otherwise(0)
            )
            * F.lit(1_000_000),
            F.count("*"),
        ).alias("p_within_20_micros"),
        F.min("r_micros").alias("min_ratio_micros"),
        F.max("r_micros").alias("max_ratio_micros"),
    )


# --- PCA top component -----------------------------------------------------

_PCA_ROUNDS = 3


def _pca_oracle() -> str:
    iters = []
    prev = "v0"
    for t in range(1, _PCA_ROUNDS + 1):
        iters.append(
            f"""w{t} AS (
            SELECT c.i, (sum(c.cv * {prev}.vv))::BIGINT AS wv
            FROM c JOIN {prev} ON c.j = {prev}.i GROUP BY c.i
        ), v{t} AS (
            SELECT w{t}.i,
                   (CASE WHEN w{t}.wv < 0 THEN -1 ELSE 1 END)
                   * (CASE WHEN mx.mx > 0
                           THEN ((abs(w{t}.wv) * 1000) // mx.mx)
                           ELSE 0 END) AS vv
            FROM w{t} CROSS JOIN
                 (SELECT max(abs(wv))::BIGINT AS mx FROM w{t}) mx
        )"""
        )
        prev = f"v{t}"
    return f"""
        WITH m AS (
            SELECT vec_id, round(x * 1000)::BIGINT AS v, i::BIGINT AS i
            FROM (
                SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings
            )
        ), nn AS (SELECT count(*)::BIGINT AS n FROM embeddings),
        t AS (SELECT i, (sum(v))::BIGINT AS ti FROM m GROUP BY i),
        s AS (
            SELECT a.i AS i, b.i AS j, (sum(a.v * b.v))::BIGINT AS sij
            FROM m a JOIN m b ON a.vec_id = b.vec_id GROUP BY a.i, b.i
        ), c AS (
            SELECT s.i, s.j,
                   (round(1000 * ((s.sij::DOUBLE
                                   - ta.ti::DOUBLE * tb.ti / nn.n)
                                  / nn.n)))::BIGINT AS cv
            FROM s JOIN t ta ON s.i = ta.i JOIN t tb ON s.j = tb.i
            CROSS JOIN nn
        ), v0 AS (SELECT i, 1000::BIGINT AS vv FROM t),
        {", ".join(iters)},
        w_fin AS (
            SELECT c.i, (sum(c.cv * {prev}.vv))::BIGINT AS wv
            FROM c JOIN {prev} ON c.j = {prev}.i GROUP BY c.i
        ), num AS (
            SELECT (sum({prev}.vv * w_fin.wv))::BIGINT AS a
            FROM {prev} JOIN w_fin ON {prev}.i = w_fin.i
        ), den AS (SELECT (sum(vv * vv))::BIGINT AS dd FROM {prev}),
        tr AS (SELECT (sum(cv))::BIGINT AS tv FROM c WHERE i = j)
        SELECT {prev}.i AS dim, {prev}.vv AS loading_milli,
               (num.a // den.dd) AS lambda_milli,
               (((num.a // den.dd) * 1000000) // tr.tv) AS evr_micros
        FROM {prev}, num, den, tr
        ORDER BY dim
    """


@register(
    "pca_top_component",
    oracle=_pca_oracle(),
    doc=f"""Top principal component of the embedding cloud by
    {_PCA_ROUNDS} fixed power-iteration rounds: embeddings
    milli-quantize to exact ints, the centered covariance becomes a
    64×64 FRAME of integer milli-units (cv = round(1000·cov)), and
    each iteration is an exact int64 mat-vec (one equi-join + grouped
    sum) followed by max-norm renormalization
    sign(w)·⌊|w|·1000/max|w|⌋ — no float ever enters the loop, so
    cross-engine parity is structural.  Output: the 64 loadings in
    milli-units plus the Rayleigh-quotient eigenvalue (covariance
    milli-units) and its explained-variance share of the trace in
    micros.  Determinism: the only doubles are the one fixed-order
    centering expression per covariance cell; power-iteration sign is
    fixed by the all-ones start.  Scale shape: the Gram pass is ONE
    shuffle keyed by (i, j) with map-side partial aggregation (each
    executor emits ≤ 64² partials regardless of row count); the
    covariance frame localCheckpoints once (4 reuses), and every
    iteration joins 64-row frames against it — driver never holds a
    matrix.  At 100 TB the identical plan runs; the d×d frame only
    grows with EMBEDDING dimension, not rows.  (A mapInPandas
    per-batch outer-product would cut the explode fan-out constant;
    the shuffle volume is already the 64²-partial minimum.)""",
)
def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    mv = emb.select(_milli_int("embedding").alias("mv"))
    nn = emb.agg(F.count("*").alias("n"))
    # One narrow pass: row-local outer product via nested posexplode
    # (no self-join shuffle — the oracle's m⋈m on vec_id is row-local
    # here, so only the 64²-group partial aggregates ever move).
    mi = mv.select("mv", F.posexplode("mv").alias("pos", "vi")).select(
        "mv", (F.col("pos") + 1).alias("i"), "vi"
    )
    # Materialize the 64-row dimension-sums frame once: it feeds the
    # covariance twice (ta/tb broadcasts) and seeds v0, and without the
    # cut each reference re-ran the full explode+aggregate — the before
    # plan showed 64 parquet scans (guide §1.2 step 1).  3 scans after
    # (t's job, nn's count, the covariance job).
    t = mi.groupBy("i").agg(F.sum("vi").alias("ti")).localCheckpoint(eager=True)
    s = (
        mi.select("i", "vi", F.posexplode("mv").alias("pos2", "vj"))
        .groupBy("i", (F.col("pos2") + 1).alias("j"))
        .agg(F.sum(F.col("vi") * F.col("vj")).alias("sij"))
    )
    ta = F.broadcast(t.select(F.col("i").alias("ti_i"), F.col("ti").alias("ti_a")))
    tb = F.broadcast(t.select(F.col("i").alias("tj_i"), F.col("ti").alias("ti_b")))
    c = (
        s.join(ta, s.i == ta.ti_i)
        .join(tb, s.j == tb.tj_i)
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            F.round(
                1000
                * (
                    (
                        F.col("sij").cast("double")
                        - F.col("ti_a").cast("double") * F.col("ti_b") / F.col("n")
                    )
                    / F.col("n")
                )
            )
            .cast("long")
            .alias("cv"),
        )
    ).localCheckpoint()  # 64x64 frame, reused by every iteration
    v = t.select("i", F.lit(1000).cast("long").alias("vv"))

    def matvec(vec: DataFrame) -> DataFrame:
        vj = vec.select(F.col("i").alias("j"), "vv")
        return (
            c.join(F.broadcast(vj), "j")
            .groupBy("i")
            .agg(F.sum(F.col("cv") * F.col("vv")).alias("wv"))
        )

    for _ in range(_PCA_ROUNDS):
        w = matvec(v)
        mx = w.agg(F.max(F.abs(F.col("wv"))).alias("mx"))
        v = w.crossJoin(F.broadcast(mx)).select(
            "i",
            (
                F.when(F.col("wv") < 0, -1).otherwise(1)
                * F.when(
                    F.col("mx") > 0,
                    _idiv(F.abs(F.col("wv")) * 1000, F.col("mx")),
                ).otherwise(F.lit(0))
            ).cast("long").alias("vv"),
        )
    # The converged 64-row vector is read four ways below (w_fin, num,
    # den, the final select) — cut its 3-round lineage once so the
    # iteration chain executes a single time instead of per reference.
    v = v.localCheckpoint(eager=True)
    w_fin = matvec(v)
    num = (
        v.join(w_fin, "i")
        .agg(F.sum(F.col("vv") * F.col("wv")).alias("a"))
    )
    den = v.agg(F.sum(F.col("vv") * F.col("vv")).alias("dd"))
    tr = c.where(F.col("i") == F.col("j")).agg(F.sum("cv").alias("tv"))
    lam = _idiv(F.col("a"), F.col("dd"))
    return (
        v.crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tr))
        .select(
            F.col("i").alias("dim"),
            F.col("vv").alias("loading_milli"),
            lam.alias("lambda_milli"),
            _idiv(lam * 1_000_000, F.col("tv")).alias("evr_micros"),
        )
        .orderBy("dim")
    )


# --- nearest-centroid evaluation ------------------------------------------------------


@register(
    "nearest_centroid_accuracy",
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
            SELECT label AS cand, i,
                   round((sum(v))::DOUBLE / count(*))::BIGINT AS c
            FROM m WHERE part = 0 GROUP BY label, i
        ), dist AS (
            SELECT m.vec_id, any_value(m.label) AS true_label, cent.cand,
                   (sum((m.v - cent.c) * (m.v - cent.c)))::BIGINT AS d2
            FROM m JOIN cent ON m.i = cent.i
            WHERE m.part <> 0
            GROUP BY m.vec_id, cent.cand
        ), best AS (
            SELECT d.vec_id, any_value(d.true_label) AS true_label,
                   min(d.cand) AS pred_label
            FROM dist d
            JOIN (SELECT vec_id, min(d2) AS md FROM dist GROUP BY vec_id) mn
              ON d.vec_id = mn.vec_id AND d.d2 = mn.md
            GROUP BY d.vec_id
        ), maj AS (
            SELECT max(cnt)::BIGINT AS majority
            FROM (SELECT count(*)::BIGINT AS cnt
                  FROM (SELECT DISTINCT vec_id, true_label FROM dist)
                  GROUP BY true_label)
        )
        SELECT count(*)::BIGINT AS n_eval,
               (sum(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END))
                   ::BIGINT AS n_correct,
               ((sum(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END)
                 * 1000000) // count(*))::BIGINT AS accuracy_micros,
               ((maj.majority * 1000000) // count(*))
                   AS majority_baseline_micros
        FROM best, maj
        GROUP BY maj.majority
    """,
    doc="""Nearest-class-centroid (Rocchio) classification of held-out
    embeddings: 10 class centroids fit on the vec_id%3=0 third, every
    other vector is assigned its squared-distance argmin centroid, and
    accuracy is reported against the majority-class baseline — the
    cheapest supervised answer to "do these embeddings separate the
    labels?", and the accuracy twin of conformal_coverage_audit's
    coverage view over the same geometry.  Determinism: centroids are
    milli-int rounded means, distances exact int64, argmin ties break
    to the smallest label (min-join), shares are floor micros.  Scale
    shape: one explode pass, one broadcast centroid join (|labels|·64
    rows), two grouped aggregates — the distance fan-out is
    |labels|-bounded per vector and shuffles only (vec, cand)
    partials.""",
)
def nearest_centroid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    m, cent = _class_centroid_fit(load_table(spark, "embeddings", sf_dir))
    cent = cent.withColumnRenamed("label", "cand")
    # Pinned |eval vectors| × |labels| distance frame (change-8 waist):
    # the per-vector min, the argmin join and the majority baseline all
    # read it, and without the cut each re-derived the dimension
    # explode + centroid join + per-pair aggregate.
    dist = (
        m.where(F.col("part") != 0)
        .join(F.broadcast(cent), "i")
        .groupBy("vec_id", "cand")
        .agg(
            F.first("label").alias("true_label"),
            F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias(
                "d2"
            ),
        )
        .localCheckpoint(eager=True)
    )
    mn = dist.groupBy("vec_id").agg(F.min("d2").alias("md"))
    best = (
        dist.join(mn, "vec_id")
        .where(F.col("d2") == F.col("md"))
        .groupBy("vec_id")
        .agg(
            F.first("true_label").alias("true_label"),
            F.min("cand").alias("pred_label"),
        )
    )
    maj = (
        dist.select("vec_id", "true_label")
        .distinct()
        .groupBy("true_label")
        .agg(F.count("*").alias("cnt"))
        .agg(F.max("cnt").alias("majority"))
    )
    correct = F.when(F.col("true_label") == F.col("pred_label"), 1).otherwise(0)
    return best.crossJoin(F.broadcast(maj)).agg(
        F.count("*").alias("n_eval"),
        F.sum(correct).alias("n_correct"),
        _idiv(F.sum(correct) * 1_000_000, F.count("*")).alias("accuracy_micros"),
        _idiv(F.first("majority") * 1_000_000, F.count("*")).alias(
            "majority_baseline_micros"
        ),
    )


# --- IVF probe recall/cost audit ------------------------------------------

# Probe counts swept by the design table; the candidate frame is built
# once at max(IVF_PROBES) with each candidate's centroid rank attached,
# so a probe row is a FILTER, not a recompute.
IVF_PROBES = (1, 2, 4, 8)
IVF_K = 5
IVF_CENTROIDS = 16


def _ivf_audit_oracle() -> str:
    qids = ", ".join(map(str, _SIM_QUERY_IDS))
    nq = len(_SIM_QUERY_IDS)
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        cents AS (
            SELECT vec_id AS centroid_id, v AS cvec FROM e
            ORDER BY vec_id LIMIT {IVF_CENTROIDS}
        ),
        assigned AS (
            SELECT vec_id, v, centroid_id FROM (
                SELECT e.vec_id, e.v, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_COS.format(a="e.v", b="c.cvec")} DESC,
                                    c.centroid_id ASC) AS rn
                FROM e CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        q AS (
            SELECT vec_id AS query_id, v AS qvec FROM e
            WHERE vec_id IN ({qids})
        ),
        cranks AS (
            SELECT query_id, qvec, centroid_id, rn AS crank FROM (
                SELECT q.query_id, q.qvec, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS.format(a="q.qvec", b="c.cvec")} DESC,
                                    c.centroid_id ASC) AS rn
                FROM q CROSS JOIN cents c
            ) WHERE rn <= {max(IVF_PROBES)}
        ),
        cand AS (
            SELECT cr.query_id, cr.crank, a.vec_id AS neighbor_id,
                   {_COS.format(a="cr.qvec", b="a.v")} AS cosine_sim
            FROM cranks cr JOIN assigned a USING (centroid_id)
            WHERE a.vec_id <> cr.query_id
        ),
        probes(nprobe) AS (
            VALUES {", ".join(f"({p})" for p in IVF_PROBES)}
        ),
        expanded AS (
            SELECT p.nprobe, c.query_id, c.neighbor_id, c.cosine_sim
            FROM probes p JOIN cand c ON c.crank <= p.nprobe
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS.format(a="q.qvec", b="c.v")} DESC,
                                    c.vec_id ASC) AS rn
                FROM q JOIN e c ON c.vec_id <> q.query_id
            ) WHERE rn <= {IVF_K}
        ),
        topk AS (
            SELECT nprobe, query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY nprobe, query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS rn
                FROM expanded
            ) WHERE rn <= {IVF_K}
        ),
        hits AS (
            SELECT nprobe, count(*)::BIGINT AS n_hits
            FROM topk t
            WHERE EXISTS (SELECT 1 FROM exact x
                          WHERE x.query_id = t.query_id
                            AND x.neighbor_id = t.neighbor_id)
            GROUP BY nprobe
        ),
        nc AS (
            SELECT nprobe, count(*)::BIGINT AS n_candidates
            FROM expanded GROUP BY nprobe
        ),
        corp AS (SELECT count(*)::BIGINT AS n FROM e)
        SELECT nc.nprobe::BIGINT AS nprobe,
               nc.n_candidates,
               coalesce(h.n_hits, 0)::BIGINT AS n_hits,
               ((coalesce(h.n_hits, 0) * 1000000)
                    // {nq * IVF_K})::BIGINT AS recall_micros,
               ((nc.n_candidates * 1000000)
                    // ({nq} * (corp.n - 1)))::BIGINT AS cand_share_micros
        FROM nc LEFT JOIN hits h USING (nprobe), corp
    """


@register(
    "ivf_probe_recall_audit",
    oracle=_ivf_audit_oracle(),
    doc=f"""Measured recall/cost design table for the IVF similarity
    path (operators/similarity.py:cosine_topk_bucketed; the empirical
    twin of lsh_banding_tradeoff_audit for the other ANN family): for
    each probe count in {IVF_PROBES}, the top-{IVF_K} produced by
    scanning only the nprobe closest of {IVF_CENTROIDS} clusters is
    compared against the exact top-{IVF_K}, reporting hit count,
    floor-micros recall@{IVF_K}, scored-candidate volume, and the
    candidate share of the full brute-force pair space — the page a
    user reads to pick nprobe.  Semantics replicate sim_topk_ivf
    exactly (smallest-id centroid seeding, round-6 cosine, centroid-id
    and neighbor-id tiebreaks).  Determinism: exact counts and
    floor-micros; denominators are structural constants (|q| x k; the
    corpus must have > 1 vector).  Scale shape: ONE candidate frame is
    built at max-probe with the centroid rank attached and checkpointed
    (slim: 4 columns, <= |q| x corpus rows), so each probe row is a
    filter + window over it, not a recompute; the probe dimension is a
    declared-bounded {len(IVF_PROBES)}-row broadcast; the exact top-k
    baseline is the one brute-force pass the audit exists to
    amortize away.""",
)
def ivf_probe_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    cents, _ = S.assign_centroids(emb, IVF_CENTROIDS)
    exact = S.cosine_topk_bruteforce(
        emb, query_ids=list(_SIM_QUERY_IDS), k=IVF_K
    ).select("query_id", "neighbor_id")
    return _ivf_audit_frame(spark, emb, cents, exact)


def _ivf_audit_frame(
    spark: SparkSession,
    emb: DataFrame,
    cents: DataFrame,
    exact: DataFrame,
    quantizer: str | None = None,
    query_ids: tuple[int, ...] | list[int] = tuple(_SIM_QUERY_IDS),
) -> DataFrame:
    """The probe-sweep audit body shared by the seed-quantizer audit
    above and the round-10 trained-quantizer audit
    (ivf_kmeans_recall_audit): one scored-candidate
    frame at max-probe with the centroid rank attached, each probe row
    a FILTER over it.  ``cents`` is any ``(centroid_id, cvec)`` coarse
    quantizer; ``quantizer`` (when set) prepends a literal tag column
    so two quantizers' reports can union into one design table;
    ``query_ids`` lets that comparison pick queries DISJOINT from the
    seed sample (a query that IS a centroid gets its own
    perfectly-centered cluster — a structural recall bias)."""
    assigned = S.assign_to_centroids(emb, cents)
    # Query/corpus norms hoisted into per-row columns before the joins
    # (round-10 optimization, see similarity.cosine_with_norms):
    # bit-identical values, but the interpreted norm fold runs once per
    # row instead of once per scored pair.
    q = emb.where(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        S._norm(F.col("embedding")).alias("_qn"),
    )
    nq = len(query_ids)
    cranks = (
        q.crossJoin(F.broadcast(cents.withColumn("_ctn", S._norm(F.col("cvec")))))
        .select(
            "query_id",
            "qvec",
            "_qn",
            "centroid_id",
            F.round(
                S.cosine_with_norms(
                    F.col("qvec"), F.col("cvec"), F.col("_qn"), F.col("_ctn")
                ),
                6,
            ).alias("c_sim"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("c_sim"), F.asc("centroid_id")
                )
            ),
        )
        .where(F.col("crank") <= max(IVF_PROBES))
        .select("query_id", "qvec", "_qn", "centroid_id", "crank")
    )
    # One scored-candidate frame at max-probe, centroid rank attached;
    # checkpointed because BOTH the per-probe top-k and the per-probe
    # candidate count consume it (the banding-audit persist lesson —
    # without the pin the cosine join recomputes per aggregate).
    cand = (
        assigned.withColumn("_cn", S._norm(F.col("embedding")))
        .join(F.broadcast(cranks), "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "crank",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                S.cosine_with_norms(
                    F.col("qvec"),
                    F.col("embedding"),
                    F.col("_qn"),
                    F.col("_cn"),
                ),
                6,
            ).alias("cosine_sim"),
        )
        .localCheckpoint(eager=True)
    )
    # Declared-bounded crossJoin: the probe dimension is exactly
    # len(IVF_PROBES) literal rows.
    probes = spark.createDataFrame(
        [(p,) for p in IVF_PROBES], "nprobe long"
    )
    expanded = cand.crossJoin(F.broadcast(probes)).where(
        F.col("crank") <= F.col("nprobe")
    )
    topk = (
        expanded.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("nprobe", "query_id").orderBy(
                    F.desc("cosine_sim"), F.asc("neighbor_id")
                )
            ),
        )
        .where(F.col("rn") <= IVF_K)
        .select("nprobe", "query_id", "neighbor_id")
    )
    hits = (
        topk.join(F.broadcast(exact), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    nc = expanded.groupBy("nprobe").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    corp = emb.agg(F.count("*").cast("long").alias("n"))
    report = (
        nc.join(hits, "nprobe", "left")
        .na.fill(0, ["n_hits"])
        .crossJoin(F.broadcast(corp))
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            "n_candidates",
            F.col("n_hits").cast("long").alias("n_hits"),
            _idiv(F.col("n_hits") * _M, F.lit(nq * IVF_K)).alias(
                "recall_micros"
            ),
            _idiv(
                F.col("n_candidates") * _M, F.lit(nq) * (F.col("n") - 1)
            ).alias("cand_share_micros"),
        )
    )
    if quantizer is not None:
        report = report.select(
            F.lit(quantizer).alias("quantizer"), "*"
        )
    return report


# Query set for the quantizer COMPARISON, deliberately disjoint from
# the seed sample (vec_ids 0..15): a query that IS a seed centroid gets
# its own perfectly-centered cluster, a structural recall bias toward
# 'seed' that has nothing to do with quantizer quality (measured: it
# flipped the sf0.01 table).  sim_topk_ivf_kmeans keeps _SIM_QUERY_IDS
# so it stays directly comparable to its sim_topk_ivf twin.
IVFK_QUERY_IDS = (20, 21, 22, 23, 24)


# --- shared oracle pieces ---------------------------------------------------


def _quantizer_ctes() -> str:
    """CTE chain defining BOTH quantizers over the embeddings corpus:
    ``e`` (double-cast vectors), the unrolled k-means chain ending in
    the final-update centroids, ``kcents`` (trained) and ``scents``
    (seed sample) in the common ``(centroid_id, cvec)`` shape."""
    ctes, last = _kmeans_ctes(
        k=IVF_CENTROIDS, iters=KM_ITERS, dim=KM_DIM, final_update=True
    )
    ctes.append(
        f"kcents AS (SELECT cid::BIGINT AS centroid_id, c AS cvec FROM {last})"
    )
    ctes.append(
        f"""scents AS (
            SELECT vec_id AS centroid_id, v AS cvec FROM e
            ORDER BY vec_id LIMIT {IVF_CENTROIDS}
        )"""
    )
    return ",\n".join(ctes)


def _assigned_cte(tag: str, cents: str) -> str:
    """Nearest-centroid assignment by rounded-6 cosine with centroid-id
    tiebreak — the one definition both quantizers share
    (operators/similarity.py:assign_to_centroids)."""
    return f"""{tag}_assigned AS (
            SELECT vec_id, v, centroid_id FROM (
                SELECT e.vec_id, e.v, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_COS.format(a="e.v", b="c.cvec")} DESC,
                                    c.centroid_id ASC) AS rn
                FROM e CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""


def _audit_half_ctes(tag: str, cents: str) -> str:
    """The per-quantizer audit pipeline: assignment, query probe ranks,
    probe-expanded candidates, per-probe top-k, hits vs exact,
    candidate counts."""
    return f"""{_assigned_cte(tag, cents)},
        {tag}_cranks AS (
            SELECT query_id, qvec, centroid_id, rn AS crank FROM (
                SELECT q.query_id, q.qvec, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS.format(a="q.qvec", b="c.cvec")} DESC,
                                    c.centroid_id ASC) AS rn
                FROM q CROSS JOIN {cents} c
            ) WHERE rn <= {max(IVF_PROBES)}
        ),
        {tag}_exp AS (
            SELECT p.nprobe, cc.query_id, cc.neighbor_id, cc.cosine_sim
            FROM probes p JOIN (
                SELECT cr.query_id, cr.crank, a.vec_id AS neighbor_id,
                       {_COS.format(a="cr.qvec", b="a.v")} AS cosine_sim
                FROM {tag}_cranks cr
                JOIN {tag}_assigned a USING (centroid_id)
                WHERE a.vec_id <> cr.query_id
            ) cc ON cc.crank <= p.nprobe
        ),
        {tag}_topk AS (
            SELECT nprobe, query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY nprobe, query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS rn
                FROM {tag}_exp
            ) WHERE rn <= {IVF_K}
        ),
        {tag}_hits AS (
            SELECT nprobe, count(*)::BIGINT AS n_hits
            FROM {tag}_topk t
            WHERE EXISTS (SELECT 1 FROM exact x
                          WHERE x.query_id = t.query_id
                            AND x.neighbor_id = t.neighbor_id)
            GROUP BY nprobe
        ),
        {tag}_nc AS (
            SELECT nprobe, count(*)::BIGINT AS n_candidates
            FROM {tag}_exp GROUP BY nprobe
        )"""


def _audit_half_select(tag: str, name: str) -> str:
    nq = len(IVFK_QUERY_IDS)
    return f"""SELECT '{name}' AS quantizer,
               nc.nprobe::BIGINT AS nprobe,
               nc.n_candidates,
               coalesce(h.n_hits, 0)::BIGINT AS n_hits,
               ((coalesce(h.n_hits, 0) * 1000000)
                    // {nq * IVF_K})::BIGINT AS recall_micros,
               ((nc.n_candidates * 1000000)
                    // ({nq} * (corp.n - 1)))::BIGINT AS cand_share_micros
        FROM {tag}_nc nc LEFT JOIN {tag}_hits h USING (nprobe), corp"""


def _ivf_kmeans_audit_oracle() -> str:
    qids = ", ".join(map(str, IVFK_QUERY_IDS))
    return f"""
        WITH {_quantizer_ctes()},
        q AS (
            SELECT vec_id AS query_id, v AS qvec FROM e
            WHERE vec_id IN ({qids})
        ),
        probes(nprobe) AS (
            VALUES {", ".join(f"({p})" for p in IVF_PROBES)}
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS.format(a="q.qvec", b="c.v")} DESC,
                                    c.vec_id ASC) AS rn
                FROM q JOIN e c ON c.vec_id <> q.query_id
            ) WHERE rn <= {IVF_K}
        ),
        corp AS (SELECT count(*)::BIGINT AS n FROM e),
        {_audit_half_ctes("seed", "scents")},
        {_audit_half_ctes("km", "kcents")}
        SELECT * FROM (
            {_audit_half_select("seed", "seed")}
            UNION ALL
            {_audit_half_select("km", "kmeans")}
        )
    """


# --- Spark-side trained quantizer -------------------------------------------


def _trained_cents(emb: DataFrame) -> DataFrame:
    """k-means-trained IVF coarse quantizer over the embeddings corpus
    (k = IVF_CENTROIDS, the registry k-means contract's iters/dim),
    eagerly pinned: the 16-row frame feeds two broadcast joins per
    consumer and the Lloyd loop should run once."""
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return kmeans_centroids(
        e, k=IVF_CENTROIDS, iters=KM_ITERS, dim=KM_DIM
    ).localCheckpoint(eager=True)


@register(
    "ivf_kmeans_recall_audit",
    oracle=_ivf_kmeans_audit_oracle(),
    doc=f"""Trained-vs-naive IVF quantizer design table (the round-9
    probe audit re-run with a REAL coarse quantizer): for each probe
    count in {IVF_PROBES} and each quantizer — 'seed' (the {IVF_CENTROIDS}
    smallest-id corpus vectors) and 'kmeans' (Lloyd-trained centroids,
    operators/ml.py:kmeans_centroids, the registry k-means contract
    plus one final update) — the recall@{IVF_K} against the exact
    top-{IVF_K} and the scored-candidate share.  The per-probe recall
    DELTA between the two rows is the lift a curation run buys by
    training the quantizer before building the index.  Assignment and
    probing share one definition (assign_to_centroids: rounded-6
    cosine, centroid-id tiebreak), so the table isolates centroid
    quality.  The audit's query set ({IVFK_QUERY_IDS}) is DISJOINT
    from the seed sample: a query that is itself a seed centroid gets
    a perfectly-centered cluster for free, a structural bias toward
    'seed' the comparison must exclude.  Determinism: the k-means
    rounded-6 lockstep chain, exact counts, floor-micros ratios,
    structural denominators.  Scale
    shape: per quantizer, ONE candidate frame at max-probe
    (checkpointed; probe rows are filters over it), one exact-top-k
    brute pass SHARED by both halves, and the Lloyd loop's
    per-iteration broadcast scan + k-group aggregate — no all-pairs
    stage beyond the declared brute baseline the audit calibrates
    against.""",
)
def ivf_kmeans_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    seed_cents, _ = S.assign_centroids(emb, IVF_CENTROIDS)
    # One brute-force exact pass shared by both halves, pinned so the
    # second half's semi-join does not rescan the corpus pair space.
    exact = (
        S.cosine_topk_bruteforce(emb, query_ids=list(IVFK_QUERY_IDS), k=IVF_K)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    # The two quantizer branches are independent driver-sequenced
    # pipelines (the Lloyd loop's per-iteration collects, each audit's
    # eager candidate checkpoint) — overlap them on driver threads
    # (guide §2.6 / operators/overlap.py); both frames are
    # bit-identical to the serial build.
    from ..operators.overlap import run_concurrently

    seed, km = run_concurrently(
        [
            lambda: _ivf_audit_frame(
                spark, emb, seed_cents, exact,
                quantizer="seed", query_ids=IVFK_QUERY_IDS,
            ),
            lambda: _ivf_audit_frame(
                spark, emb, _trained_cents(emb), exact,
                quantizer="kmeans", query_ids=IVFK_QUERY_IDS,
            ),
        ]
    )
    return seed.unionByName(km)


@register(
    "sim_topk_ivf_kmeans",
    oracle=f"""
        WITH {_quantizer_ctes()},
        {_assigned_cte("km", "kcents")},
        q AS (
            SELECT vec_id AS query_id, v AS qvec FROM e
            WHERE vec_id IN ({", ".join(map(str, _SIM_QUERY_IDS))})
        ),
        probe AS (
            SELECT query_id, qvec, centroid_id FROM (
                SELECT q.query_id, q.qvec, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS.format(a="q.qvec", b="c.cvec")} DESC,
                                    c.centroid_id ASC) AS rn
                FROM q CROSS JOIN kcents c
            ) WHERE rn <= 4
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {_COS.format(a="p.qvec", b="a.v")} AS cosine_sim
            FROM probe p JOIN km_assigned a USING (centroid_id)
            WHERE a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cosine_sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id) AS rn
            FROM scored
        ) WHERE rn <= {IVF_K}
    """,
    doc=f"""The IVF search path with the TRAINED quantizer: exactly
    sim_topk_ivf's semantics (probe the 4 nearest of {IVF_CENTROIDS}
    clusters, rounded-6 cosines, id tiebreaks) with the smallest-id
    seed centroids replaced by the k-means means — the production
    variant ivf_kmeans_recall_audit's design table justifies.  At
    100 TB the corpus is partitioned by the trained centroid id; a
    query still touches nprobe/C of the data, but the clusters now
    tile the vector space instead of huddling around the first rows
    of the table (operators/similarity.py:cosine_topk_bucketed with
    an external quantizer).""",
)
def sim_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return S.cosine_topk_bucketed(
        emb,
        query_ids=list(_SIM_QUERY_IDS),
        k=IVF_K,
        nprobe=4,
        centroids=_trained_cents(emb),
    )


@register(
    "ivf_quantizer_balance_audit",
    oracle=f"""
        WITH {_quantizer_ctes()},
        {_assigned_cte("seed", "scents")},
        {_assigned_cte("km", "kcents")},
        seed_sz AS (
            SELECT centroid_id, count(*)::BIGINT AS csz
            FROM seed_assigned GROUP BY centroid_id
        ),
        km_sz AS (
            SELECT centroid_id, count(*)::BIGINT AS csz
            FROM km_assigned GROUP BY centroid_id
        )
        SELECT * FROM (
            SELECT 'seed' AS quantizer,
                   count(*)::BIGINT AS n_clusters,
                   sum(csz)::BIGINT AS n_vectors,
                   min(csz)::BIGINT AS min_cluster,
                   max(csz)::BIGINT AS max_cluster,
                   ((max(csz)::BIGINT * 1000000 * count(*)::BIGINT)
                        // sum(csz)::BIGINT)::BIGINT AS imbalance_micros
            FROM seed_sz
            UNION ALL
            SELECT 'kmeans' AS quantizer,
                   count(*)::BIGINT AS n_clusters,
                   sum(csz)::BIGINT AS n_vectors,
                   min(csz)::BIGINT AS min_cluster,
                   max(csz)::BIGINT AS max_cluster,
                   ((max(csz)::BIGINT * 1000000 * count(*)::BIGINT)
                        // sum(csz)::BIGINT)::BIGINT AS imbalance_micros
            FROM km_sz
        )
    """,
    doc="""Cluster-occupancy skew per IVF quantizer: non-empty cluster
    count, min/max cluster size, and max-over-mean occupancy in floor
    micros (1e6 = perfectly balanced).  At 100 TB the IVF cluster IS
    the storage partition — probing a cluster scans it — so a
    quantizer whose hottest cluster holds half the corpus turns the
    average probe into a skew-join problem no AQE can fix after the
    fact.  This is the partition-skew twin of key_skew_audit for the
    ANN layout, and the second axis (besides recall) on which the
    seed-vs-kmeans choice is made.  Determinism: exact integer counts;
    the micros pre-multiply runs in int64 on both engines (oracle
    casts ::BIGINT before multiplying), bounding n_vectors·16e6 below
    int64 symmetrically.  Scale shape: one assignment scan per
    quantizer, a |clusters|-row aggregate each, 2 report rows.""",
)
def ivf_quantizer_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    seed_cents, _ = S.assign_centroids(emb, IVF_CENTROIDS)
    halves = []
    for name, cents in (("seed", seed_cents), ("kmeans", _trained_cents(emb))):
        sz = (
            S.assign_to_centroids(emb, cents)
            .groupBy("centroid_id")
            .agg(F.count("*").alias("csz"))
        )
        halves.append(
            sz.agg(
                F.count("*").cast("long").alias("n_clusters"),
                F.sum("csz").cast("long").alias("n_vectors"),
                F.min("csz").cast("long").alias("min_cluster"),
                F.max("csz").cast("long").alias("max_cluster"),
            ).select(
                F.lit(name).alias("quantizer"),
                "n_clusters",
                "n_vectors",
                "min_cluster",
                "max_cluster",
                _idiv(
                    F.col("max_cluster") * _M * F.col("n_clusters"),
                    F.col("n_vectors"),
                ).alias("imbalance_micros"),
            )
        )
    return halves[0].unionByName(halves[1])


# --- quantizer retrain stability ---------------------------------------------

# The deterministic retrain subset: every even vec_id (the hash-half a
# weekly retrain would sample).  Plain modulus so the oracle's filter is
# trivially identical.
STABILITY_HALF_WHERE = "embeddings WHERE vec_id % 2 = 0"


def _stability_oracle() -> str:
    h_ctes, h_last = _kmeans_ctes(
        k=IVF_CENTROIDS,
        iters=KM_ITERS,
        dim=KM_DIM,
        final_update=True,
        prefix="h",
        source=STABILITY_HALF_WHERE,
    )
    h_chain = ",\n".join(h_ctes)
    return f"""
        WITH {_quantizer_ctes()},
        {h_chain},
        hcents AS (SELECT cid::BIGINT AS centroid_id, c AS cvec
                   FROM {h_last}),
        {_assigned_cte("fq", "kcents")},
        {_assigned_cte("hq", "hcents")},
        cells AS (
            SELECT f.centroid_id AS ca, h.centroid_id AS cb,
                   count(*)::BIGINT AS nij
            FROM fq_assigned f JOIN hq_assigned h USING (vec_id)
            GROUP BY 1, 2
        ), mt AS (
            SELECT (sum((nij * (nij - 1)) // 2))::BIGINT AS matched,
                   (sum(nij))::BIGINT AS n_vectors
            FROM cells
        ), ta AS (
            SELECT (sum((ai * (ai - 1)) // 2))::BIGINT AS full_pairs
            FROM (SELECT (sum(nij))::BIGINT AS ai FROM cells GROUP BY ca)
        ), tb AS (
            SELECT (sum((bj * (bj - 1)) // 2))::BIGINT AS half_pairs
            FROM (SELECT (sum(nij))::BIGINT AS bj FROM cells GROUP BY cb)
        ), z AS (
            SELECT n_vectors, matched, full_pairs, half_pairs,
                   ((n_vectors * (n_vectors - 1)) // 2) AS tot
            FROM mt, ta, tb
        )
        SELECT n_vectors, matched AS matched_pairs, full_pairs, half_pairs,
               CASE WHEN tot > 0
                    THEN (((matched + tot - full_pairs - half_pairs
                            + matched) * 1000000) // tot)
               END AS rand_index_micros,
               CASE WHEN tot > 0
                     AND ((full_pairs + half_pairs) / 2.0
                          - full_pairs::DOUBLE * half_pairs / tot) > 0
                    THEN round((matched
                                - full_pairs::DOUBLE * half_pairs / tot)
                               / ((full_pairs + half_pairs) / 2.0
                                  - full_pairs::DOUBLE * half_pairs / tot),
                               6)
               END AS ari
        FROM z
    """


@register(
    "ivf_quantizer_stability_audit",
    oracle=_stability_oracle(),
    doc=f"""Quantizer RETRAIN stability: train the k-means coarse
    quantizer twice — on the full corpus and on the deterministic half
    ``vec_id % 2 = 0`` — assign the FULL corpus with both, and score
    the two partitions' agreement by pair counting: matched same-
    cluster pairs, per-quantizer pair totals, the Rand index in floor
    micros, and the chance-corrected Adjusted Rand Index (Hubert &
    Arabie '85, the lang_id_agreement_ari machinery).  Cluster IDs are
    NOT comparable across trainings (Lloyd renumbers freely), so raw
    label agreement is meaningless — pair agreement is the drift number
    a weekly retrain pipeline reads before swapping the quantizer in,
    and the third axis (after recall and balance) of the IVF design
    table.  Both trainings share the registry k-means contract
    (k={IVF_CENTROIDS}, {KM_ITERS} rounds + final update, rounded-6
    lockstep) and both assignments share assign_to_centroids'
    definition, so the number isolates training-set sensitivity.
    Determinism: exact integer pair counts n·(n−1)/2 over the
    contingency cells; floor-micros via ``_idiv``; the final ARI is
    ONE fixed-order double expression (FP_SENSITIVE-swept).  The
    micros pre-multiply stays in int64 up to ~4e6 vectors — past that
    the decimal(38) variant is the same plan.  Scale shape: two Lloyd
    loops (per-iteration broadcast scan + k-group aggregate), two
    assignment scans, one vec_id-keyed join folded to a
    |clusters|²-bounded cell frame, then three 1-row aggregates
    combined by broadcast — no pair is ever materialized.""",
)
def ivf_quantizer_stability_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.overlap import run_concurrently

    emb = load_table(spark, "embeddings", sf_dir)
    half = emb.where(F.col("vec_id") % 2 == 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # The two Lloyd trainings are independent driver-sequenced loops —
    # overlap them (guide §2.6 / operators/overlap.py); each exported
    # centroid frame is bit-identical to the serial build.
    full_cents, half_cents = run_concurrently(
        [
            lambda: _trained_cents(emb),
            lambda: kmeans_centroids(
                half, k=IVF_CENTROIDS, iters=KM_ITERS, dim=KM_DIM
            ).localCheckpoint(eager=True),
        ]
    )
    fa = S.assign_to_centroids(emb, full_cents).select(
        "vec_id", F.col("centroid_id").alias("ca")
    )
    ha = S.assign_to_centroids(emb, half_cents).select(
        "vec_id", F.col("centroid_id").alias("cb")
    )
    cells = (
        fa.join(ha, "vec_id")
        .groupBy("ca", "cb")
        .agg(F.count("*").cast("long").alias("nij"))
    )
    z = _pair_count_sums(cells, "ca", "cb", "n_vectors", "full_pairs", "half_pairs")
    d = F.col
    exp_idx = d("full_pairs").cast("double") * d("half_pairs") / d("tot")
    ari_den = (d("full_pairs") + d("half_pairs")) / F.lit(2.0) - exp_idx
    # Degenerate guards mirror the oracle CASEs: a 0/1-vector corpus
    # zeroes tot / the ARI denominator — NULL, not a divide-by-zero.
    return z.select(
        "n_vectors",
        d("matched").alias("matched_pairs"),
        "full_pairs",
        "half_pairs",
        F.when(
            d("tot") > 0,
            _idiv(
                (d("matched") + d("tot") - d("full_pairs") - d("half_pairs")
                 + d("matched"))
                * _M,
                d("tot"),
            ),
        ).alias("rand_index_micros"),
        F.when(
            (d("tot") > 0) & (ari_den > 0),
            F.round((d("matched") - exp_idx) / ari_den, 6),
        ).alias("ari"),
    )


# --- seeding-strategy recall audit -------------------------------------------


def _kcenter_ctes(k: int, dim: int) -> list[str]:
    """Exactly-unrolled farthest-point traversal as chained CTEs over
    the corpus CTE ``e``: ``kc0`` = smallest-id vector, then per round
    the min-distance column update ``kmd{t}`` and the argmax pick
    ``kc{t+1}`` (ORDER BY md DESC, vec_id LIMIT 1) — the rounded-6
    lockstep twin of operators/ml.py:kcenter_centroids.  Ends with
    ``kccents``, the picks as a (centroid_id, cvec) quantizer."""
    dist = (
        f"round(list_reduce(list_transform(generate_series(1, {dim}),"
        " i -> (m.v[i] - p.v[i]) * (m.v[i] - p.v[i])),"
        " (x, y) -> x + y), 6)"
    )
    # Each kmd{t} is consumed TWICE (by the next pick and the next
    # update) — MATERIALIZED stops DuckDB's CTE inlining from doubling
    # the chain per round (2^k inlined corpus scans exhausted the fd
    # limit; the Spark twin's localCheckpoint is the same cut).
    ctes = [
        "kc0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
        f"""kmd0 AS MATERIALIZED (
            SELECT m.vec_id, m.v, {dist} AS md
            FROM e m CROSS JOIN kc0 p
        )""",
    ]
    for t in range(1, k):
        ctes.append(
            f"""kc{t} AS (
                SELECT vec_id, v FROM kmd{t - 1}
                ORDER BY md DESC, vec_id LIMIT 1
            )"""
        )
        if t + 1 < k:
            ctes.append(
                f"""kmd{t} AS MATERIALIZED (
                    SELECT m.vec_id, m.v, least(m.md, {dist}) AS md
                    FROM kmd{t - 1} m CROSS JOIN kc{t} p
                )"""
            )
    sel = "\n            UNION ALL ".join(
        f"SELECT {t}::BIGINT AS centroid_id, v AS cvec FROM kc{t}"
        for t in range(k)
    )
    ctes.append(f"kccents AS ({sel})")
    return ctes


def _ivf_seeding_audit_oracle() -> str:
    qids = ", ".join(map(str, IVFK_QUERY_IDS))
    kc_chain = ",\n".join(_kcenter_ctes(IVF_CENTROIDS, KM_DIM))
    return f"""
        WITH {_quantizer_ctes()},
        {kc_chain},
        q AS (
            SELECT vec_id AS query_id, v AS qvec FROM e
            WHERE vec_id IN ({qids})
        ),
        probes(nprobe) AS (
            VALUES {", ".join(f"({p})" for p in IVF_PROBES)}
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS.format(a="q.qvec", b="c.v")} DESC,
                                    c.vec_id ASC) AS rn
                FROM q JOIN e c ON c.vec_id <> q.query_id
            ) WHERE rn <= {IVF_K}
        ),
        corp AS (SELECT count(*)::BIGINT AS n FROM e),
        {_audit_half_ctes("seed", "scents")},
        {_audit_half_ctes("kct", "kccents")},
        {_audit_half_ctes("km", "kcents")}
        SELECT * FROM (
            {_audit_half_select("seed", "seed")}
            UNION ALL
            {_audit_half_select("kct", "kcenter")}
            UNION ALL
            {_audit_half_select("km", "kmeans")}
        )
    """


@register(
    "ivf_seeding_recall_audit",
    oracle=_ivf_seeding_audit_oracle(),
    doc=f"""The SEEDING axis of the IVF quantizer design table: the
    probe-sweep recall audit (probe counts {IVF_PROBES},
    recall@{IVF_K} vs the exact top-{IVF_K}, scored-candidate share)
    run over THREE quantizers — 'seed' (the {IVF_CENTROIDS} smallest-id
    vectors), 'kcenter' (deterministic farthest-point traversal, the
    derandomized k-means++ D² rule: operators/ml.py:kcenter_centroids)
    and 'kmeans' (Lloyd-trained from the naive init).  The table
    answers the design question ivf_kmeans_recall_audit raised: how
    much of the trained quantizer's recall lift is CENTROID SPREAD
    (which seeding alone buys, no training loop) vs actual density
    adaptation (which costs {KM_ITERS} Lloyd rounds)?  Assignment and
    probing share one definition across all three, so rows differ only
    by centroid placement.  Queries ({IVFK_QUERY_IDS}) stay disjoint
    from the seed sample (the round-10 bias rule).  Determinism:
    rounded-6 lockstep distances in both the traversal and the audit,
    id tiebreaks everywhere, exact counts, floor-micros ratios.  Scale
    shape: the traversal is k incremental least()-update scans with a
    1-row argmax collect each (k·dim driver scalars — the
    greedy_source_coverage collect class); per quantizer the audit
    keeps ONE max-probe candidate frame with probe rows as filters; the
    exact brute pass is computed once and shared by all three
    halves.""",
)
def ivf_seeding_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.overlap import run_concurrently

    emb = load_table(spark, "embeddings", sf_dir)
    seed_cents, _ = S.assign_centroids(emb, IVF_CENTROIDS)
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # One brute-force exact pass shared by all three halves.
    exact = (
        S.cosine_topk_bruteforce(emb, query_ids=list(IVFK_QUERY_IDS), k=IVF_K)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )

    # The three quantizer branches are INDEPENDENT driver-sequenced
    # pipelines (k-center's per-round argmax collects, the Lloyd loop's
    # per-iteration update collects, each audit's eager candidate
    # checkpoint).  Overlapping them on driver threads (guide §2.6 /
    # operators/overlap.py) fills each branch's job-floor gaps with the
    # others' tasks; every branch's frame — and therefore the union —
    # is bit-identical to the serial build (round-10 optimization:
    # 11.8 s → max-branch wall).
    def seed_half():
        return _ivf_audit_frame(
            spark, emb, seed_cents, exact, quantizer="seed",
            query_ids=IVFK_QUERY_IDS,
        )

    def kcenter_half():
        kc_cents = kcenter_centroids(
            e, k=IVF_CENTROIDS, dim=KM_DIM
        ).localCheckpoint(eager=True)
        return _ivf_audit_frame(
            spark, emb, kc_cents, exact, quantizer="kcenter",
            query_ids=IVFK_QUERY_IDS,
        )

    def kmeans_half():
        return _ivf_audit_frame(
            spark, emb, _trained_cents(emb), exact, quantizer="kmeans",
            query_ids=IVFK_QUERY_IDS,
        )

    halves = run_concurrently([seed_half, kcenter_half, kmeans_half])
    return halves[0].unionByName(halves[1]).unionByName(halves[2])
