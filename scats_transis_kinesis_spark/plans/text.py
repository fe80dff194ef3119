"""Text and multimodal queries over the document corpus.

Tokenization, quality, language ID, fingerprints and chunking; the
corpus-cleaning pipeline and its decision log; redaction, repetition
signals and regex extraction; tokenizer induction (BPE merges),
vocabulary, n-gram and language-model statistics; keyword extraction,
Zipf/Heaps fits, language-ID evaluation; and the multimodal payload
plumbing (``mapInPandas`` features, frame sampling, binary stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..operators import multimodal as M
from ..operators import text as X
from ..operators.dedup import SHINGLE_N, shingle_sets
from ..operators.multimodal import extract_features, sample_frames
from ..operators.relational import bucketed_prefix_sums
from ..operators.text import EN_STOPWORDS, quality_expr, stopword_ratio, tokens
from ..sources.loaders import load_table
from .common import _H64, _STOPLIST_SQL
from .registry import register


# --- text analysis --------------------------------------------------------


@register(
    "text_token_stats",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) AS n_chars_measured,
               round(list_sum(list_transform(string_split(text, ' '), t -> length(t)))::DOUBLE
                     / len(string_split(text, ' ')), 6) AS mean_token_len
        FROM documents
    """,
    doc="Tokenization stats (operators/text.py:token_stats).",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.token_stats(load_table(spark, "documents", sf_dir))


@register(
    "text_quality",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, text,
                   string_split(text, ' ') AS w,
                   len(list_filter(string_split(text, ' '),
                       t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                       / len(string_split(text, ' ')) AS stop_r,
                   length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                       / length(text) AS punct_r
            FROM documents
        )
        SELECT doc_id,
               len(w) AS n_tokens,
               round(stop_r, 6) AS stop_ratio,
               round(punct_r, 6) AS punct_ratio,
               round(0.4 * least(len(w) / 100.0, 1.0) + 0.3 * stop_r + 0.3 * (1 - punct_r), 6)
                   AS quality
        FROM t
    """,
    doc="Quality scoring: length/stopword/punctuation heuristic (operators/text.py:quality_score).",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.quality_score(load_table(spark, "documents", sf_dir))


@register(
    "text_lang_id",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '),
                       t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                       / len(string_split(text, ' ')) AS r
            FROM documents
        )
        SELECT doc_id, round(r, 6) AS en_stop_ratio,
               CASE WHEN r > 0.05 THEN 'en' ELSE 'und' END AS lang_guess
        FROM t
    """,
    doc="Language-ID heuristic via stopword density (operators/text.py:lang_id).",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.lang_id(load_table(spark, "documents", sf_dir))


@register(
    "text_fingerprint",
    oracle=f"""
        SELECT doc_id,
               {_H64.format(e='text')} AS fp,
               {_H64.format(e=("trim(regexp_replace(regexp_replace(lower(text), "
                               "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"))} AS fp_norm
        FROM documents
    """,
    doc="Document fingerprints, raw + normalized (operators/text.py:fingerprint).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.fingerprint(load_table(spark, "documents", sf_dir))


# --- multimodal -----------------------------------------------------------


@register(
    "multimodal_payload_stats",
    oracle="""
        SELECT doc_id AS media_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS payload_md5,
               'text/plain' AS mime
        FROM documents
    """,
    doc="""Multimodal binary-column plumbing: opaque payload + typed
    metadata, byte stats as pure column ops
    (operators/multimodal.py:payload_stats).  Decode itself is stubbed
    (no codecs in container) — plumbing exercised in unit tests via the
    deterministic fake extractor.""",
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.payload_stats(M.documents_as_media(load_table(spark, "documents", sf_dir)))


# GPT-2-flavored coarse token classes: letter runs, digit runs, single
# other non-space symbols.  Same regex semantics in Java (Spark) and
# RE2 (DuckDB) for this class-only pattern.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "text_bpe_tokens",
    oracle=f"""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_ws_tokens,
               len(regexp_extract_all(lower(text), '{BPE_PATTERN}')) AS n_bpe_tokens,
               round(length(text)::DOUBLE
                     / len(regexp_extract_all(lower(text), '{BPE_PATTERN}')), 6)
                   AS chars_per_token
        FROM documents
    """,
    doc="""Token counting two ways (north star): whitespace tokens and a
    BPE-ish regex class count (letter runs / digit runs / symbols) —
    the standard cheap proxy for LLM token budgeting.  Pure codegen'd
    column expressions.""",
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    bpe_count = F.regexp_count(F.lower("text"), F.lit(BPE_PATTERN))
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        bpe_count.alias("n_bpe_tokens"),
        F.round(F.length("text") / bpe_count, 6).alias("chars_per_token"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        ),
        dfreq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, term, tf, df,
               round(tf * ln(n_docs::DOUBLE / df), 4) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
        QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC) <= 3
    """,
    doc="""Top-3 TF-IDF keywords per document (north star text
    analysis; operators/text.py:tfidf_top_terms).  Integer-only ranking
    (tf, df, term) so the reported float score never decides order.""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, "documents", sf_dir))


CHUNK_TOKENS = 50
CHUNK_STRIDE = 25


@register(
    "text_chunking",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        )
        SELECT doc_id, chunk_idx,
               array_to_string(w[chunk_idx * {CHUNK_STRIDE} + 1 :
                                 chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')
                   AS chunk_text,
               least(len(w) - chunk_idx * {CHUNK_STRIDE}, {CHUNK_TOKENS})
                   AS n_tokens
        FROM t, LATERAL (
            SELECT unnest(generate_series(
                0, greatest(0, (len(w) - 1) // {CHUNK_STRIDE})
            )) AS chunk_idx
        )
        WHERE chunk_idx * {CHUNK_STRIDE} < len(w)
          AND (chunk_idx = 0 OR chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS} - {CHUNK_STRIDE} < len(w))
    """,
    doc="""Overlapping token-window chunking (LLM training staple):
    each document splits into {CHUNK_TOKENS}-token chunks with stride
    {CHUNK_STRIDE}; trailing windows fully contained in the previous
    chunk are suppressed.  Pure sequence+slice expressions — the chunker
    runs in the scan stage, no shuffle, no Python.""",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    w = F.split("text", " ")
    toks = docs.select("doc_id", w.alias("w"), F.size(w).alias("n"))
    max_idx = F.greatest(
        F.lit(0), ((F.col("n") - 1) / CHUNK_STRIDE).cast("int")
    )
    exploded = toks.select(
        "doc_id", "w", "n",
        F.explode(F.sequence(F.lit(0), max_idx)).alias("chunk_idx"),
    ).where(
        (F.col("chunk_idx") * CHUNK_STRIDE < F.col("n"))
        & (
            (F.col("chunk_idx") == 0)
            | (F.col("chunk_idx") * CHUNK_STRIDE + CHUNK_TOKENS - CHUNK_STRIDE < F.col("n"))
        )
    )
    return exploded.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(
            " ", F.slice("w", F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKENS)
        ).alias("chunk_text"),
        F.least(
            F.col("n") - F.col("chunk_idx") * CHUNK_STRIDE, F.lit(CHUNK_TOKENS)
        ).alias("n_tokens"),
    )


def _sentiment_oracle() -> str:
    from ..operators.text import NEGATIVE_WORDS, POSITIVE_WORDS

    pos = ", ".join(f"'{w}'" for w in POSITIVE_WORDS)
    neg = ", ".join(f"'{w}'" for w in NEGATIVE_WORDS)
    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_transform(string_split(text, ' '), w -> lower(w)) AS toks,
                   len(string_split(text, ' ')) AS n_toks
            FROM documents
        )
        SELECT doc_id,
               len(list_intersect(toks, [{pos}])) AS n_positive,
               len(list_intersect(toks, [{neg}])) AS n_negative,
               round((len(list_intersect(toks, [{pos}]))
                      - len(list_intersect(toks, [{neg}])))::DOUBLE / n_toks, 6)
                   AS sentiment
        FROM t
    """


@register(
    "text_sentiment_lexicon",
    oracle=_sentiment_oracle(),
    doc="""Lexicon-based sentiment scoring (north star text analysis;
    cf. PAPERS.md EDBT'16 Spark sentiment line): distinct positive /
    negative lexicon hits per document, score normalized by token
    count.  Array intersections against literal word lists — a pure
    narrow scan, no shuffle, no UDF
    (operators/text.py:sentiment_score).""",
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import sentiment_score

    return sentiment_score(load_table(spark, "documents", sf_dir))


@register(
    "multimodal_features",
    oracle="""
        SELECT doc_id AS media_id,
               octet_length(text::BLOB) AS n_bytes,
               md5(text) AS payload_hash,
               dims.i AS dim_idx,
               ('0x' || substr(md5(text), dims.i * 2 + 1, 2))::INT / 255.0
                   AS feature_value
        FROM documents
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) dims
    """,
    doc="""Multimodal feature extraction (north star): Arrow-batched
    ``mapInPandas`` over opaque binary payloads.  The decode step is the
    documented deterministic stub (md5-derived feature vector — codec
    libraries aren't in this container); the Spark plumbing (binary
    column, metadata struct, batch iterator, explicit output schema) is
    the real production shape a PIL/ffmpeg decoder plugs into.  The
    operator API (:func:`extract_features`) keeps the ``array<double>``
    feature column; this driver-facing query explodes it to one
    (media_id, dim_idx, feature_value) row per dimension so the result is
    scalar-only — canonicalizers that sort raw columns (pandas
    ``sort_values``) can't hash list cells.""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import documents_as_media

    media = documents_as_media(load_table(spark, "documents", sf_dir))
    feats = extract_features(media, strict=False, dim=8)
    return feats.select(
        "media_id",
        "n_bytes",
        "payload_hash",
        F.posexplode("feature").alias("dim_idx", "feature_value"),
    ).withColumn("dim_idx", F.col("dim_idx").cast("long"))


@register(
    "multimodal_frame_sample",
    oracle="""
        SELECT media_id, frame_idx, frame_idx * 1000 AS offset_ms
        FROM (
            SELECT doc_id AS media_id,
                   unnest(generate_series(
                       0, greatest(1, (n_chars * 10) // 1000) - 1)) AS frame_idx
            FROM documents
        )
    """,
    doc="""Multimodal frame-sampling plumbing (north star): one row per
    sampled frame offset from the metadata duration — pure relational
    explode(sequence), no decode needed to *plan* the sampling.  The
    synthetic duration is 10 ms per source char (the documents table has
    no real media); each sampled (media_id, offset) row is what a frame
    decoder (extract_features) would consume.""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(None).cast("binary").alias("payload"),
        F.struct(
            F.lit("video/fake").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    return sample_frames(media, every_ms=1000)


QUALITY_MIN = 0.5


def _corpus_clean_oracle() -> str:
    # Composed from the text_lang_id / text_quality / dedup_exact oracle
    # logic — same stoplist, same formulas, same portable hash family.

    return f"""
        WITH t AS (
            SELECT doc_id, n_chars, text,
                   string_split(text, ' ') AS w,
                   len(list_filter(string_split(text, ' '),
                       t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                       / len(string_split(text, ' ')) AS stop_r,
                   length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                       / length(text) AS punct_r
            FROM documents
        ),
        scored AS (
            SELECT doc_id, n_chars,
                   round(0.4 * least(len(w) / 100.0, 1.0)
                         + 0.3 * stop_r + 0.3 * (1 - punct_r), 6) AS quality,
                   stop_r
            FROM t
        ),
        keep AS (
            SELECT min(doc_id) AS doc_id
            FROM (SELECT doc_id, {_H64.format(e='text')} AS h FROM documents)
            GROUP BY h
        )
        SELECT s.doc_id, s.n_chars, s.quality
        FROM scored s
        JOIN keep k ON k.doc_id = s.doc_id
        WHERE s.stop_r > 0.05 AND s.quality >= {QUALITY_MIN}
    """


@register(
    "corpus_clean_pipeline",
    oracle=_corpus_clean_oracle(),
    doc="""The north-star operators composed into the canonical
    training-corpus cleaning pipeline (C4/RefinedWeb shape): language
    filter (stopword-density lang-id = 'en') → quality filter
    (heuristic score ≥ 0.5) → exact-dup removal (keep the minimum
    doc_id per content hash).  Every stage is scan-local except the
    dedup groupBy (one (hash,id) shuffle); the final semi-joins carry
    ids only.  Output = the retained corpus with its quality scores.""",
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup_groups
    from ..operators.text import lang_id, quality_score

    docs = load_table(spark, "documents", sf_dir)
    en = lang_id(docs).where(F.col("lang_guess") == "en").select("doc_id")
    good = (
        quality_score(docs)
        .where(F.col("quality") >= QUALITY_MIN)
        .select("doc_id", "quality")
    )
    keep = exact_dedup_groups(docs).select(F.col("keep_id").alias("doc_id"))
    return (
        docs.select("doc_id", "n_chars")
        .join(en, "doc_id", "left_semi")
        .join(keep, "doc_id", "left_semi")
        .join(good, "doc_id")
        .select("doc_id", "n_chars", "quality")
    )


@register(
    "regex_extract_long_words",
    oracle="""
        SELECT doc_id,
               array_to_string(regexp_extract_all(text, '[a-z]{5,}'), ' ')
                   AS long_words,
               len(regexp_extract_all(text, '[a-z]{5,}')) AS n_long_words
        FROM documents
        WHERE len(regexp_extract_all(text, '[a-z]{5,}')) > 0
    """,
    doc="""Structured extraction via regexp_extract_all: every ≥5-letter
    run per document, compared element-for-element across engines via a
    space-joined rendering (the letter-class pattern has identical
    semantics in Java regex and RE2; the join keeps the output scalar so
    driver canonicalizers that sort raw columns can hash it).  The
    extraction is codegen'd into the scan; the emptiness filter prunes
    rows before any downstream work.""",
)
def regex_extract_long_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    words = F.regexp_extract_all("text", F.lit("[a-z]{5,}"), 0)
    return (
        docs.select(
            "doc_id",
            F.array_join(words, " ").alias("long_words"),
            F.size(words).alias("n_long_words"),
        )
        .where(F.col("n_long_words") > 0)
    )


@register(
    "quality_repetition_signals",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n
            FROM documents
        ),
        tok_counts AS (
            SELECT doc_id, tok, count(*) AS c
            FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
            GROUP BY doc_id, tok
        ),
        tok_stats AS (
            SELECT doc_id,
                   max(c) AS top_c,
                   sum(c) AS n,
                   count(*) AS n_distinct
            FROM tok_counts GROUP BY doc_id
        ),
        bigrams AS (
            SELECT doc_id,
                   list_transform(generate_series(1, n - 1),
                                  i -> toks[i] || ' ' || toks[i + 1]) AS bg
            FROM t WHERE n >= 2
        )
        SELECT s.doc_id,
               s.n::BIGINT AS n_tokens,
               round(s.n_distinct / s.n, 4) AS distinct_ratio,
               round(s.top_c / s.n, 4) AS top_token_frac,
               round(1.0 - len(list_distinct(b.bg)) / len(b.bg), 4)
                   AS dup_bigram_frac
        FROM tok_stats s JOIN bigrams b USING (doc_id)
    """,
    doc="""Repetition quality signals (Gopher / RefinedWeb filters):
    per-document type-token ratio, most-frequent-token fraction, and
    duplicate-bigram fraction — the standard screens for degenerate or
    boilerplate text before pretraining.  Bigram stats are pure array
    expressions (zero shuffle); token frequencies group on
    (doc_id, token), one keyed shuffle that AQE coalesces.  At 100 TB
    every stage is partitioned by doc_id.""",
)
def quality_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).withColumn("n", F.size("toks"))
    tok_stats = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(
            F.max("count").alias("top_c"),
            F.sum("count").alias("n"),
            F.count("*").alias("n_distinct"),
        )
    )
    bigrams = t.where(F.col("n") >= 2).select(
        "doc_id",
        F.expr(
            "transform(sequence(1, n - 1), i -> concat(toks[i-1], ' ', toks[i]))"
        ).alias("bg"),
    )
    return tok_stats.join(bigrams, "doc_id").select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.round(F.col("n_distinct") / F.col("n"), 4).alias("distinct_ratio"),
        F.round(F.col("top_c") / F.col("n"), 4).alias("top_token_frac"),
        F.round(
            1.0 - F.size(F.array_distinct("bg")) / F.size("bg"), 4
        ).alias("dup_bigram_frac"),
    )


# Stand-in blocklist: the synthetic corpus carries no real PII (no
# digits, emails, or names), so the redaction path is exercised with
# frequent corpus tokens.  Production swaps the pattern for the usual
# email/phone/SSN regexes — the plan is identical (one regexp pass,
# zero shuffle).
REDACT_PATTERN = r"\b(value|table|row)\b"
REDACT_TOKEN = "[REDACTED]"


@register(
    "pii_redact_blocklist",
    oracle=f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{REDACT_PATTERN}'))::BIGINT
                   AS n_redacted,
               md5(regexp_replace(text, '{REDACT_PATTERN}', '{REDACT_TOKEN}', 'g'))
                   AS redacted_hash
        FROM documents
    """,
    doc="""PII/blocklist redaction (scrubbing stage of every corpus
    pipeline): replace blocklisted spans with a redaction token and
    count the hits.  A single regexp pass per document — stays inside
    whole-stage codegen, no shuffle; the redacted text is compared by
    md5 so the oracle checks the full output without hauling text
    through the hasher.""",
)
def pii_redact_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(REDACT_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_redacted"),
        F.md5(F.regexp_replace("text", REDACT_PATTERN, REDACT_TOKEN)).alias(
            "redacted_hash"
        ),
    )


# BPE merge-induction rounds (tokenizer training).  Symbol sequences
# ride as wrapped strings '<c1><c2>…': one leftmost-greedy string
# replace() IS the BPE merge step — identical semantics in Spark and
# DuckDB, no fold/accumulator machinery needed.
BPE_ROUNDS = 3


def _bpe_oracle() -> str:
    syms = "string_split(regexp_replace(seq, '^<|>$', '', 'g'), '><')"
    pair_cte = (
        "SELECT pr.l AS l, pr.r AS r, sum(freq)::BIGINT AS c FROM ("
        "  SELECT freq, unnest(list_transform("
        "    generate_series(1, len({syms}) - 1),"
        "    i -> struct_pack(l := {syms}[i], r := {syms}[i + 1]))) AS pr"
        "  FROM s{t} WHERE len({syms}) >= 2"
        ") GROUP BY pr.l, pr.r"
    )
    ctes = [
        """v AS (
            SELECT tok AS word, count(*)::BIGINT AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY tok
        )""",
        """s0 AS (
            SELECT word, freq,
                   regexp_replace(word, '(.)', '<\\1>', 'g') AS seq
            FROM v
        )""",
    ]
    for t in range(BPE_ROUNDS):
        ctes.append(
            f"p{t} AS ({pair_cte.format(syms=syms, t=t)})"
        )
        ctes.append(
            f"b{t} AS (SELECT l, r, c FROM p{t} "
            f"ORDER BY c DESC, l, r LIMIT 1)"
        )
        if t + 1 < BPE_ROUNDS:
            ctes.append(
                f"""s{t + 1} AS (
                    SELECT word, freq,
                           replace(seq, '<' || b.l || '><' || b.r || '>',
                                   '<' || b.l || b.r || '>') AS seq
                    FROM s{t} CROSS JOIN b{t} b
                )"""
            )
    selects = [
        f"SELECT {t + 1} AS merge_round, l AS pair_left, r AS pair_right,"
        f" l || r AS merged, c AS pair_count FROM b{t}"
        for t in range(BPE_ROUNDS)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "bpe_merge_induction",
    oracle=_bpe_oracle(),
    doc="""Tokenizer training (BPE vocabulary induction): 3 merge
    rounds over the corpus vocabulary — count adjacent symbol pairs
    weighted by word frequency, merge the globally most frequent pair
    (count DESC, lexicographic tiebreak), repeat on the merged
    sequences.  Symbol sequences are wrapped strings ('<c1><c2>…') so
    the merge step is ONE leftmost-greedy ``replace`` — a narrow map
    over the distinct-word table, identical semantics in both engines.
    Per round the engine runs one keyed pair-count shuffle (map-side
    combine over the bounded vocabulary) and collects exactly one row
    (the winning pair) — the same driver footprint as the k-means
    centroid summary.  The oracle unrolls the rounds as chained
    CTEs.""",
)
def bpe_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    state = vocab.select(
        "word",
        "freq",
        F.regexp_replace("word", "(.)", "<$1>").alias("seq"),
    )
    syms = F.split(F.regexp_replace("seq", "^<|>$", ""), "><")
    merges = []
    for t in range(BPE_ROUNDS):
        pairs = (
            state.where(F.size(syms) >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(syms) - 2),
                        lambda i: F.struct(
                            syms[i].alias("l"), syms[i + 1].alias("r")
                        ),
                    )
                ).alias("pr"),
            )
            .groupBy("pr.l", "pr.r")
            .agg(F.sum("freq").alias("c"))
        )
        best = pairs.orderBy(
            F.col("c").desc(), "l", "r"
        ).first()
        merges.append((t + 1, best["l"], best["r"], int(best["c"])))
        state = state.withColumn(
            "seq",
            F.expr(
                "replace(seq, '<{l}><{r}>', '<{lr}>')".format(
                    l=best["l"], r=best["r"], lr=best["l"] + best["r"]
                )
            ),
        )
    return spark.createDataFrame(
        [(r, l, rr, l + rr, c) for r, l, rr, c in merges],
        "merge_round int, pair_left string, pair_right string,"
        " merged string, pair_count long",
    )


@register(
    "collocation_pmi",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n
            FROM documents
        ),
        bigrams AS (
            SELECT unnest(list_transform(generate_series(1, n - 1),
                          i -> struct_pack(w1 := toks[i],
                                           w2 := toks[i + 1]))) AS bg
            FROM t WHERE n >= 2
        ),
        bg_counts AS (
            SELECT bg.w1 AS w1, bg.w2 AS w2, count(*)::DOUBLE AS c12
            FROM bigrams GROUP BY bg.w1, bg.w2
            HAVING count(*) >= 10
        ),
        uni AS (
            SELECT tok, count(*)::DOUBLE AS c
            FROM (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY tok
        ),
        tot AS (
            SELECT sum(c) AS n_uni,
                   (SELECT count(*)::DOUBLE FROM bigrams) AS n_bg
            FROM uni
        )
        SELECT b.w1, b.w2, b.c12::BIGINT AS pair_count,
               round(ln((b.c12 / tot.n_bg)
                        / ((u1.c / tot.n_uni) * (u2.c / tot.n_uni))), 6)
                   AS pmi
        FROM bg_counts b
        JOIN uni u1 ON u1.tok = b.w1
        JOIN uni u2 ON u2.tok = b.w2
        CROSS JOIN tot
        ORDER BY pmi DESC, w1, w2
        LIMIT 20
    """,
    doc="""Collocation mining (phrase discovery for tokenizer /
    vocabulary curation): pointwise mutual information of adjacent
    token pairs vs their unigram marginals, top-20 with deterministic
    tiebreak.  Bigram extraction is a pure array expression (zero
    shuffle); pair and unigram counts are keyed aggregates; marginals
    attach via broadcast joins of the (bounded, HAVING-pruned) pair
    table against the unigram counts; the global top-k is
    TakeOrdered — no global sort materialized.""",
)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(F.split("text", " ").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    bigrams = t.where(F.col("n") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - 2),
                lambda i: F.struct(
                    F.col("toks")[i].alias("w1"),
                    F.col("toks")[i + 1].alias("w2"),
                ),
            )
        ).alias("bg")
    )
    # Pinned bigram tally (change-8 waist): the PMI join reads the
    # frequent pairs and the total-instance count reads the SAME tally
    # (n_bg = Σ counts — exactly the old bigrams.count()), so the
    # bigram window explode runs once instead of twice.  Same for the
    # unigram table: n_uni and both join sides read one pinned frame
    # instead of re-exploding the token stream three times.
    bg_all = (
        bigrams.groupBy("bg.w1", "bg.w2")
        .agg(F.count("*").cast("double").alias("c12"))
        .localCheckpoint(eager=True)
    )
    bg_counts = bg_all.where(F.col("c12") >= 10)
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("double").alias("c"))
        .localCheckpoint(eager=True)
    )
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    n_bg = bg_all.agg(F.sum("c12").alias("n_bg"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    return (
        bg_counts.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bg))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("c12") / F.col("n_bg"))
                    / (
                        (F.col("c1") / F.col("n_uni"))
                        * (F.col("c2") / F.col("n_uni"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


# Fixed (published) logistic-regression weights for the document
# quality classifier: features are length saturation, stopword ratio,
# punctuation ratio, mean token length / 10.  Inference-at-scale shape:
# training happened offline; the engine applies the model as a pure
# columnar expression.
LOGREG_W = (1.8, 2.5, -3.0, 0.7)
LOGREG_B = -1.2
_STOPS_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


@register(
    "quality_logreg_score",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   least(len(string_split(text, ' ')) / 100.0, 1.0) AS f_len,
                   len(list_filter(string_split(text, ' '),
                       t -> t IN ({_STOPS_SQL})))::DOUBLE
                       / len(string_split(text, ' ')) AS f_stop,
                   length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                       / length(text) AS f_punct,
                   (list_sum(list_transform(string_split(text, ' '),
                       t -> length(t)))::DOUBLE
                       / len(string_split(text, ' '))) / 10.0 AS f_mtl
            FROM documents
        ), z AS (
            SELECT doc_id,
                   round({LOGREG_B} + {LOGREG_W[0]} * f_len
                         + {LOGREG_W[1]} * f_stop
                         + {LOGREG_W[2]} * f_punct
                         + {LOGREG_W[3]} * f_mtl, 6) AS logit
            FROM t
        )
        SELECT doc_id, logit,
               round(1.0 / (1.0 + exp(-logit)), 6) AS score,
               (1.0 / (1.0 + exp(-logit))) >= 0.5 AS keep
        FROM z
    """,
    doc="""Trained-model inference at scale: a fixed-weight logistic
    quality classifier (fastText/CCNet-style doc filter) applied as a
    pure columnar expression — feature engineering (length saturation,
    stopword ratio, punctuation ratio, mean token length), a
    left-to-right dot product, and a sigmoid, all inside whole-stage
    codegen.  No UDF, no shuffle: at 100 TB this is exactly one narrow
    scan, the shape model-based corpus filtering must take.  The logit
    is rounded (round 6) before the sigmoid on both engines so
    cross-engine exp() ulp differences cannot flip the keep
    decision.""",
)
def quality_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens("text")
    f_len = F.least(F.size(toks) / F.lit(100.0), F.lit(1.0))
    f_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))) / F.size(toks)
    f_punct = F.length(
        F.regexp_replace(F.lower(F.col("text")), "[a-z0-9 ]", "")
    ) / F.length("text")
    f_mtl = (
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
        / F.size(toks)
    ) / 10.0
    logit = F.round(
        F.lit(LOGREG_B)
        + LOGREG_W[0] * f_len
        + LOGREG_W[1] * f_stop
        + LOGREG_W[2] * f_punct
        + LOGREG_W[3] * f_mtl,
        6,
    )
    score = 1.0 / (1.0 + F.exp(-F.col("logit")))
    return (
        docs.select("doc_id", logit.alias("logit"))
        .select(
            "doc_id",
            "logit",
            F.round(score, 6).alias("score"),
            (score >= 0.5).alias("keep"),
        )
    )


@register(
    "unigram_perplexity_score",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents
        ), lm AS (
            SELECT t, count(*) AS c FROM tok GROUP BY t
        ), tot AS (
            SELECT sum(c) AS n FROM lm
        ), logp AS (
            SELECT t,
                   round(-ln(c::DOUBLE / (SELECT n FROM tot)) * 1000000)::BIGINT
                       AS nll_micros
            FROM lm
        )
        SELECT doc_id, n_tokens, mean_nll, round(exp(mean_nll), 4) AS ppl
        FROM (
            SELECT tok.doc_id,
                   count(*)::BIGINT AS n_tokens,
                   round(sum(logp.nll_micros)::DOUBLE / count(*) / 1000000.0, 6)
                       AS mean_nll
            FROM tok JOIN logp ON tok.t = logp.t
            GROUP BY tok.doc_id
        )
    """,
    doc="""LM-perplexity quality filtering (the CCNet/fastText corpus
    screen, here with the corpus's own unigram LM): per-token negative
    log-likelihood -ln(count/total) rounded to 6 (the cross-engine ln
    contract), joined back to the token stream on the vocabulary key,
    averaged per document, exponentiated to perplexity.  Unusually
    high ppl = gibberish / OOD text; unusually low = degenerate
    repetition.  The per-token NLL is quantized to integer MICROS so
    the per-document sum is exact integer arithmetic — immune to
    partial-aggregation order, the same trick as the DECIMAL sums in
    incremental_agg_maintenance.  Scale shape: the LM is one
    token-keyed groupBy (the dedup family's shuffle); scoring is a
    vocabulary-keyed join (broadcast once the vocabulary is bounded by
    a heavy-hitter prune) plus one per-document aggregate.  A real
    deployment swaps the unigram LM for KenLM scores — the Spark plan
    (build table → join → per-doc reduce) is identical.""",
)
def unigram_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t"))
    lm = tok.groupBy("t").agg(F.count("*").alias("c"))
    total = lm.agg(F.sum("c").alias("n"))
    logp = lm.crossJoin(F.broadcast(total)).select(
        "t",
        F.round(-F.log(F.col("c") / F.col("n")) * 1_000_000)
        .cast("long")
        .alias("nll_micros"),
    )
    per_doc = (
        tok.join(logp, "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("nll_micros").alias("sum_micros"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("sum_micros").cast("double") / F.col("n_tokens") / 1e6, 6
            ).alias("mean_nll"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "mean_nll",
        F.round(F.exp("mean_nll"), 4).alias("ppl"),
    )


@register(
    "ngram_novelty_decay",
    oracle=f"""
        WITH sets AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(w) - {SHINGLE_N - 1}),
                       i -> array_to_string(w[i:i+{SHINGLE_N - 1}], ' '))) AS toks
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= {SHINGLE_N}
        ), ex AS (
            SELECT doc_id, unnest(toks) AS shingle FROM sets
        ), first_seen AS (
            SELECT shingle, min(doc_id) AS first_doc FROM ex GROUP BY shingle
        )
        SELECT e.doc_id,
               count(*)::BIGINT AS n_shingles,
               sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)::BIGINT
                   AS n_novel,
               round(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
                     ::DOUBLE / count(*), 6) AS novelty
        FROM ex e JOIN first_seen f USING (shingle)
        GROUP BY e.doc_id
    """,
    doc=f"""Cross-document n-gram novelty (the per-document statistic
    behind dataset "novelty decay" curves: later documents repeat
    earlier ones' {SHINGLE_N}-grams more and more as a corpus grows —
    a crawl-freshness / memorization signal).  Each distinct shingle is
    attributed to the smallest doc_id containing it; a document's
    novelty is the fraction of its distinct shingles it introduced.
    Scale shape: the same vocabulary-keyed shuffle as the dedup family —
    first-seen attribution is a ``min OVER (PARTITION BY shingle)``
    window, so the shingle stream shuffles ONCE (vs an aggregate +
    join-back, which shuffles it twice and re-sorts for the join);
    the per-document rollup is one keyed groupBy.  No all-pairs stage,
    no unpartitioned window, no collect.""",
)
def ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    ex = shingle_sets(docs).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    first_doc = F.min("doc_id").over(W.partitionBy("shingle"))
    is_novel = (first_doc == F.col("doc_id")).cast("int")
    return (
        ex.select("doc_id", is_novel.alias("is_novel"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum("is_novel").cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty"),
        )
    )


@register(
    "quality_calibrate_by_source",
    oracle="""
        WITH q AS (
            SELECT doc_id, source,
                   round(0.4 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                     + 0.3 * (len(list_filter(string_split(text, ' '),
                           t -> t IN ('a','and','for','in','is','of','on',
                                      'the','to','with')))
                         / len(string_split(text, ' ')))
                     + 0.3 * (1 - len(regexp_replace(lower(text),
                                      '[a-z0-9 ]', '', 'g'))::DOUBLE
                                  / len(text)), 6) AS quality
            FROM documents
        )
        SELECT doc_id, source, quality,
               round(percent_rank() OVER (PARTITION BY source
                                          ORDER BY quality, doc_id), 6)
                   AS source_pctile,
               (percent_rank() OVER (PARTITION BY source
                                     ORDER BY quality, doc_id)) >= 0.2
                   AS keep
        FROM q
    """,
    doc="""Per-source quality calibration (curation staple): a single
    global quality threshold over-prunes clean sources and under-prunes
    noisy ones, so each document is scored by its PERCENTILE WITHIN ITS
    SOURCE and the keep rule ("top 80% of each source") applies
    uniformly across sources.  Scale shape: the quality heuristic is
    the same codegen'd expression as text_quality (no UDF); the
    percentile is a window PARTITIONED by source — bounded partitions,
    never a global sort.  doc_id tiebreaks make the rank exact
    cross-engine.""",
)
def quality_calibrate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.text import quality_expr

    docs = load_table(spark, "documents", sf_dir)
    q = docs.select("doc_id", "source", quality_expr("text").alias("quality"))
    w = W.partitionBy("source").orderBy("quality", "doc_id")
    pct = F.percent_rank().over(w)
    return q.select(
        "doc_id",
        "source",
        "quality",
        F.round(pct, 6).alias("source_pctile"),
        (pct >= 0.2).alias("keep"),
    )


# A token is in-vocabulary when it appears at least this many times in
# the corpus (the same heavy-hitter bound as the inverted index: the
# vocab size is structurally <= total_tokens / threshold, so the vocab
# frame always broadcasts).
VOCAB_MIN_COUNT = 200


@register(
    "vocab_oov_rate",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), vocab AS (
            SELECT tok FROM toks GROUP BY tok
            HAVING count(*) >= {VOCAB_MIN_COUNT}
        )
        SELECT t.doc_id,
               count(*)::BIGINT AS n_tokens,
               sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_oov,
               round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::DOUBLE
                     / count(*), 6) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY t.doc_id
    """,
    doc=f"""Tokenizer vocabulary coverage: per-document out-of-vocabulary
    token rate against the corpus heavy-hitter vocabulary (count >=
    {VOCAB_MIN_COUNT}) — the statistic that decides whether a tokenizer
    vocab fits a new data source.  Scale shape: the vocabulary is
    bounded by construction (<= total_tokens / {VOCAB_MIN_COUNT}) so it
    broadcast-joins against the token stream; counts are one keyed
    groupBy per side; no window, no collect.""",
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # NOT persisted: the token stream feeds both the vocabulary
    # aggregate and the join-back pass, but it is corpus-scale — the
    # 100 TB shape recomputes the narrow explode from the columnar scan
    # rather than caching the token stream (same rationale as
    # bm25_topk / boilerplate_shingle_prune).
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= VOCAB_MIN_COUNT)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    is_oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(is_oov).cast("long").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


# Kneser-Ney discount (the standard 0.75) and report size.
KN_DISCOUNT = 0.75
KN_TOPK = 20


@register(
    "token_entropy_quality",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
                   len(string_split(lower(text), ' ')) AS dl
            FROM documents
        ), tf AS (
            SELECT doc_id, dl, term, count(*)::BIGINT AS tf
            FROM tok GROUP BY doc_id, dl, term
        )
        SELECT doc_id, dl,
               count(*)::BIGINT AS n_distinct_tokens,
               sum(round(-(tf::DOUBLE / dl) * ln(tf::DOUBLE / dl) * 1e6))::BIGINT
                   AS entropy_micros
        FROM tf GROUP BY doc_id, dl
    """,
    doc="""Per-document Shannon entropy of the unigram token
    distribution — the information-density quality signal (low entropy
    = repetitive/templated text, a standard pre-training filter next to
    the repetition-ratio heuristics).  One tokenize-explode, one
    (doc, term) grouped count carrying the document length, one
    per-document re-aggregation — two keyed shuffles, fully
    partial-aggregated, no windows.  Each term's −p·ln p contribution
    rounds to integer micros before the sum (the integer-micro
    contract), so cross-engine totals are exact integer math.""",
)
def token_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    w = F.split(F.lower("text"), " ")
    tok = docs.select(
        "doc_id", F.size(w).alias("dl"), F.explode(w).alias("term")
    )
    tf = tok.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    p = F.col("tf").cast("double") / F.col("dl")
    term_micros = F.round(-p * F.log(p) * 1e6)
    return tf.groupBy("doc_id", "dl").agg(
        F.count("*").alias("n_distinct_tokens"),
        F.sum(term_micros).cast("long").alias("entropy_micros"),
    )


@register(
    "kneser_ney_bigram_lm",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents
        ), bigrams AS (
            SELECT p[1] AS w1, p[2] AS w2
            FROM (
                SELECT unnest(list_transform(
                           generate_series(1, len(w) - 1),
                           i -> [w[i], w[i + 1]])) AS p
                FROM base WHERE len(w) >= 2
            )
        ), bc AS (
            SELECT w1, w2, count(*)::BIGINT AS c FROM bigrams GROUP BY w1, w2
        ), ctx AS (
            SELECT w1, sum(c)::BIGINT AS c1, count(*)::BIGINT AS n1_fwd
            FROM bc GROUP BY w1
        ), cont AS (
            SELECT w2, count(*)::BIGINT AS n1_bwd FROM bc GROUP BY w2
        ), btot AS (
            SELECT count(*)::BIGINT AS b_types FROM bc
        ), top AS (
            SELECT w1, w2, c FROM bc
            ORDER BY c DESC, w1, w2 LIMIT {KN_TOPK}
        )
        SELECT t.w1, t.w2, t.c,
               round((greatest(t.c - {KN_DISCOUNT}, 0) / ctx.c1
                      + {KN_DISCOUNT} * ctx.n1_fwd / ctx.c1
                        * cont.n1_bwd / btot.b_types) * 1e6)::BIGINT
                   AS p_kn_micros
        FROM top t
        JOIN ctx USING (w1)
        JOIN cont USING (w2)
        CROSS JOIN btot
        ORDER BY t.c DESC, t.w1, t.w2
    """,
    doc=f"""Interpolated Kneser-Ney bigram language model (discount
    D={KN_DISCOUNT}) over the corpus, reported for the top-{KN_TOPK}
    bigrams: P(w2|w1) = max(c−D,0)/c(w1) + D·N1+(w1·)/c(w1) ·
    N1+(·w2)/|bigram types| — the smoothing used by every n-gram LM
    toolkit (KenLM/SRILM) and the perplexity-filter counterpart to
    unigram_perplexity_score.  Scale shape: bigram extraction is an
    array zip + explode (no self-join of the token stream); all model
    statistics are grouped counts over the bigram-count frame; the
    top-{KN_TOPK} report is TakeOrderedAndProject, then the tiny
    report frame BROADCASTS into the statistics joins (the corpus-scale
    frames are never re-shuffled for the report); the 1-row bigram-type
    total is a bounded broadcast (allowlisted).  All inputs to the
    probability are integer counts, one rounding at the end.""",
)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    w = F.split(F.lower("text"), " ")
    base = docs.select(w.alias("w")).where(F.size("w") >= 2)
    pairs = base.select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(w, 1, size(w) - 1)").alias("w1"),
                F.expr("slice(w, 2, size(w) - 1)").alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    ctx = bc.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count("*").alias("n1_fwd")
    )
    cont = bc.groupBy("w2").agg(F.count("*").alias("n1_bwd"))
    btot = bc.agg(F.count("*").alias("b_types"))
    top = bc.orderBy(F.desc("c"), "w1", "w2").limit(KN_TOPK)
    p_kn = (
        F.greatest(F.col("c") - KN_DISCOUNT, F.lit(0.0)) / F.col("c1")
        + KN_DISCOUNT
        * F.col("n1_fwd")
        / F.col("c1")
        * F.col("n1_bwd")
        / F.col("b_types")
    )
    return (
        F.broadcast(top)
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            "c",
            F.round(p_kn * 1e6).cast("long").alias("p_kn_micros"),
        )
        .orderBy(F.desc("c"), "w1", "w2")
    )


@register(
    "token_fertility_by_lang",
    oracle=f"""
        SELECT lang,
               count(*)::BIGINT AS n_docs,
               sum(len(string_split(text, ' ')))::BIGINT AS total_words,
               sum(len(regexp_extract_all(lower(text),
                                          '{BPE_PATTERN}')))::BIGINT
                   AS total_bpe_tokens,
               round(sum(len(regexp_extract_all(lower(text),
                                                '{BPE_PATTERN}')))::DOUBLE
                     / sum(len(string_split(text, ' '))), 6) AS fertility,
               round(sum(length(text))::DOUBLE
                     / sum(len(regexp_extract_all(lower(text),
                                                  '{BPE_PATTERN}'))), 6)
                   AS chars_per_token
        FROM documents GROUP BY lang
    """,
    doc="""Tokenizer fertility by language: BPE-ish tokens per
    whitespace word and characters per token, aggregated per language —
    the audit that converts a document-count sampling budget into the
    token-count budget training actually consumes (languages with high
    fertility cost proportionally more context per word; the standard
    multilingual-mixture correction).  Reuses text_bpe_tokens' regex
    class count, so the two queries stay mutually consistent.  All
    aggregates are integer sums (exact under any accumulation order);
    the round-6 ratios derive from them.  Scale shape: pure codegen'd
    column expressions into a |langs|-key groupBy — map-side combine
    collapses the corpus to per-partition scalars before the only
    shuffle.""",
)
def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    words = F.size(F.split("text", " "))
    bpe = F.regexp_count(F.lower("text"), F.lit(BPE_PATTERN))
    return docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(words).cast("long").alias("total_words"),
        F.sum(bpe).cast("long").alias("total_bpe_tokens"),
        F.round(
            F.sum(bpe).cast("double") / F.sum(words), 6
        ).alias("fertility"),
        F.round(
            F.sum(F.length("text")).cast("double") / F.sum(bpe), 6
        ).alias("chars_per_token"),
    )


# Vocabulary sizes priced by vocab_coverage_curve.
VOCAB_TOP_NS = (10, 100, 1000)


@register(
    "vocab_coverage_curve",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS t FROM documents
        ), c AS (
            SELECT t, count(*) AS c FROM tok GROUP BY t
        ), r AS (
            SELECT t, c, row_number() OVER (ORDER BY c DESC, t) AS rn FROM c
        ), tot AS (
            SELECT sum(c)::BIGINT AS total, count(*)::BIGINT AS n_types
            FROM c
        ), lens AS (
            SELECT unnest([{", ".join(map(str, VOCAB_TOP_NS))}]) AS top_n
        )
        SELECT l.top_n::BIGINT AS top_n,
               tot.n_types AS n_types,
               sum(CASE WHEN r.rn <= l.top_n THEN r.c ELSE 0 END)::BIGINT
                   AS covered_tokens,
               tot.total AS total_tokens,
               round(sum(CASE WHEN r.rn <= l.top_n THEN r.c ELSE 0 END)::DOUBLE
                     / tot.total, 6) AS coverage
        FROM r CROSS JOIN lens l CROSS JOIN tot
        GROUP BY l.top_n, tot.n_types, tot.total
    """,
    doc=f"""Vocabulary coverage curve: what fraction of the token
    stream the top-N most frequent types cover, for N in
    {VOCAB_TOP_NS} — the statistic that prices a tokenizer vocabulary
    size (the marginal coverage of the next thousand types) and
    complements vocab_oov_rate's fixed-vocab view.  The global
    frequency rank uses the hierarchical row_number (range-bucketed
    per-bucket windows + a num_buckets-scalar offset collect — never an
    unpartitioned window), ties broken (count DESC, token ASC).  Scale
    shape: one token-keyed groupBy builds the frequency table; the
    curve itself is a {len(VOCAB_TOP_NS)}-key conditional aggregate
    over |vocab| skinny rows.""",
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import hierarchical_row_number

    docs = load_table(spark, "documents", sf_dir)
    counts = (
        docs.select(F.explode(tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    ranked = hierarchical_row_number(
        counts, (-F.col("c")).cast("double"), "t", out="rn"
    )
    tot = counts.agg(
        F.sum("c").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_types"),
    )
    return (
        ranked.select(
            "c",
            "rn",
            F.explode(
                F.array(*[F.lit(n) for n in VOCAB_TOP_NS])
            ).alias("top_n"),
        )
        .groupBy(F.col("top_n").cast("long").alias("top_n"))
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("top_n"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("covered_tokens")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "top_n",
            "n_types",
            "covered_tokens",
            F.col("total").alias("total_tokens"),
            F.round(
                F.col("covered_tokens").cast("double") / F.col("total"), 6
            ).alias("coverage"),
        )
    )


@register(
    "lang_id_confusion",
    oracle=f"""
        WITH pred AS (
            SELECT doc_id, lang AS true_lang,
                   CASE WHEN len(list_filter(string_split(text, ' '),
                            t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                            / len(string_split(text, ' ')) > 0.05
                        THEN 'en' ELSE 'und' END AS lang_guess
            FROM documents
        )
        SELECT true_lang, lang_guess,
               count(*)::BIGINT AS n_docs,
               round(count(*)::DOUBLE / sum(count(*))
                     OVER (PARTITION BY true_lang), 6) AS share_of_true
        FROM pred GROUP BY true_lang, lang_guess
    """,
    doc="""Language-ID confusion matrix: the stopword-density detector
    (text_lang_id) evaluated against the labeled corpus — per
    (true_lang, predicted) cell counts and the within-true-language
    share (row-normalized recall surface).  The evaluation query every
    classifier in the curation pipeline needs: text_lang_id ships the
    PREDICTIONS, this measures them — a detector regression (threshold
    drift, stoplist change) shows up here as mass moving off the 'en'
    diagonal cell while the prediction query itself stays green.  The
    share window is PARTITIONED by true_lang (bounded groups); counting
    is one |langs|·|guesses| aggregate.""",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.text import lang_id

    docs = load_table(spark, "documents", sf_dir)
    pred = lang_id(docs).select("doc_id", "lang_guess")
    labeled = docs.select("doc_id", F.col("lang").alias("true_lang")).join(
        pred, "doc_id"
    )
    counts = labeled.groupBy("true_lang", "lang_guess").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    w = W.partitionBy("true_lang")
    return counts.select(
        "true_lang",
        "lang_guess",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias(
            "share_of_true"
        ),
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


# --- Python arrow UDTF: context-window chunk spans --------------------
UDTF_CHUNK_SIZE = 64
UDTF_CHUNK_STRIDE = 48


def _chunk_spans_udtf():
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="doc_id: long, chunk_idx: int, start_tok: int, n_toks: int",
        useArrow=True,
    )
    class ChunkSpans:
        """Emit (chunk_idx, start_tok, n_toks) covering [0, n_tokens)
        with UDTF_CHUNK_SIZE windows advancing by UDTF_CHUNK_STRIDE; the last
        chunk stops as soon as coverage is complete (no redundant
        tail that a previous chunk already covers)."""

        def eval(self, doc_id, n_tokens):  # noqa: ANN001
            if n_tokens is None or n_tokens <= 0:
                return
            i, idx = 0, 0
            while True:
                yield (doc_id, idx, i, min(UDTF_CHUNK_SIZE, n_tokens - i))
                if i + UDTF_CHUNK_SIZE >= n_tokens:
                    return
                i += UDTF_CHUNK_STRIDE
                idx += 1

    return ChunkSpans


@register(
    "udtf_chunk_spans",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n
            FROM documents
        ), c AS (
            SELECT doc_id, n,
                   unnest(generate_series(0,
                       CASE WHEN n <= {UDTF_CHUNK_SIZE} THEN 0
                            ELSE (n - {UDTF_CHUNK_SIZE} + {UDTF_CHUNK_STRIDE} - 1)
                                 // {UDTF_CHUNK_STRIDE} END)) AS chunk_idx
            FROM t WHERE n > 0
        )
        SELECT doc_id, chunk_idx::INT AS chunk_idx,
               ({UDTF_CHUNK_STRIDE} * chunk_idx)::INT AS start_tok,
               least({UDTF_CHUNK_SIZE}, n - {UDTF_CHUNK_STRIDE} * chunk_idx)::INT
                   AS n_toks
        FROM c
    """,
    doc=f"""Context-window chunk-span planning as a Python
    user-defined TABLE function (Spark 4 ``@udtf(useArrow=True)``),
    applied per document via LATERAL: spans of {UDTF_CHUNK_SIZE} tokens
    advancing by {UDTF_CHUNK_STRIDE} (overlap {UDTF_CHUNK_SIZE - UDTF_CHUNK_STRIDE}),
    stopping at full coverage.  Exercises the set-returning-function
    surface — registration, LATERAL correlation, arrow-batched
    evaluation (plan shows ArrowEvalPythonUDTF; the engine's
    no-row-wise-Python sweep sanctions exactly the Arrow path).  The
    heavy lifting (token counting) stays JVM-side; the UDTF sees only
    (doc_id, n_tokens) scalars and emits O(n/stride) span rows — the
    pattern for custom set-returning logic Spark lacks natively.
    The pack_context_windows / text_chunking queries are the pure-SQL
    formulations of the same planning step; this one exists for the
    API surface and is deliberately data-light.""",
)
def udtf_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    spark.udtf.register("chunk_spans", _chunk_spans_udtf())
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.size(tokens("text")).alias("n_toks_total")
    )
    docs.createOrReplaceTempView("chunk_span_input")
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_idx, c.start_tok, c.n_toks
        FROM chunk_span_input t,
        LATERAL chunk_spans(t.doc_id, t.n_toks_total) c
        """
    )


# --- TextRank ------------------------------------------------------------

TR_HH = 200  # heavy-hitter vocabulary floor (domain_shift_kl's regime)
TR_TOPK = 20
TR_DAMPING = 0.85
TR_ITERS = 3


def _textrank_oracle() -> str:
    iters = []
    for k in range(1, TR_ITERS + 1):
        iters.append(
            f"""r{k} AS (
                SELECT n.node,
                       round((SELECT bs FROM base)
                             + {TR_DAMPING} * coalesce(
                                   sum(p.rank * e.wn), 0), 6) AS rank
                FROM nodes n
                LEFT JOIN nrm e ON e.v = n.node
                LEFT JOIN r{k - 1} p ON p.node = e.u
                GROUP BY n.node
            )"""
        )
    return f"""
        WITH toks AS (
            SELECT doc_id, tok, i
            FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS tok,
                       generate_subscripts(string_split(text, ' '), 1) AS i
                FROM documents
            )
        ), vocab AS (
            SELECT tok FROM toks GROUP BY tok HAVING count(*) >= {TR_HH}
        ), vt AS (
            SELECT toks.doc_id, toks.tok, toks.i FROM toks
            JOIN vocab ON toks.tok = vocab.tok
        ), co AS (
            SELECT least(a.tok, b.tok) AS u, greatest(a.tok, b.tok) AS v,
                   count(*)::DOUBLE AS w
            FROM vt a JOIN vt b
              ON a.doc_id = b.doc_id AND b.i = a.i + 1 AND a.tok <> b.tok
            GROUP BY 1, 2
        ), edges AS (
            SELECT u AS src, v AS dst, w FROM co
            UNION ALL
            SELECT v, u, w FROM co
        ), nodes AS (SELECT DISTINCT src AS node FROM edges),
        nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        base AS (
            SELECT round((1 - {TR_DAMPING}) / n, 6) AS bs FROM nn
        ), nrm AS (
            SELECT src AS u, dst AS v,
                   w / sum(w) OVER (PARTITION BY src) AS wn
            FROM edges
        ), r0 AS (
            SELECT node, round(1.0 / (SELECT n FROM nn), 6) AS rank
            FROM nodes
        ), {", ".join(iters)}
        SELECT node AS token, rank FROM r{TR_ITERS}
        ORDER BY rank DESC, token LIMIT {TR_TOPK}
    """


@register(
    "textrank_keywords",
    oracle=_textrank_oracle(),
    doc=f"""TextRank keyword extraction (Mihalcea & Tarau '04):
    PageRank (damping {TR_DAMPING}, {TR_ITERS} rounds) over the
    undirected co-occurrence graph of ADJACENT heavy-hitter tokens
    (count ≥ {TR_HH}), edge weight = adjacency count — the
    unsupervised corpus-keyword baseline.  Unlike the nation-graph
    PageRank (25 nodes, final-round round-6), the token graph is
    hundreds of nodes with wide in-neighborhoods, so the lockstep
    contract rounds EVERY round to 6 decimals in both engines (the
    k-means convention) — FP addition-order noise cannot compound
    across rounds.  Scale shape: adjacent pairs are read straight off
    each row's token array by a narrow generator (no positional
    self-join, never |vocab|²); the vocabulary prune is two broadcast
    semi-joins on the heavy-hitter list (domain_shift_kl economics);
    each round is one keyed join + grouped sum on |vocab|-bounded
    frames; report is TakeOrdered top-{TR_TOPK}.""",
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # Round-10 optimization (guide §3.6 — a join that can be a
    # generator should not be a join; §1.2 step 1).  Adjacency lives
    # inside each row's token ARRAY, so the old positional self-join
    # (explode all tokens, shuffle on (doc, i), join b.i = a.i + 1) is
    # a narrow generator instead: posexplode keeps the array, the
    # successor is element_at(tk, i0 + 2).  The vocabulary filter moves
    # AFTER pair emission (two broadcast semi-joins — same pair
    # multiset: a pair survives iff both endpoints are heavy hitters,
    # exactly the old both-sides-pre-filtered join condition).  The
    # tiny heavy-hitter list is checkpointed once (it feeds two
    # broadcasts); the co frame is the single eager materialization —
    # edges/nodes/nrm re-derive from it narrowly instead of each
    # paying an eager job.
    tk = docs.select(F.split("text", " ").alias("tk"))
    vocab = (
        tk.select(F.explode("tk").alias("tok"))
        .groupBy("tok")
        .count()
        .where(F.col("count") >= TR_HH)
        .select("tok")
        .localCheckpoint(eager=True)
    )
    bg = (
        tk.select("tk", F.posexplode("tk").alias("i0", "a"))
        .where(F.col("i0") + 2 <= F.size("tk"))
        .select("a", F.element_at("tk", F.col("i0") + 2).alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    co = (
        bg.join(
            F.broadcast(vocab.select(F.col("tok").alias("a"))), "a", "left_semi"
        )
        .join(
            F.broadcast(vocab.select(F.col("tok").alias("b"))), "b", "left_semi"
        )
        .groupBy(
            F.least("a", "b").alias("u"),
            F.greatest("a", "b").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .localCheckpoint(eager=True)
    )
    edges = co.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionAll(
        co.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError(
            "textrank_keywords: no token reaches the heavy-hitter floor "
            f"(TR_HH={TR_HH}) — corpus too small for a co-occurrence graph"
        )
    base = round((1 - TR_DAMPING) / n_nodes, 6)
    out_w = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    nrm = edges.join(out_w, "src").select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        (F.col("w") / F.col("ow")).alias("wn"),
    ).localCheckpoint(eager=True)
    ranks = nodes.select(
        "node", F.lit(round(1.0 / n_nodes, 6)).alias("rank")
    )
    for _ in range(TR_ITERS):
        contrib = (
            ranks.join(nrm, ranks.node == nrm.u)
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("wn")).alias("acc"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            F.round(
                F.lit(base) + TR_DAMPING * F.coalesce("acc", F.lit(0.0)), 6
            ).alias("rank"),
        )
    return (
        ranks.orderBy(F.desc("rank"), "node")
        .limit(TR_TOPK)
        .select(F.col("node").alias("token"), "rank")
    )


# --- Naive Bayes language classifier -------------------------------------


@register(
    "naive_bayes_lang_eval",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ), train AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
        vocab AS (SELECT count(DISTINCT term)::BIGINT AS v FROM train),
        lang_tok AS (
            SELECT lang, count(*)::BIGINT AS n_tok FROM train GROUP BY lang
        ), ll AS (
            SELECT t.lang, t.term,
                   round(1e6 * ln((count(*) + 1)::DOUBLE
                                  / (any_value(lt.n_tok) + any_value(vb.v))))
                       ::BIGINT AS ll_micros
            FROM train t
            JOIN lang_tok lt ON t.lang = lt.lang
            CROSS JOIN vocab vb
            GROUP BY t.lang, t.term
        ), deflt AS (
            SELECT lt.lang,
                   round(1e6 * ln(1.0 / (lt.n_tok + vb.v)))::BIGINT AS d_micros
            FROM lang_tok lt CROSS JOIN vocab vb
        ), prior AS (
            SELECT d.lang,
                   round(1e6 * ln(count(DISTINCT d.doc_id)::DOUBLE
                                  / t.n_docs))::BIGINT AS p_micros
            FROM documents d
            CROSS JOIN (SELECT count(*)::BIGINT AS n_docs
                        FROM documents WHERE doc_id % 2 = 0) t
            WHERE d.doc_id % 2 = 0
            GROUP BY d.lang, t.n_docs
        ), test_tf AS (
            SELECT doc_id, lang AS true_lang, term, count(*)::BIGINT AS tf
            FROM tok WHERE doc_id % 2 = 1
            GROUP BY doc_id, lang, term
        ), scored AS (
            SELECT tt.doc_id, tt.true_lang, p.lang AS cand,
                   any_value(p.p_micros)
                   + sum(tt.tf * coalesce(ll.ll_micros, df.d_micros))
                       ::BIGINT AS score
            FROM test_tf tt
            CROSS JOIN prior p
            JOIN deflt df ON df.lang = p.lang
            LEFT JOIN ll ON ll.lang = p.lang AND ll.term = tt.term
            GROUP BY tt.doc_id, tt.true_lang, p.lang
        ), pred AS (
            SELECT doc_id, true_lang, cand AS pred_lang
            FROM scored
            QUALIFY row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, cand) = 1
        )
        SELECT true_lang, pred_lang, count(*)::BIGINT AS n_docs
        FROM pred GROUP BY true_lang, pred_lang
        ORDER BY true_lang, pred_lang
    """,
    doc="""Multinomial Naive Bayes language identification, trained on
    the even-doc-id half (Laplace +1 smoothed per-(term, lang)
    log-likelihoods, log-priors from class frequencies) and evaluated
    on the held-out odd-id half — reported as the confusion matrix
    (true_lang, pred_lang, n_docs).  The supervised companion to the
    heuristic lang-id queries: same task, learned parameters, honest
    train/test split.  Determinism: every log quantizes to integer
    micros at the (term, lang) grain (the token_entropy_quality
    convention); document scores are exact integer sums of tf·micros,
    so the per-document argmax (ties → smallest lang) is pure integer
    comparison.  Scale shape: training is two grouped counts over the
    token explode; scoring joins test term-frequencies to the
    likelihood table on (term, lang) — a hash equi-join keyed by term
    (the model is a table, NOT a driver-side object, so a 10⁹-term
    vocabulary shards like any fact table); the |langs|-row prior
    frame is the only nested-loop broadcast (declared); one
    doc-partitioned window picks the argmax.""",
)
def naive_bayes_lang_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    train = tok.where(F.col("doc_id") % 2 == 0)
    # ONE token-stream tally feeds vocabulary size, per-language token
    # totals AND the likelihood table (round-10, session 3): the old
    # shape re-exploded the training half three times (vocab count,
    # lang totals, lang-term counts).  The (lang, term) count frame is
    # the natural waist — vocab = its distinct terms, lang totals = its
    # per-lang sums, all exact integers — pinned because three
    # consumers read it.
    ltc = (
        train.groupBy("lang", "term")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    vocab = ltc.agg(F.countDistinct("term").alias("v"))
    lang_tok = ltc.groupBy("lang").agg(F.sum("c").alias("n_tok"))
    lang_stats = lang_tok.crossJoin(F.broadcast(vocab))
    ll = (
        ltc
        .join(F.broadcast(lang_stats), "lang")
        .select(
            "lang",
            "term",
            F.round(
                F.lit(1e6)
                * F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("n_tok") + F.col("v"))
                )
            )
            .cast("long")
            .alias("ll_micros"),
        )
    )
    deflt = lang_stats.select(
        "lang",
        F.round(F.lit(1e6) * F.log(F.lit(1.0) / (F.col("n_tok") + F.col("v"))))
        .cast("long")
        .alias("d_micros"),
    )
    # One scan for the priors: the |langs|-row class-count frame also
    # yields the training-doc total (sum over its rows) — the old shape
    # scanned the training docs twice (total + grouped).
    lang_docs = (
        docs.where(F.col("doc_id") % 2 == 0)
        .groupBy("lang")
        .agg(F.count("*").alias("nl"))
        .localCheckpoint(eager=True)
    )
    n_train = lang_docs.agg(F.sum("nl").alias("n_docs"))
    prior = (
        lang_docs
        .crossJoin(F.broadcast(n_train))
        .select(
            "lang",
            F.round(
                F.lit(1e6)
                * F.log(F.col("nl").cast("double") / F.col("n_docs"))
            )
            .cast("long")
            .alias("p_micros"),
        )
    )
    cand = F.broadcast(
        prior.join(deflt, "lang").select(
            F.col("lang").alias("cand"), "p_micros", "d_micros"
        )
    )
    test_tf = (
        tok.where(F.col("doc_id") % 2 == 1)
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "term")
        .agg(F.count("*").alias("tf"))
    )
    scored = (
        test_tf.alias("tt")
        .crossJoin(cand)
        .join(
            ll.alias("llx"),
            (F.col("llx.lang") == F.col("cand"))
            & (F.col("llx.term") == F.col("tt.term")),
            "left",
        )
        .groupBy("doc_id", "true_lang", "cand")
        .agg(
            (
                F.first("p_micros")
                + F.sum(
                    F.col("tt.tf")
                    * F.coalesce(F.col("llx.ll_micros"), F.col("d_micros"))
                )
            ).alias("score")
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "cand")
    pred = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return (
        pred.groupBy("true_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


# --- curation decision log ---------------------------------------------------


@register(
    "curation_decision_log",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, text,
                   string_split(text, ' ') AS w,
                   len(list_filter(string_split(text, ' '),
                       t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                       / len(string_split(text, ' ')) AS stop_r,
                   length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
                       ::DOUBLE / length(text) AS punct_r
            FROM documents
        ), scored AS (
            SELECT doc_id, stop_r,
                   round(0.4 * least(len(w) / 100.0, 1.0)
                         + 0.3 * stop_r + 0.3 * (1 - punct_r), 6) AS quality,
                   {_H64.format(e='text')} AS h
            FROM t
        ), canon AS (
            SELECT h, min(doc_id) AS keeper FROM scored GROUP BY h
        )
        SELECT s.doc_id,
               CASE WHEN s.stop_r <= 0.05 THEN 'non_english'
                    WHEN s.quality < {QUALITY_MIN} THEN 'low_quality'
                    WHEN s.doc_id <> c.keeper THEN 'exact_dup'
                    ELSE 'kept' END AS reason,
               (s.stop_r > 0.05 AND s.quality >= {QUALITY_MIN}
                AND s.doc_id = c.keeper) AS kept,
               s.quality
        FROM scored s JOIN canon c ON s.h = c.h
        ORDER BY s.doc_id
    """,
    doc=f"""Per-document EXPLAIN of corpus_clean_pipeline: the same
    three rules, same formulas, same precedence (language filter →
    quality ≥ {QUALITY_MIN} → exact-dup canonical-keeper), emitted as
    (doc_id, first-failing-reason, kept, quality) for EVERY document —
    the audit trail a curation platform owes its data suppliers, and
    the frame quality-drift dashboards aggregate.  The kept rows
    reproduce the pipeline's output exactly (pinned by test).
    Determinism: reuses the pinned round-6 quality doubles and the
    portable 60-bit content hash; the canonical keeper is min(doc_id)
    per hash.  Scale shape: identical to the pipeline it explains —
    scan-local scoring plus ONE content-hash groupBy joined back; the
    reason CASE adds zero shuffles.""",
)
def curation_decision_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # One projection carries stop_r, the content hash AND quality
    # (round-10, session 3): the old shape scanned documents twice and
    # 1:1-self-joined the halves on doc_id.  Persisted because BOTH the
    # canonical-keeper aggregate and the decision join read it — the
    # minhash-pipeline persist pattern; one text-scoring scan total.
    scored = docs.select(
        "doc_id",
        stopword_ratio("text").alias("stop_r"),
        portable_hash64("text").alias("h"),
        quality_expr("text").alias("quality"),
    ).persist()
    canon = scored.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    s = scored.join(canon, "h")
    reason = (
        F.when(F.col("stop_r") <= 0.05, F.lit("non_english"))
        .when(F.col("quality") < QUALITY_MIN, F.lit("low_quality"))
        .when(F.col("doc_id") != F.col("keeper"), F.lit("exact_dup"))
        .otherwise(F.lit("kept"))
    )
    kept = (
        (F.col("stop_r") > 0.05)
        & (F.col("quality") >= QUALITY_MIN)
        & (F.col("doc_id") == F.col("keeper"))
    )
    return s.select(
        "doc_id", reason.alias("reason"), kept.alias("kept"), "quality"
    ).orderBy("doc_id")
