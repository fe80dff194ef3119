"""Round-7 anchor batch 16: information-density and novelty signals.

- ``token_entropy_quality``: per-term −p·ln p micro-contributions and
  their integer sum replayed with plain Python on a uniform text (H =
  exactly ln(n) per term) and a degenerate single-token text (H = 0).
- ``ngram_novelty_decay``: first-seen shingle credit replayed with an
  ordered set walk — a verbatim re-post scores novelty 0, a partial
  quote scores the exact fraction of unseen shingles, and a
  below-window doc is excluded.
"""

from __future__ import annotations

import math


def _round_half(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def _write_docs(spark, tmp_path, texts):
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")


def test_token_entropy_matches_micro_sum_replay(spark, tmp_path):
    texts = [
        "a b c d e f g h",          # uniform: H = ln 8 exactly
        "spam spam spam spam",      # degenerate: H = 0
        "x x y z",                  # mixed: 1/2, 1/4, 1/4
    ]
    _write_docs(spark, tmp_path, texts)

    from scats_transis_kinesis_spark.plans.text import token_entropy_quality

    got = {
        r["doc_id"]: (r["dl"], r["n_distinct_tokens"], r["entropy_micros"])
        for r in token_entropy_quality(spark, str(tmp_path)).collect()
    }

    for did, t in enumerate(texts):
        toks = t.lower().split(" ")
        dl = len(toks)
        counts = {}
        for tk in toks:
            counts[tk] = counts.get(tk, 0) + 1
        ent = sum(
            _round_half(-(c / dl) * math.log(c / dl) * 1e6)
            for c in counts.values()
        )
        assert got[did] == (dl, len(counts), ent), did
    # Closed-form checks straight from the definition:
    assert got[1][2] == 0                       # -1*ln(1) per term
    assert got[0][2] == 8 * _round_half((1 / 8) * math.log(8) * 1e6)


def test_ngram_novelty_matches_first_seen_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.operators.dedup import SHINGLE_N

    assert SHINGLE_N == 3
    texts = [
        "alpha beta gamma delta epsilon",       # all novel (doc 0)
        "alpha beta gamma delta epsilon",       # verbatim repost -> 0
        "zeta alpha beta gamma eta theta",      # partial quote
        "too short",                            # < 3 tokens -> excluded
    ]
    _write_docs(spark, tmp_path, texts)

    from scats_transis_kinesis_spark.plans.text import ngram_novelty_decay

    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
        for r in ngram_novelty_decay(spark, str(tmp_path)).collect()
    }

    def shingles(t):
        w = t.split(" ")
        return list(dict.fromkeys(
            " ".join(w[i : i + SHINGLE_N]) for i in range(len(w) - SHINGLE_N + 1)
        ))

    first = {}
    for did, t in enumerate(texts):
        w = t.split(" ")
        if len(w) < SHINGLE_N:
            continue
        for sh in shingles(t):
            first.setdefault(sh, did)
    want = {}
    for did, t in enumerate(texts):
        w = t.split(" ")
        if len(w) < SHINGLE_N:
            continue
        sh = shingles(t)
        novel = sum(1 for s in sh if first[s] == did)
        want[did] = (
            len(sh),
            novel,
            round(novel / len(sh), 6),
        )
    assert got == want
    assert 3 not in got                       # short doc excluded
    assert want[1] == (3, 0, 0.0)             # verbatim repost
    # partial quote: 'alpha beta gamma' is the only seen shingle of 4
    assert want[2] == (4, 3, 0.75)


def test_short_doc_does_not_crash_shingle_consumers(spark, tmp_path):
    # Regression for the round-7 crash: with a sub-n-word document in a
    # PARQUET-backed corpus, the optimizer pushes the explode's
    # implicit size-guard into the scan Filter and codegen CSE
    # evaluates the shingle transform on pre-filter rows — before the
    # clamp, sequence(0, -1) went descending and slice(start=0) threw.
    texts = [
        "alpha beta gamma delta",
        "x",                       # 1 token  (< SHINGLE_N and < SPAN_N)
        "two words",               # 2 tokens
        "",                        # empty string -> [''] (1 token)
    ]
    _write_docs(spark, tmp_path, texts)

    from scats_transis_kinesis_spark.plans.dedup import repeated_span_coverage
    from scats_transis_kinesis_spark.plans.text import ngram_novelty_decay

    nov = {r["doc_id"] for r in ngram_novelty_decay(spark, str(tmp_path)).collect()}
    assert nov == {0}  # only the 4-token doc has 3-gram shingles

    spans = {
        r["doc_id"]: r["n_covered"]
        for r in repeated_span_coverage(spark, str(tmp_path)).collect()
    }
    # The coverage report keeps every doc (left join back); the short
    # docs simply carry zero covered positions — and, crucially, the
    # query no longer crashes building their (filtered-out) spans.
    assert set(spans) == {0, 1, 2, 3}
    assert spans[1] == spans[2] == spans[3] == 0
