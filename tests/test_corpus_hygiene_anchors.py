"""Round-7 anchor batch 15: per-document hygiene signals.

- ``quality_repetition_signals``: Gopher-style type-token ratio, top
  token fraction, and duplicate-bigram fraction replayed with plain
  Python counters on texts with planted degeneracies.
- ``pii_redact_blocklist``: the redaction regex and hit count replayed
  with Python re + hashlib, matching the md5 of the redacted text
  byte-for-byte (word-boundary semantics pinned: 'value' inside
  'devalue' must NOT redact).
- ``corpus_shard_assignment``: the 64-way md5 shard map replayed with
  hashlib and exact per-shard totals.
"""

from __future__ import annotations

import hashlib
import math
import re


def _round_half(x: float, nd: int) -> float:
    scale = 10**nd
    v = x * scale
    r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
    return r / scale


def _write_docs(spark, tmp_path, texts):
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")


def test_repetition_signals_match_counter_replay(spark, tmp_path):
    texts = [
        "spam spam spam spam eggs",            # degenerate repeat
        "the quick brown fox jumps over dogs",  # all-distinct
        "ab cd ab cd ab cd",                    # duplicated bigrams
    ]
    _write_docs(spark, tmp_path, texts)

    from scats_transis_kinesis_spark.plans.text import quality_repetition_signals

    got = {
        r["doc_id"]: (r["n_tokens"], r["distinct_ratio"],
                      r["top_token_frac"], r["dup_bigram_frac"])
        for r in quality_repetition_signals(spark, str(tmp_path)).collect()
    }

    for did, t in enumerate(texts):
        toks = t.split(" ")
        n = len(toks)
        counts = {}
        for tk in toks:
            counts[tk] = counts.get(tk, 0) + 1
        bg = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        want = (
            n,
            _round_half(len(counts) / n, 4),
            _round_half(max(counts.values()) / n, 4),
            _round_half(1.0 - len(dict.fromkeys(bg)) / len(bg), 4),
        )
        assert got[did] == want, did
    # Planted degeneracies show up as designed.
    assert got[0][2] == 0.8          # spam = 4/5
    assert got[1][1] == 1.0 and got[1][3] == 0.0
    assert got[2][3] == _round_half(1 - 2 / 5, 4)  # 2 distinct of 5 bigrams


def test_pii_redaction_matches_re_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.text import (
        REDACT_PATTERN,
        REDACT_TOKEN,
        pii_redact_blocklist,
    )

    texts = [
        "the value of this table row is a value",   # 4 hits
        "devalue tables rowing are not matches",    # word-boundary: 0
        "row value table",                          # 3 hits
        "nothing to see here",                      # 0 hits
    ]
    _write_docs(spark, tmp_path, texts)

    got = {
        r["doc_id"]: (r["n_redacted"], r["redacted_hash"])
        for r in pii_redact_blocklist(spark, str(tmp_path)).collect()
    }
    for did, t in enumerate(texts):
        n = len(re.findall(REDACT_PATTERN, t))
        h = hashlib.md5(re.sub(REDACT_PATTERN, REDACT_TOKEN, t).encode()).hexdigest()
        assert got[did] == (n, h), did
    assert got[0][0] == 4
    assert got[1][0] == 0   # 'devalue'/'tables'/'rowing' stay intact
    assert got[3][0] == 0


def test_shard_assignment_matches_hashlib_replay(spark, tmp_path):
    texts = [f"doc body {i}" for i in range(100)]
    _write_docs(spark, tmp_path, texts)

    from scats_transis_kinesis_spark.plans.sampling import corpus_shard_assignment

    got = {
        r["shard_id"]: (r["n_docs"], r["total_chars"])
        for r in corpus_shard_assignment(spark, str(tmp_path)).collect()
    }

    want = {}
    for i, t in enumerate(texts):
        sh = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 64
        n, c = want.get(sh, (0, 0))
        want[sh] = (n + 1, c + len(t))
    assert got == want
    assert sum(n for n, _ in want.values()) == 100
    # 100 docs over 64 shards: no shard should hoard (md5 is uniform).
    assert max(n for n, _ in want.values()) <= 8
