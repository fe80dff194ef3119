"""Round-7 anchor batch 18: numeric compression and LM scoring.

- ``embedding_int8_quantization``: absmax/127 scale, round-to-nearest
  level reconstruction error, and saturation counts replayed in plain
  Python — including a vector whose extreme component must register as
  saturated and a negative-heavy vector.
- ``unigram_perplexity_score``: the corpus-LM NLL path replayed
  end-to-end (micro-quantized per-token NLL, exact integer per-doc
  sums, perplexity), pinning that a repeated common token scores LOW
  ppl and a rare-token doc scores HIGH.
"""

from __future__ import annotations

import math

import numpy as np
import pytest


def _round_half(x: float, nd: int) -> float:
    scale = 10**nd
    v = x * scale
    r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
    return r / scale


def test_int8_quantization_matches_replay(spark, tmp_path):
    vecs = [
        (0, [1.27, -0.635, 0.1, 0.0]),     # absmax 1.27 -> scale 0.01
        (1, [-2.54, 1.0, 0.25, -0.125]),   # negative extreme saturates
        (2, [0.5, 0.5, 0.5, 0.5]),         # all equal -> all saturated
    ]
    spark.createDataFrame(
        [(vid, v, 0) for vid, v in vecs],
        "vec_id long, embedding array<double>, label int",
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    from scats_transis_kinesis_spark.plans.retrieval import embedding_int8_quantization

    got = {
        r["vec_id"]: (r["scale"], r["max_abs_err"], r["n_saturated"])
        for r in embedding_int8_quantization(spark, str(tmp_path)).collect()
    }

    for vid, v in vecs:
        scale = max(abs(x) for x in v) / 127.0
        err = max(abs(x - math.floor(x / scale + 0.5) * scale) for x in v)
        sat = sum(1 for x in v if abs(math.floor(x / scale + 0.5)) >= 127)
        assert got[vid][0] == pytest.approx(_round_half(scale, 6), abs=1e-9), vid
        assert got[vid][1] == pytest.approx(_round_half(err, 6), abs=1e-9), vid
        assert got[vid][2] == sat, vid
    # The absmax component always lands exactly on level +-127.
    assert got[0][2] >= 1 and got[1][2] >= 1
    assert got[2][2] == 4  # every equal component IS the absmax


def test_unigram_perplexity_matches_lm_replay(spark, tmp_path):
    texts = [
        "the the the the",        # only common tokens -> low ppl
        "the cat the dog",        # mixed
        "zyzzyva",                # single rare token -> high ppl
    ]
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.text import unigram_perplexity_score

    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_nll"], r["ppl"])
        for r in unigram_perplexity_score(spark, str(tmp_path)).collect()
    }

    toks = {i: t.split(" ") for i, t in enumerate(texts)}
    lm = {}
    for ts in toks.values():
        for t in ts:
            lm[t] = lm.get(t, 0) + 1
    n = sum(lm.values())
    nll = {t: math.floor(-math.log(c / n) * 1e6 + 0.5) for t, c in lm.items()}
    for did, ts in toks.items():
        s = sum(nll[t] for t in ts)
        mean_nll = _round_half(s / len(ts) / 1e6, 6)
        assert got[did] == (
            len(ts),
            pytest.approx(mean_nll, abs=1e-9),
            pytest.approx(_round_half(math.exp(mean_nll), 4), abs=1e-4),
        ), did
    # Ordering sanity: pure-common < mixed < rare-token perplexity.
    assert got[0][2] < got[1][2] < got[2][2]
    # The corpus LM scores 'the' at p = 6/9 -> ppl of doc 0 is exactly
    # exp(round6(-ln(6/9) micro-rounded)) ~ 1.5.
    assert got[0][2] == pytest.approx(1.5, abs=0.01)
