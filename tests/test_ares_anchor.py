"""Python-replayed anchor for weighted_sample_ares (Efraimidis–Spirakis).

The A-Res key u^(1/w) is deterministic via the portable md5 hash, so the
whole draw replays in plain Python: recompute every key, take the
top-k per language, and require the engine's sample to match exactly —
pinning the hash-to-uniform mapping, the weight exponent, the round-9
quantization, and the DESC/key,doc_id tie order."""

from __future__ import annotations

import hashlib


def _key(doc_id: int, n_chars: int) -> float:
    h32 = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
    u = (h32 + 1) / 4294967296.0
    return round(u ** (1.0 / n_chars), 9)


def test_ares_sample_matches_python_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.sampling import ARES_K, weighted_sample_ares

    rows = [(i, "en" if i % 2 else "de", 10 + (i * 37) % 990) for i in range(1, 61)]
    spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    got = {
        (r["lang"], r["doc_id"], r["key"])
        for r in weighted_sample_ares(spark, str(tmp_path)).collect()
    }

    expect = set()
    for lang in ("en", "de"):
        keyed = [
            (_key(i, n), i)
            for (i, lg, n) in rows
            if lg == lang
        ]
        keyed.sort(key=lambda kv: (-kv[0], kv[1]))
        expect |= {(lang, i, k) for k, i in keyed[:ARES_K]}
    assert got == expect
