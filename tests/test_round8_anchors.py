"""Round-8 replay anchors for the three new registry queries.

Per the growth contract every addition ships with BOTH a DuckDB oracle
(structural cross-engine compare) and an independent plain-Python
replay anchor — the anchor catches a definition encoded wrong in both
engines identically, which the oracle compare structurally cannot.

- ``dedup_embedding_lsh_recall`` / ``lsh_banding_tradeoff_audit``: sign
  patterns hand-built so the 8x4 recall banding finds pairs the 4x8
  precision banding provably cannot (a pair differing once inside every
  8-dim block but agreeing on whole 4-dim blocks), plus
  candidate-not-verified and never-candidate controls.  All cosines are
  exact multiples of 1/64, so the round-6 contract is boundary-free.
- ``repeated_span_islands``: two shared 5-gram phrases placed so one
  document merges them into a single touching island while the other
  keeps them apart — plus the covered_tokens == n_covered invariant
  against ``repeated_span_coverage`` on the same corpus.
"""

from __future__ import annotations

import math
from itertools import combinations

DIMS = 64


def _vec(flip_dims: set[int]) -> list[float]:
    """All-ones vector with the (1-based) dims in ``flip_dims`` set to
    -1.0 — every value exact in float32, so the parquet round-trip and
    the array<double> cast are lossless."""
    return [-1.0 if d in flip_dims else 1.0 for d in range(1, DIMS + 1)]


# vec_id -> flipped dims.  b differs from the all-ones a once inside
# EVERY 8-dim block of the first 32 dims (so no 4x8 band can match) but
# agrees on the first 4-dim half of each block (so 8x4 bands match).
# c and d share a's first 32 dims exactly (candidates under BOTH
# layouts) and differ only in the tail: c far (cos 0.375 — candidate
# that fails verification), d near (cos 0.8125 — verified).  e's
# alternating signs disagree with everything in every 4-dim block —
# never a candidate.
_FLIPS: dict[int, set[int]] = {
    1: set(),                               # a: all ones
    2: {8, 16, 24, 32},                     # b: one flip per 8-block
    3: set(range(33, 53)),                  # c: 20 tail flips
    4: set(range(33, 39)),                  # d: 6 tail flips
    5: set(range(2, DIMS + 1, 2)),          # e: alternating
}


def _buckets(v: list[float], bands: int, bits: int) -> list[tuple[int, int]]:
    out = []
    for band in range(bands):
        bucket = 0
        for d in range(bits):
            if v[band * bits + d] > 0:
                bucket += 1 << d
        out.append((band, bucket))
    return out


def _replay_lsh(vecs: dict[int, list[float]], bands: int, bits: int):
    """(candidates, verified{pair: cosine6}) replayed in plain Python."""
    bk = {i: _buckets(v, bands, bits) for i, v in vecs.items()}
    cand = {
        (i, j)
        for i, j in combinations(sorted(vecs), 2)
        if any(a == b for a, b in zip(bk[i], bk[j]))
    }
    verified = {}
    for i, j in sorted(cand):
        dot = sum(x * y for x, y in zip(vecs[i], vecs[j]))
        cos = dot / (
            math.sqrt(sum(x * x for x in vecs[i]))
            * math.sqrt(sum(x * x for x in vecs[j]))
        )
        cos6 = round(cos, 6)  # exact k/64 values: no rounding-mode hazard
        if cos6 >= 0.4:
            verified[(i, j)] = cos6
    return cand, verified


def _write_embeddings(spark, tmp_path):
    rows = [(i, _vec(f), 0) for i, f in _FLIPS.items()]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")


def test_lsh_recall_banding_replay(spark, tmp_path):
    _write_embeddings(spark, tmp_path)
    from scats_transis_kinesis_spark.plans.dedup import dedup_embedding_lsh_recall

    vecs = {i: _vec(f) for i, f in _FLIPS.items()}
    _, want = _replay_lsh(vecs, bands=8, bits=4)
    got = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in dedup_embedding_lsh_recall(spark, str(tmp_path)).collect()
    }
    assert got == want
    # Scenario sanity: the recall layout verified pairs the precision
    # layout never even saw as candidates.
    p_cand, p_ver = _replay_lsh(vecs, bands=4, bits=8)
    recall_only = set(want) - p_cand
    assert recall_only == {(1, 2), (2, 4)}
    assert p_ver.keys() < want.keys()


def test_lsh_banding_tradeoff_replay(spark, tmp_path):
    _write_embeddings(spark, tmp_path)
    from scats_transis_kinesis_spark.plans.dedup import lsh_banding_tradeoff_audit

    vecs = {i: _vec(f) for i, f in _FLIPS.items()}
    p_cand, p_ver = _replay_lsh(vecs, bands=4, bits=8)
    r_cand, r_ver = _replay_lsh(vecs, bands=8, bits=4)
    union = set(p_ver) | set(r_ver)

    def row(cand, ver):
        n_c, n_v = len(cand), len(ver)
        return (
            n_c,
            n_v,
            n_v * 1_000_000 // n_c if n_c else None,
            n_v * 1_000_000 // len(union) if union else None,
        )

    want = {
        "precision_4x8": row(p_cand, p_ver),
        "recall_8x4": row(r_cand, r_ver),
    }
    got = {
        r["config"]: (
            r["n_candidates"],
            r["n_verified"],
            r["precision_micros"],
            r["union_share_micros"],
        )
        for r in lsh_banding_tradeoff_audit(spark, str(tmp_path)).collect()
    }
    assert got == want
    # Hand-checkable scenario facts: 3 precision candidates (2 verified),
    # 6 recall candidates (4 verified), recall covers the whole union.
    assert want["precision_4x8"][:2] == (3, 2)
    assert want["recall_8x4"] == (6, 4, 666666, 1_000_000)


SPAN_N = 5


def _replay_islands(docs: dict[int, str]):
    """Plain-Python replay: repeated-span islands per document."""
    toks = {d: t.split(" ") for d, t in docs.items()}
    spans = {
        d: {
            pos: " ".join(w[pos - 1 : pos - 1 + SPAN_N])
            for pos in range(1, len(w) - SPAN_N + 2)
        }
        for d, w in toks.items()
        if len(w) >= SPAN_N
    }
    by_gram: dict[str, set[int]] = {}
    for d, m in spans.items():
        for g in m.values():
            by_gram.setdefault(g, set()).add(d)
    rep = {g for g, ds in by_gram.items() if len(ds) >= 2}
    out = {}
    for d, m in spans.items():
        positions = sorted(p for p, g in m.items() if g in rep)
        if not positions:
            continue
        islands = []
        for p in positions:
            if islands and p <= islands[-1][1] + 1:
                islands[-1][1] = max(islands[-1][1], p + SPAN_N - 1)
            else:
                islands.append([p, p + SPAN_N - 1])
        lens = [e - s + 1 for s, e in islands]
        out[d] = (len(islands), sum(lens), max(lens))
    return out


def test_repeated_span_islands_replay(spark, tmp_path):
    # Phrase A and phrase B are each shared by docs 1 and 2.  In doc 1
    # they sit back-to-back (touching islands MERGE into one run of 10);
    # in doc 2 a 2-token gap keeps them as two islands.  Doc 3 has no
    # repeated span and must be absent.
    docs = {
        1: "a b c d e f g h i j",
        2: "a b c d e z0 z1 f g h i j",
        3: "q0 q1 q2 q3 q4 q5 q6",
    }
    rows = [
        (d, t, "en", "web", len(t)) for d, t in docs.items()
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.dedup import repeated_span_coverage
    from scats_transis_kinesis_spark.plans.dedup import repeated_span_islands

    want = _replay_islands(docs)
    assert want == {1: (1, 10, 10), 2: (2, 10, 5)}  # hand-checked
    got = {
        r["doc_id"]: (r["n_islands"], r["covered_tokens"], r["max_island_len"])
        for r in repeated_span_islands(spark, str(tmp_path)).collect()
    }
    assert got == want

    # Invariant: islands partition the covered set, so covered_tokens
    # must equal repeated_span_coverage's n_covered doc-by-doc.
    cov = {
        r["doc_id"]: r["n_covered"]
        for r in repeated_span_coverage(spark, str(tmp_path)).collect()
    }
    assert {d: v[1] for d, v in want.items()} == {
        d: n for d, n in cov.items() if n > 0
    }
