"""Round-7 anchor batch 21: retrieval index and per-source calibration.

- ``inverted_index_postings``: heavy-hitter vocabulary cut, distinct
  doc postings, and the sorted comma rendering replayed by hand — a
  term repeated within one document must post that doc ONCE.
- ``quality_calibrate_by_source``: within-source percent_rank and the
  top-80% keep rule replayed, with a document sitting EXACTLY at
  percentile 0.2 (the >= boundary keeps it) and per-source calibration
  pinned by giving two sources disjoint quality ranges.
"""

from __future__ import annotations

import math

import pytest

STOP = ("a", "and", "for", "in", "is", "of", "on", "the", "to", "with")


def _round_half(x: float, nd: int) -> float:
    scale = 10**nd
    v = x * scale
    r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
    return r / scale


def _quality(text: str) -> float:
    toks = text.split(" ")
    stop_r = sum(1 for t in toks if t in STOP) / len(toks)
    lowered = text.lower()
    punct = sum(
        1
        for ch in lowered
        if not (ch.isascii() and (ch.islower() or ch.isdigit() or ch == " "))
    )
    return _round_half(
        0.4 * min(len(toks) / 100.0, 1.0)
        + 0.3 * stop_r
        + 0.3 * (1 - punct / len(text)),
        6,
    )


def test_inverted_index_matches_postings_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.common import HH_THRESHOLD
    from scats_transis_kinesis_spark.plans.retrieval import inverted_index_postings

    # 'hot' clears the 200-occurrence floor ACROSS docs, repeated many
    # times inside each doc (distinct postings must dedup); 'warm'
    # clears it from a different doc mix; 'cold' stays below.
    texts = {
        0: "hot " * 120 + "warm " * 100 + "cold",
        1: "hot " * 90 + "cold cold",
        2: "warm " * 110 + "hot",
    }
    rows = [(d, t.strip(), "en", "s0", len(t)) for d, t in texts.items()]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    got = {
        r["tok"]: (r["doc_freq"], r["postings"])
        for r in inverted_index_postings(spark, str(tmp_path)).collect()
    }

    counts, posting = {}, {}
    for did, t in texts.items():
        for tok in t.strip().split(" "):
            counts[tok] = counts.get(tok, 0) + 1
            posting.setdefault(tok, set()).add(did)
    want = {
        tok: (len(dids), ",".join(str(d) for d in sorted(dids)))
        for tok, dids in posting.items()
        if counts[tok] >= HH_THRESHOLD
    }
    assert got == want
    assert set(got) == {"hot", "warm"}       # cold: 3 < 200
    assert got["hot"] == (3, "0,1,2")        # deduped, sorted
    assert got["warm"] == (2, "0,2")


def test_quality_calibration_keeps_exact_boundary(spark, tmp_path):
    # Source A: 6 docs with strictly increasing quality -> percentiles
    # k/5; rank 2 sits EXACTLY at 0.2 and the >= rule must KEEP it.
    # Source B: 3 docs, ALL much higher quality than A's — per-source
    # calibration still prunes B's worst (pctile 0) while keeping A
    # docs of far lower absolute quality.
    a_texts = [
        "!!! ??? ###",                                   # junk
        "words only here now",                           # low
        "the cat is here now",                           # some stopwords
        "the cat is on the mat here",                    # more
        "the cat is on the mat and the dog is here",     # more
        "the cat is on the mat and the dog is in the yard today",
    ]
    b_texts = [
        "the sun is up and the day is warm and the air is nice " * 2,
        "the sun is up and the day is warm and the air is good " * 3,
        "the sun is up and the day is warm and the air is calm " * 4,
    ]
    rows = [(i, t, "en", "A", len(t)) for i, t in enumerate(a_texts)] + [
        (100 + i, t.strip(), "en", "B", len(t)) for i, t in enumerate(b_texts)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.text import quality_calibrate_by_source

    got = {
        r["doc_id"]: (r["source"], r["quality"], r["source_pctile"], r["keep"])
        for r in quality_calibrate_by_source(spark, str(tmp_path)).collect()
    }

    # replay
    docs = [(did, src, _quality(text)) for did, text, _, src, _ in rows]
    for src in ("A", "B"):
        members = sorted(
            [(q, did) for did, s, q in docs if s == src]
        )
        n = len(members)
        for rank, (q, did) in enumerate(members):
            pct = _round_half(rank / (n - 1), 6) if n > 1 else 0.0
            keep = (rank / (n - 1) if n > 1 else 0.0) >= 0.2
            g = got[did]
            assert g[0] == src
            assert g[1] == pytest.approx(q, abs=1e-9), did
            assert g[2] == pytest.approx(pct, abs=1e-9), did
            assert g[3] == keep, did
    # The designed boundaries: A's rank-2 doc (pctile exactly 0.2) is
    # KEPT; each source loses exactly its own bottom slice.
    a_sorted = sorted((q, did) for did, s, q in docs if s == "A")
    boundary_doc = a_sorted[1][1]
    assert got[boundary_doc][2] == 0.2 and got[boundary_doc][3]
    b_qualities = [q for did, s, q in docs if s == "B"]
    a_kept_qualities = [got[did][1] for did, s, q in docs
                        if s == "A" and got[did][3]]
    assert min(b_qualities) > max(a_kept_qualities)  # B's pruned doc
    assert sum(1 for did, s, _ in docs if s == "B" and not got[did][3]) == 1
