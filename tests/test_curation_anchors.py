"""Round-7 anchor batch 8: ingest-hygiene and storage-planning audits.

- ``doc_stitch_overlap``: boundary-window equality replayed by hand,
  including a doc shorter than the window (excluded) and a
  three-segment chain (two stitch pairs).
- ``curation_decision_log``: the three-rule curation explain (language
  -> quality -> exact-dup keeper) replayed with the same md5-64
  content hash and the quality formula re-derived in plain Python,
  pinning rule PRECEDENCE (a non-English duplicate must say
  'non_english', not 'exact_dup').
- ``dictionary_encoding_audit``: Shannon entropy in micro-bits and
  dictionary width replayed from the value-count multiset.
- ``compaction_coalesce_plan``: the cumulative-offset coalescing rule
  replayed with hashlib shard assignment.
"""

from __future__ import annotations

import hashlib
import math

import pytest

STOP = ("a", "and", "for", "in", "is", "of", "on", "the", "to", "with")


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _md5_64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _round_half(x: float, nd: int) -> float:
    scale = 10**nd
    v = x * scale
    r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
    return r / scale


def _quality(text: str) -> float:
    toks = text.split(" ")
    stop_r = sum(1 for t in toks if t in STOP) / len(toks)
    lowered = text.lower()
    punct = sum(1 for ch in lowered if not (ch.isascii() and (ch.islower() or ch.isdigit() or ch == " ")))
    punct_r = punct / len(text)
    return _round_half(0.4 * min(len(toks) / 100.0, 1.0) + 0.3 * stop_r + 0.3 * (1 - punct_r), 6)


def _write_docs(spark, tmp_path, texts):
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")


def test_doc_stitch_matches_boundary_replay(spark, tmp_path):
    # Doc 0 ends with the 3-gram doc 1 starts with; doc 1 ends with the
    # 3-gram doc 2 starts with (a 3-segment chain -> 2 pairs).  Doc 3
    # is 2 tokens (< window, excluded); doc 4 shares no boundary.
    texts = [
        "alpha beta gamma delta echo fox",
        "delta echo fox golf hotel india",
        "golf hotel india juliet kilo lima",
        "tiny doc",
        "zulu yankee xray whiskey victor uniform",
    ]
    _write_docs(spark, tmp_path, texts)

    from scats_transis_kinesis_spark.plans.dedup import _STITCH_K, doc_stitch_overlap

    got = [
        (r["left_doc_id"], r["right_doc_id"], r["overlap_text"])
        for r in doc_stitch_overlap(spark, str(tmp_path)).collect()
    ]

    k = _STITCH_K
    windows = {
        i: (" ".join(t.split(" ")[:k]), " ".join(t.split(" ")[-k:]))
        for i, t in enumerate(texts)
        if len(t.split(" ")) >= k
    }
    want = sorted(
        (a, b, ta)
        for a, (_, ta) in windows.items()
        for b, (hb, _) in windows.items()
        if a != b and ta == hb
    )
    assert got == want == [
        (0, 1, "delta echo fox"),
        (1, 2, "golf hotel india"),
    ]


def test_curation_log_matches_rule_precedence_replay(spark, tmp_path):
    # One healthy doc; an exact duplicate of it (higher id -> dropped);
    # a stopword-free doc (non_english) that is ALSO a duplicate of
    # another stopword-free doc — precedence must say non_english for
    # BOTH, never exact_dup; and a low-quality punctuation-heavy doc.
    healthy = "the cat is on the mat and the dog is in the yard " * 2
    foreign = "molto bene grazie prego signore arrivederci roma"
    noisy = "the !!! ??? ### $$$ %%% ^^^ &&& *** ((( ))) @@@ ;;; :::"
    texts = [
        healthy.strip(),
        healthy.strip(),   # exact dup of 0
        foreign,
        foreign,           # exact dup of 2, but non_english wins
        noisy,
    ]
    _write_docs(spark, tmp_path, texts)

    from scats_transis_kinesis_spark.plans.text import curation_decision_log

    got = {
        r["doc_id"]: (r["reason"], r["kept"], r["quality"])
        for r in curation_decision_log(spark, str(tmp_path)).collect()
    }

    keeper = {}
    for i, t in enumerate(texts):
        h = _md5_64(t)
        keeper.setdefault(h, i)
    for i, t in enumerate(texts):
        toks = t.split(" ")
        stop_r = sum(1 for tk in toks if tk in STOP) / len(toks)
        q = _quality(t)
        if stop_r <= 0.05:
            want = ("non_english", False)
        elif q < 0.5:
            want = ("low_quality", False)
        elif i != keeper[_md5_64(t)]:
            want = ("exact_dup", False)
        else:
            want = ("kept", True)
        assert got[i][:2] == want, i
        assert got[i][2] == pytest.approx(q, abs=1e-9), i
    # The scenario really exercises the precedence: doc 3 is a dup AND
    # non-English; doc 1 is the plain duplicate.
    assert got[3][0] == "non_english"
    assert got[1][0] == "exact_dup"
    assert got[0][0] == "kept" and got[0][1]
    assert got[4][0] == "low_quality"


def test_dictionary_entropy_matches_shannon_replay(spark, tmp_path):
    # Skewed l_returnflag (entropy << dict width), uniform
    # l_linestatus, near-continuous l_quantity/l_discount.
    rows = []
    for i in range(64):
        rows.append(
            (
                i,
                float(1 + i % 8),                # l_quantity: 8 values
                round(0.01 * (i % 4), 2),        # l_discount: 4 values
                "A" if i < 56 else ("R" if i < 62 else "N"),  # skewed
                "O" if i % 2 else "F",           # uniform 2 values
            )
        )
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_quantity double, l_discount double,"
        " l_returnflag string, l_linestatus string",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    from scats_transis_kinesis_spark.plans.audits import (
        _DICT_COLS,
        dictionary_encoding_audit,
    )

    got = {
        r["col_name"]: (r["n_values"], r["ndv"], r["entropy_micro_bits"],
                        r["dict_bits"], r["entropy_vs_dict_micros"])
        for r in dictionary_encoding_audit(spark, str(tmp_path)).collect()
    }

    cols = {
        "l_quantity": [float(1 + i % 8) for i in range(64)],
        "l_discount": [round(0.01 * (i % 4), 2) for i in range(64)],
        "l_returnflag": [
            "A" if i < 56 else ("R" if i < 62 else "N") for i in range(64)
        ],
        "l_linestatus": ["O" if i % 2 else "F" for i in range(64)],
    }
    assert set(got) == set(_DICT_COLS) == set(cols)
    for col, vals in cols.items():
        n = len(vals)
        counts = {}
        for v in vals:
            counts[v] = counts.get(v, 0) + 1
        ent = sum(
            int(_round_half(1_000_000 * (c / n) * math.log2(n / c), 0))
            for c in counts.values()
        )
        dict_bits = max(math.ceil(math.log2(len(counts))), 1)
        assert got[col] == (
            n, len(counts), ent, dict_bits, ent // dict_bits
        ), col
    # Coding-theory sanity: the skewed flag's entropy sits far below
    # its dictionary width; the uniform status hits it exactly.
    assert got["l_returnflag"][4] < 700_000
    assert got["l_linestatus"][2] == 1_000_000  # H = exactly 1 bit


def test_compaction_plan_matches_cumulative_offset_replay(spark, tmp_path):
    # 200 docs with doc_id-dependent sizes -> 64 hash shards of uneven
    # bytes, coalesced into ~8 contiguous groups.
    n_docs = 200
    rows = [
        (i, "t", "en", "s0", 50 + (i * 37) % 400) for i in range(n_docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.audits import (
        _COMPACT_GROUPS,
        _COMPACT_SHARDS,
        compaction_coalesce_plan,
    )

    got = [
        (r["group_id"], r["n_shards"], r["group_bytes"], r["first_shard"],
         r["last_shard"], r["fill_micros"])
        for r in compaction_coalesce_plan(spark, str(tmp_path)).collect()
    ]

    sizes = {}
    for i, _, _, _, nc in rows:
        sh = _md5_32(f"shard:{i}") % _COMPACT_SHARDS
        sizes[sh] = sizes.get(sh, 0) + nc
    total = sum(sizes.values())
    target = max((total + _COMPACT_GROUPS - 1) // _COMPACT_GROUPS, 1)
    cum = 0
    groups = {}
    for sh in sorted(sizes):
        gid = cum // target
        groups.setdefault(gid, []).append((sh, sizes[sh]))
        cum += sizes[sh]
    want = sorted(
        (
            gid,
            len(members),
            sum(b for _, b in members),
            min(s for s, _ in members),
            max(s for s, _ in members),
            sum(b for _, b in members) * 1_000_000 // target,
        )
        for gid, members in groups.items()
    )
    assert got == want
    # Plan sanity: contiguous shard spans, every group reasonably full.
    spans = [(f, l) for _, _, _, f, l in [w[:5] for w in want]]
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))
    assert all(w[5] > 500_000 for w in want[:-1])  # all but the tail
