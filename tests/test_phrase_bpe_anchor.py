"""Hand-computed anchors for positional phrase search and BPE induction.

Phrase search: adjacency must be POSITIONAL (the phrase interrupted by
one token must not match; overlapping occurrences each count).
BPE: the first merges on a tiny corpus are computable by hand —
frequency-weighted pair counts, count-DESC + lexicographic tiebreak,
leftmost-greedy replace feeding the next round."""

from __future__ import annotations


def test_phrase_search_requires_adjacency(spark, tmp_path):
    rows = [
        # two occurrences, the second right after the first's tail
        (1, "stream table hash stream table hash"),
        # interrupted phrase: must NOT match
        (2, "stream table x hash"),
        # phrase absent entirely
        (3, "table hash stream"),
        # single clean occurrence with noise around it
        (4, "x stream table hash y"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )

    from scats_transis_kinesis_spark.plans.retrieval import phrase_search_positional

    out = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_search_positional(spark, str(tmp_path)).collect()
    }
    assert out == {1: 2, 4: 1}


def test_bpe_first_merges_by_hand(spark, tmp_path):
    # Corpus: 'ab' x3, 'abc' x2, 'zz' x4.
    # Round 1 pair counts: (a,b)=5, (b,c)=2, (z,z)=4 -> merge (a,b).
    # Round 2: sequences: <ab> (no pair), <ab><c> -> (ab,c)=2, <z><z>=4
    #   -> merge (z,z).
    # Round 3: remaining pairs: (ab,c)=2 -> merge (ab,c).
    docs = ["ab " * 3 + "abc " * 2 + "zz " * 4]
    spark.createDataFrame(
        [(1, docs[0].strip())], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.text import bpe_merge_induction

    out = sorted(
        (
            (r["merge_round"], r["pair_left"], r["pair_right"], r["merged"], r["pair_count"])
            for r in bpe_merge_induction(spark, str(tmp_path)).collect()
        )
    )
    assert out == [
        (1, "a", "b", "ab", 5),
        (2, "z", "z", "zz", 4),
        (3, "ab", "c", "abc", 2),
    ]
