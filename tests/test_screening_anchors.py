"""Round-7 anchor batch 9: classifier screens and candidate-cost audits.

- ``nearest_centroid_accuracy``: Rocchio assignment replayed with exact
  integer distances, a planted argmin TIE (must break to the smaller
  label), and the majority baseline.
- ``blocking_cost_audit``: Σ c(c−1)/2 pair counts vs the uniform
  estimate, replayed from hand-built key multiplicities.
- ``domain_shift_kl``: per-language unigram KL over the heavy-hitter
  vocabulary replayed with plain p·ln(p/q) terms (below-threshold
  tokens excluded from BOTH distributions).
- ``quality_auc_en``: the engine computes tie-corrected AUC via a
  hierarchical midrank rank-sum; the replay uses the DIRECT pairwise
  definition (#(pos>neg) + ½·ties) / (np·nn) — different algorithm,
  same number.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

STOP = ("a", "and", "for", "in", "is", "of", "on", "the", "to", "with")


def _round_half(x: float, nd: int) -> float:
    scale = 10**nd
    v = x * scale
    r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
    return r / scale


def test_nearest_centroid_matches_rocchio_replay(spark, tmp_path):
    # Labels 0/1 cluster on dim 1; vec 7 (part 1) sits EXACTLY between
    # both centroids so its argmin ties and must resolve to label 0.
    # Components are multiples of 0.125 (float32-exact).
    vecs = [
        # part 0 (centroid fit): label 0 at x=1.0, label 1 at x=5.0
        (0, [1.0, 0.0], 0), (3, [1.0, 0.5], 0),
        (6, [5.0, 0.0], 1), (9, [5.0, 0.5], 1),
        # part 1/2 (eval)
        (1, [1.25, 0.25], 0),   # clearly label 0 -> correct
        (2, [4.75, 0.25], 1),   # clearly label 1 -> correct
        (4, [5.0, 0.25], 0),    # mislabeled -> wrong prediction
        (5, [1.0, 0.25], 1),    # mislabeled -> wrong prediction
        (7, [3.0, 0.25], 1),    # exact tie -> pred 0 -> wrong
        (8, [4.5, 0.25], 1),    # label 1 -> correct
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    from scats_transis_kinesis_spark.plans.retrieval import nearest_centroid_accuracy

    row = nearest_centroid_accuracy(spark, str(tmp_path)).collect()[0]

    # --- replay ---
    v = {vid: [round(x * 1000) for x in emb] for vid, emb, _ in vecs}
    lab = {vid: l for vid, _, l in vecs}
    cents = {}
    for l in (0, 1):
        members = [vid for vid in v if lab[vid] == l and vid % 3 == 0]
        cents[l] = [
            math.floor(sum(v[m][i] for m in members) / len(members) + 0.5)
            for i in range(2)
        ]
    evals = [vid for vid in v if vid % 3 != 0]
    correct = 0
    for vid in evals:
        d = {
            l: sum((v[vid][i] - c[i]) ** 2 for i in range(2))
            for l, c in cents.items()
        }
        pred = min(d, key=lambda l: (d[l], l))
        correct += pred == lab[vid]
    counts = {}
    for vid in evals:
        counts[lab[vid]] = counts.get(lab[vid], 0) + 1
    majority = max(counts.values())

    assert row["n_eval"] == len(evals) == 6
    assert row["n_correct"] == correct == 3
    assert row["accuracy_micros"] == correct * 1_000_000 // len(evals)
    assert row["majority_baseline_micros"] == majority * 1_000_000 // len(evals)


def test_blocking_cost_matches_pair_count_replay(spark, tmp_path):
    import datetime

    # o_custkey: one whale customer with 10 orders + 5 singletons;
    # o_orderdate: two dates with 8 and 7 orders (mild skew).
    custs = [1] * 10 + [2, 3, 4, 5, 6]
    dates = [datetime.datetime(1996, 1, 1)] * 8 + [
        datetime.datetime(1996, 1, 2)
    ] * 7
    rows = [(i, custs[i], dates[i]) for i in range(15)]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.dedup import blocking_cost_audit

    got = {r["blocking_key"]: r for r in blocking_cost_audit(spark, str(tmp_path)).collect()}

    for key, mult in (
        ("o_custkey", [10, 1, 1, 1, 1, 1]),
        ("o_orderdate", [8, 7]),
    ):
        n = sum(mult)
        ndv = len(mult)
        actual = sum(c * (c - 1) // 2 for c in mult)
        est = n * n // (2 * ndv)
        r = got[key]
        assert r["n_rows"] == n
        assert r["ndv"] == ndv
        assert r["actual_pairs"] == actual
        assert r["est_uniform_pairs"] == est
        assert r["skew_ratio_micros"] == actual * 1_000_000 // est
        assert r["top_key_size"] == max(mult)
        assert r["top_key_pairs"] == max(mult) * (max(mult) - 1) // 2
    # The whale key must show a large skew penalty; the date key ~1x.
    assert got["o_custkey"]["skew_ratio_micros"] > 2_000_000
    assert 800_000 < got["o_orderdate"]["skew_ratio_micros"] < 1_300_000


def test_domain_shift_kl_matches_plain_terms(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.common import HH_THRESHOLD
    from scats_transis_kinesis_spark.plans.sampling import domain_shift_kl

    # Build token streams where exactly three tokens clear the
    # heavy-hitter floor; 'rare' stays below it and must not count.
    per_lang = {
        "en": {"alpha": 150, "beta": 60, "gamma": 30, "rare": 10},
        "de": {"alpha": 60, "beta": 150, "gamma": 40, "rare": 5},
    }
    # global counts: alpha 210, beta 210, gamma 70, rare 15 (< 200)
    assert all(
        sum(per_lang[l][t] for l in per_lang) >= HH_THRESHOLD
        for t in ("alpha",)
    )
    rows = []
    did = 0
    for lang, counts in per_lang.items():
        words = [w for t, c in counts.items() for w in [t] * c]
        # chunk into docs of <=50 tokens
        for i in range(0, len(words), 50):
            did += 1
            chunk = " ".join(words[i : i + 50])
            rows.append((did, chunk, lang, "s0", len(chunk)))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    got = {
        r["lang"]: (r["n_tokens"], r["kl"])
        for r in domain_shift_kl(spark, str(tmp_path)).collect()
    }

    glob = {}
    for counts in per_lang.values():
        for t, c in counts.items():
            glob[t] = glob.get(t, 0) + c
    vocab = {t for t, c in glob.items() if c >= HH_THRESHOLD}
    assert vocab == {"alpha", "beta"}  # gamma 70, rare 15 fall below
    gt = sum(glob[t] for t in vocab)
    for lang, counts in per_lang.items():
        lt = sum(c for t, c in counts.items() if t in vocab)
        kl = sum(
            (c / lt) * math.log((c / lt) / (glob[t] / gt))
            for t, c in counts.items()
            if t in vocab
        )
        assert got[lang][0] == lt, lang
        assert got[lang][1] == pytest.approx(round(kl, 6), abs=2e-6), lang
    # KL sanity: both slices diverge from the pooled distribution.
    assert got["en"][1] > 0 and got["de"][1] > 0


def test_auc_matches_direct_pairwise_definition(spark, tmp_path):
    # Quality separates 'en' docs imperfectly, with deliberate score
    # TIES across labels (same text length/stopword mix) so the
    # midrank correction matters.
    texts_labels = [
        ("the cat is on the mat and it sat", "en"),
        ("the dog is in the yard and it ran", "en"),
        ("word1 word2 word3 word4 word5 word6 word7 word8", "de"),
        ("wort1 wort2 wort3 wort4 wort5 wort6 wort7 wort8", "de"),
        ("the fox is of the den and it hid", "de"),   # ties en-scored docs
        ("short text", "en"),
        ("!!! ??? ###", "de"),
        ("a b c d e f g h i j k l m n o p q r s t", "en"),
    ]
    rows = [
        (i, t, lang, "s0", len(t)) for i, (t, lang) in enumerate(texts_labels)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.stats import quality_auc_en

    row = quality_auc_en(spark, str(tmp_path)).collect()[0]

    def quality(text: str) -> float:
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

    pos = [quality(t) for t, l in texts_labels if l == "en"]
    neg = [quality(t) for t, l in texts_labels if l != "en"]
    wins = sum(1 for p in pos for q in neg if p > q)
    ties = sum(1 for p in pos for q in neg if p == q)
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))

    assert row["n_positive"] == len(pos) == 4
    assert row["n_negative"] == len(neg) == 4
    assert row["auc"] == pytest.approx(round(auc, 6), abs=2e-6)
    # The planted cross-label tie must actually exist, else the midrank
    # path wasn't exercised.
    assert ties >= 1
    assert 0.5 < auc < 1.0
