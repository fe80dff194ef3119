"""Round-10 extended-session addition replay anchors: the streaming
exact-dedup state twin and the two quantizer-lifecycle audits.

Per the growth contract every addition ships with BOTH a DuckDB oracle
(structural cross-engine compare) and an independent plain-Python
replay — the replay catches a definition encoded wrong in both engines
identically, which the oracle compare structurally cannot.

The quantizer anchors reuse the round-10 planted corpus
(test_round10_anchors: 34 float32-exact vectors, 4 tight clusters, the
entire seed sample huddled in cluster A) so the new audits answer
decision points on a corpus whose recall story is already hand-checked:

- ``ivf_seeding_recall_audit``: the farthest-point traversal ESCAPES
  cluster A by construction — its first 4 picks cover all 4 clusters
  (pick 1 is id 0 in A; picks 2-4 are the farthest remaining points,
  one per other cluster) — so 'kcenter' beats 'seed' at nprobe=1
  without running a single Lloyd round.
- ``ivf_quantizer_stability_audit``: on the planted corpus the half
  training (even ids) sees a DIFFERENT init than the full training, so
  the audit must report imperfect agreement (ari < 1); on the same
  corpus remapped to all-even ids the half IS the corpus, both
  trainings coincide, and the audit must report EXACT identity
  (rand = 1e6, ari = 1.0) — the self-consistency fixed point.
- ``incremental_exact_dedup_stream``: hand-checked survivorship on a
  crafted corpus (cross-split dup flagged in_base, delta-internal dup
  merged to the min id across micro-batches, unique doc surviving),
  plus the batch-count sweep 1/2/4 the algebraic (min, sum) merge
  guarantees.

Also pins the ``_kmeans_ctes`` parameterization: with default
``prefix``/``source`` the emitted chain is byte-identical to the
pre-parameter form (sha256), so the three long-green k-means-family
oracles cannot have drifted.
"""

from __future__ import annotations

import hashlib

from tests.test_round10_anchors import (
    _MEMBERS,
    _f64,
    _planted_vecs,
    _replay_assign,
    _replay_audit,
    _replay_lloyd_cents,
    _round_half,
    _write_documents,
    _write_embeddings,
)

M = 1_000_000


# --- _kmeans_ctes parameterization stays byte-identical ---------------------


def test_kmeans_ctes_default_chain_is_byte_identical():
    from scats_transis_kinesis_spark.plans.common import _kmeans_ctes

    # Hashes recorded BEFORE the prefix/source parameters were added
    # (round-10 extended session) — the default chain feeds the
    # long-green kmeans_embedding_clusters / semdedup / trained-IVF
    # oracles and must not drift.
    for final_update, want in ((False, "f5a3aa33ae3a0854"),
                               (True, "d214360e625cc7dc")):
        ctes, last = _kmeans_ctes(final_update=final_update)
        h = hashlib.sha256(
            ("|".join(ctes) + "#" + last).encode()
        ).hexdigest()[:16]
        assert h == want, (final_update, h)


def test_kmeans_ctes_prefixed_chain_renames_every_cte():
    from scats_transis_kinesis_spark.plans.common import _kmeans_ctes

    ctes, last = _kmeans_ctes(
        k=4, iters=2, final_update=True, prefix="h",
        source="embeddings WHERE vec_id % 2 = 0",
    )
    assert last == "hc2"
    names = [c.split(" AS ")[0].strip() for c in ctes]
    assert names[0] == "he" and all(n.startswith("h") for n in names)
    # The corpus CTE carries the filtered source; the assignment CTEs
    # keep alias ``e`` so the shared dist expression resolves.
    assert "WHERE vec_id % 2 = 0" in ctes[0]
    assert "FROM he e CROSS JOIN hc0 c" in ctes[2]


# --- incremental_exact_dedup_stream ------------------------------------------

_DEDUP_DOCS = [
    # delta (doc_id % 5 == 0):
    (0, "alpha beta"),     # dup of base doc 1 (and of delta doc 20)
    (5, "gamma delta"),    # delta-internal dup pair with doc 10 —
    (10, "gamma delta"),   #   lands in different micro-batches
    (15, "unique one"),    # survives untouched
    (20, "alpha beta"),
    # base:
    (1, "alpha beta"),
    (2, "base only text"),
    (3, "another base"),
]


def _h64(text: str) -> int:
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


def test_dedup_stream_decision_points(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.dedup import incremental_exact_dedup_stream

    _write_documents(
        spark,
        tmp_path,
        [(d, t, "en", "web", len(t)) for d, t in _DEDUP_DOCS],
    )
    got = {
        r["content_hash"]: (r["keep_id"], r["n_copies"], r["in_base"])
        for r in incremental_exact_dedup_stream(
            spark, str(tmp_path)
        ).collect()
    }
    # Replay: delta hashes grouped to (min id, count), flagged against
    # the base corpus's hash set.
    assert got == {
        # cross-split dup: both delta copies report, min id kept, and
        # in_base says history already owns this content.
        _h64("alpha beta"): (0, 2, True),
        # delta-internal dup caught across micro-batches, min id wins
        # regardless of which batch arrived first.
        _h64("gamma delta"): (5, 2, False),
        # unique content survives.
        _h64("unique one"): (15, 1, False),
    }


def test_dedup_stream_is_batch_count_invariant(spark, tmp_path):
    """Sweep the micro-batch count 1/2/4: per-hash (min id, count)
    partials over disjoint doc sets merge by (min, sum), so the state
    — and the report — cannot depend on how the delta was split."""
    from scats_transis_kinesis_spark.plans.dedup import _dedup_state_stream

    _write_documents(
        spark,
        tmp_path,
        [(d, t, "en", "web", len(t)) for d, t in _DEDUP_DOCS],
    )
    results = []
    for n_batches in (1, 2, 4):
        results.append(
            sorted(
                (r["content_hash"], r["keep_id"], r["n_copies"], r["in_base"])
                for r in _dedup_state_stream(
                    spark, str(tmp_path), n_batches
                ).collect()
            )
        )
    assert results[0] == results[1] == results[2]
    assert len(results[0]) == 3


# --- quantizer replays --------------------------------------------------------


def _sqdist(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return _round_half(acc)


def _replay_kcenter(f64, k):
    """kcenter_centroids replay: smallest-id start, per round the
    argmax of the running min squared distance (round-6 lockstep),
    smallest-id tiebreak.  Returns ({rank: pick}, pick ids)."""
    ids = sorted(f64)
    order = [ids[0]]
    picks = [list(f64[ids[0]])]
    md = {i: _sqdist(f64[i], picks[0]) for i in ids}
    for _ in range(1, k):
        nxt = max(ids, key=lambda i: (md[i], -i))
        order.append(nxt)
        picks.append(list(f64[nxt]))
        for i in ids:
            md[i] = min(md[i], _sqdist(f64[i], f64[nxt]))
    return {cid: picks[cid] for cid in range(k)}, order


def _replay_pair_agreement(pa, pb):
    from collections import Counter

    cells = Counter((pa[i], pb[i]) for i in pa)

    def c2(x: int) -> int:
        return x * (x - 1) // 2

    matched = sum(c2(v) for v in cells.values())
    a: Counter = Counter()
    b: Counter = Counter()
    for (ca, cb), v in cells.items():
        a[ca] += v
        b[cb] += v
    full_pairs = sum(c2(v) for v in a.values())
    half_pairs = sum(c2(v) for v in b.values())
    n = sum(cells.values())
    tot = c2(n)
    rand = (matched + tot - full_pairs - half_pairs + matched) * M // tot
    exp_idx = full_pairs * half_pairs / tot
    den = (full_pairs + half_pairs) / 2.0 - exp_idx
    ari = _round_half((matched - exp_idx) / den) if den > 0 else None
    return (n, matched, full_pairs, half_pairs, rand, ari)


def test_ivf_seeding_recall_audit_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.common import KM_ITERS
    from scats_transis_kinesis_spark.plans.retrieval import (
        IVF_CENTROIDS,
        IVF_K,
        IVF_PROBES,
    )
    from scats_transis_kinesis_spark.plans.retrieval import IVFK_QUERY_IDS
    from scats_transis_kinesis_spark.plans.retrieval import ivf_seeding_recall_audit

    vecs = _planted_vecs()
    _write_embeddings(spark, tmp_path, vecs)
    f64 = _f64(vecs)
    seed_cents = {i: f64[i] for i in sorted(f64)[:IVF_CENTROIDS]}
    kc_cents, kc_order = _replay_kcenter(f64, IVF_CENTROIDS)
    km_cents, _ = _replay_lloyd_cents(f64, IVF_CENTROIDS, KM_ITERS)
    want = {}
    for name, cents in (
        ("seed", seed_cents),
        ("kcenter", kc_cents),
        ("kmeans", km_cents),
    ):
        for p, row in _replay_audit(
            f64, cents, IVFK_QUERY_IDS, IVF_PROBES, IVF_K
        ).items():
            want[(name, p)] = row
    got = {
        (r["quantizer"], r["nprobe"]): (
            r["n_candidates"],
            r["n_hits"],
            r["recall_micros"],
            r["cand_share_micros"],
        )
        for r in ivf_seeding_recall_audit(spark, str(tmp_path)).collect()
    }
    assert got == want
    # Decision points — the seeding story the table exists to tell:
    # the traversal's first 4 picks cover ALL FOUR clusters (pick 1 is
    # id 0 in A, then the farthest remaining point each round)...
    def cluster_of(i: int) -> str:
        return next(c for c, ids in _MEMBERS.items() if i in ids)

    assert kc_order[0] == 0
    assert {cluster_of(i) for i in kc_order[:4]} == set(_MEMBERS)
    # ...so kcenter beats the huddled seed sample at nprobe=1 without
    # a single Lloyd round — spread alone closes (most of) the gap.
    assert want[("kcenter", 1)][2] > want[("seed", 1)][2]
    assert want[("seed", 1)][2] == 0


def test_ivf_quantizer_stability_audit_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.common import KM_ITERS
    from scats_transis_kinesis_spark.plans.retrieval import IVF_CENTROIDS
    from scats_transis_kinesis_spark.plans.retrieval import (
        ivf_quantizer_stability_audit,
    )

    vecs = _planted_vecs()
    _write_embeddings(spark, tmp_path, vecs)
    f64 = _f64(vecs)
    full_cents, _ = _replay_lloyd_cents(f64, IVF_CENTROIDS, KM_ITERS)
    half = {i: f64[i] for i in sorted(f64) if i % 2 == 0}
    half_cents, _ = _replay_lloyd_cents(half, IVF_CENTROIDS, KM_ITERS)
    want = _replay_pair_agreement(
        _replay_assign(f64, full_cents), _replay_assign(f64, half_cents)
    )
    [r] = ivf_quantizer_stability_audit(spark, str(tmp_path)).collect()
    got = (
        r["n_vectors"],
        r["matched_pairs"],
        r["full_pairs"],
        r["half_pairs"],
        r["rand_index_micros"],
        r["ari"],
    )
    assert got == want
    # Decision points: the half training starts from a DIFFERENT init
    # (even ids only), so the audit must report imperfect agreement —
    # that nonzero drift is the number the retrain pipeline reads.
    assert got[0] == len(vecs)
    assert got[1] <= min(got[2], got[3])
    assert 0 < got[4] <= M
    assert got[5] is not None and got[5] < 1.0


def test_stability_audit_identical_trainings_report_exact_identity(
    spark, tmp_path
):
    """Self-consistency fixed point: remap the planted corpus to
    all-even ids — the half subset IS the corpus, both trainings
    coincide, and the audit must report rand = 1e6 / ari = 1.0 with
    matched == full_pairs == half_pairs."""
    from scats_transis_kinesis_spark.plans.retrieval import (
        ivf_quantizer_stability_audit,
    )

    vecs = {2 * i: v for i, v in _planted_vecs().items()}
    _write_embeddings(spark, tmp_path, vecs)
    [r] = ivf_quantizer_stability_audit(spark, str(tmp_path)).collect()
    assert r["n_vectors"] == len(vecs)
    assert r["matched_pairs"] == r["full_pairs"] == r["half_pairs"]
    assert r["rand_index_micros"] == M
    assert r["ari"] == 1.0
