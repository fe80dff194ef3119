"""Round-10 addition replay anchors: the trained-IVF quantizer arc and
the streaming span-coverage twin.

Per the growth contract every addition ships with BOTH a DuckDB oracle
(structural cross-engine compare) and an independent plain-Python
replay — the replay catches a definition encoded wrong in both engines
identically, which the oracle compare structurally cannot.

The quantizer anchors share one PLANTED corpus: 34 float32-exact
64-dim vectors in 4 tight clusters, with ids 0..15 (the entire seed
sample AND the k-means init) all inside cluster A, and the audit
queries (IVFK_QUERY_IDS = 20..24) in clusters B/C.  Jitter is zero on
the 4 cluster-axis dims so no single seed dominates every query's
probe ranking.  On this corpus the replay PROVES the story the design
table exists to tell:

- ``ivf_kmeans_recall_audit``: the seed quantizer scores recall 0 at
  nprobe=1 and 2 (every probe lands in an A-huddled centroid whose
  bucket holds none of the query's true neighbors) while the trained
  quantizer scores 1.0 at nprobe=1 with FEWER candidates — Lloyd's
  escaped centroids tile B/C/D even though its init was all-A.
- ``ivf_quantizer_balance_audit``: the axes genuinely trade off — the
  trained quantizer WINS recall but LOSES balance (it collapses A's 16
  members into one hot cluster, max/mean 3.29x vs seed's 1.06x), which
  is exactly why the deployment table needs both rows.
- ``sim_topk_ivf_kmeans``: the production search path replayed
  end-to-end on the same corpus (trained centroids, probe-4, top-5).
- ``incremental_span_coverage_stream``: the foreachBatch state table
  must equal the batch merge twin row-for-row on the round-9 span
  corpus (cross-split repeat caught, within-doc repeat not).
"""

from __future__ import annotations

import math

import numpy as np

DIM = 64
SPAN_N = 5


def _round_half(x: float, nd: int = 6) -> float:
    scale = 10**nd
    v = x * scale
    r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
    return r / scale


def _write_embeddings(spark, path, vecs):
    rows = [
        (i, [float(np.float32(x)) for x in v], 0)
        for i, v in sorted(vecs.items())
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{path}/embeddings.parquet")


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{path}/documents.parquet")


# --- the planted quantizer corpus -------------------------------------------

_AXES = {"A": 0, "B": 16, "C": 32, "D": 48}
_MEMBERS = {
    "A": range(0, 16),  # the whole seed sample / k-means init
    "B": range(16, 22),
    "C": range(22, 28),
    "D": range(28, 34),
}


def _planted_vecs() -> dict[int, list[float]]:
    """34 vectors, 4 tight clusters; all values are multiples of
    1/64 or exactly 4.0, so float32 quantization is exact.  Jitter is
    zero on the 4 axis dims: otherwise the per-seed axis component is
    a constant that dominates EVERY query's probe ranking identically
    and the whole corpus lumps onto one seed."""
    axis_dims = set(_AXES.values())

    def jit(i: int, j: int) -> float:
        if j in axis_dims:
            return 0.0
        return 0.0625 * ((i * 7 + j * 13) % 9 - 4)

    vecs: dict[int, list[float]] = {}
    for cl, ids in _MEMBERS.items():
        for i in ids:
            v = [jit(i, j) * 0.25 for j in range(DIM)]
            v[_AXES[cl]] += 4.0
            vecs[i] = v
    return vecs


def _f64(vecs):
    return {
        i: np.array(np.array(v, dtype=np.float32), dtype=np.float64)
        for i, v in vecs.items()
    }


def _cos(a, b) -> float:
    return _round_half(
        float(np.dot(a, b) / (np.sqrt(np.dot(a, a)) * np.sqrt(np.dot(b, b))))
    )


def _replay_lloyd_cents(f64, k, iters):
    """kmeans_centroids replay: smallest-id init, round-6 left-fold
    squared-euclid argmin with (dist, cid) tiebreak, round-6 means,
    empty clusters dropping out, one FINAL update after the last
    assignment.  Returns (exported centroids, final assignment)."""
    ids = sorted(f64)
    cents = {cid: list(f64[i]) for cid, i in enumerate(ids[:k])}
    assigned: dict[int, int] = {}
    for it in range(iters):
        assigned = {}
        for vid in ids:
            best = None
            for cid in sorted(cents):
                acc = 0.0
                for x, y in zip(f64[vid], cents[cid]):
                    acc = acc + (x - y) * (x - y)
                d = _round_half(acc)
                if best is None or (d, cid) < best[:2]:
                    best = (d, cid)
            assigned[vid] = best[1]
        new = {}
        for cid in sorted(set(assigned.values())):
            mem = [vid for vid in ids if assigned[vid] == cid]
            new[cid] = [
                _round_half(sum(f64[m][j] for m in mem) / len(mem))
                for j in range(DIM)
            ]
        cents = new  # the post-last-assignment update IS the export
    return cents, assigned


def _replay_assign(f64, cents):
    cids = sorted(cents)
    return {
        i: min(cids, key=lambda c: (-_cos(f64[i], cents[c]), c))
        for i in sorted(f64)
    }


def _replay_audit(f64, cents, qids, probes, k):
    ids = sorted(f64)
    assigned = _replay_assign(f64, cents)
    cids = sorted(cents)
    cranks = {
        q: sorted(cids, key=lambda c: (-_cos(f64[q], cents[c]), c))
        for q in qids
    }
    exact = {
        q: set(
            sorted(
                (i for i in ids if i != q),
                key=lambda i: (-_cos(f64[q], f64[i]), i),
            )[:k]
        )
        for q in qids
    }
    out = {}
    for p in probes:
        n_cand = n_hits = 0
        for q in qids:
            probed = set(cranks[q][:p])
            cand = [i for i in ids if i != q and assigned[i] in probed]
            n_cand += len(cand)
            topk = sorted(cand, key=lambda i: (-_cos(f64[q], f64[i]), i))[:k]
            n_hits += len(set(topk) & exact[q])
        out[p] = (
            n_cand,
            n_hits,
            n_hits * 1_000_000 // (len(qids) * k),
            n_cand * 1_000_000 // (len(qids) * (len(ids) - 1)),
        )
    return out


def test_ivf_kmeans_recall_audit_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.common import KM_ITERS
    from scats_transis_kinesis_spark.plans.retrieval import (
        IVF_CENTROIDS,
        IVF_K,
        IVF_PROBES,
    )
    from scats_transis_kinesis_spark.plans.retrieval import (
        IVFK_QUERY_IDS,
        ivf_kmeans_recall_audit,
    )

    vecs = _planted_vecs()
    _write_embeddings(spark, tmp_path, vecs)
    f64 = _f64(vecs)
    seed_cents = {i: f64[i] for i in sorted(f64)[:IVF_CENTROIDS]}
    km_cents, _ = _replay_lloyd_cents(f64, IVF_CENTROIDS, KM_ITERS)
    want = {}
    for name, cents in (("seed", seed_cents), ("kmeans", km_cents)):
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
        for r in ivf_kmeans_recall_audit(spark, str(tmp_path)).collect()
    }
    assert got == want
    # Decision points — the lift story the table exists to tell:
    # the huddled seed quantizer misses EVERYTHING at 1-2 probes (all
    # 16 centroids sit in cluster A; no query's neighbors share the
    # probed bucket), while the trained quantizer is perfect at
    # nprobe=1 with FEWER scored candidates.
    assert want[("seed", 1)][2] == 0 and want[("seed", 2)][2] == 0
    assert want[("kmeans", 1)][2] == 1_000_000
    assert want[("kmeans", 1)][0] < want[("seed", 1)][0] + 11
    # Monotone recall/cost in nprobe for BOTH quantizers.
    for name in ("seed", "kmeans"):
        recalls = [want[(name, p)][2] for p in IVF_PROBES]
        shares = [want[(name, p)][3] for p in IVF_PROBES]
        assert recalls == sorted(recalls)
        assert shares == sorted(shares)
    # Lloyd escaped its all-A init: fewer than IVF_CENTROIDS clusters
    # survive (the empty-cluster drop-out contract).
    assert len(km_cents) < IVF_CENTROIDS


def test_sim_topk_ivf_kmeans_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.retrieval import _SIM_QUERY_IDS
    from scats_transis_kinesis_spark.plans.common import KM_ITERS
    from scats_transis_kinesis_spark.plans.retrieval import IVF_CENTROIDS, IVF_K
    from scats_transis_kinesis_spark.plans.retrieval import sim_topk_ivf_kmeans

    vecs = _planted_vecs()
    _write_embeddings(spark, tmp_path, vecs)
    f64 = _f64(vecs)
    km_cents, _ = _replay_lloyd_cents(f64, IVF_CENTROIDS, KM_ITERS)
    assigned = _replay_assign(f64, km_cents)
    cids = sorted(km_cents)
    want = {}
    for q in _SIM_QUERY_IDS:
        probed = set(
            sorted(cids, key=lambda c: (-_cos(f64[q], km_cents[c]), c))[:4]
        )
        cand = [
            i for i in sorted(f64) if i != q and assigned[i] in probed
        ]
        for i in sorted(
            cand, key=lambda i: (-_cos(f64[q], f64[i]), i)
        )[:IVF_K]:
            want[(q, i)] = _cos(f64[q], f64[i])
    got = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in sim_topk_ivf_kmeans(spark, str(tmp_path)).collect()
    }
    assert got == want


def test_ivf_quantizer_balance_audit_replay(spark, tmp_path):
    from collections import Counter

    from scats_transis_kinesis_spark.plans.common import KM_ITERS
    from scats_transis_kinesis_spark.plans.retrieval import IVF_CENTROIDS
    from scats_transis_kinesis_spark.plans.retrieval import ivf_quantizer_balance_audit

    vecs = _planted_vecs()
    _write_embeddings(spark, tmp_path, vecs)
    f64 = _f64(vecs)
    seed_cents = {i: f64[i] for i in sorted(f64)[:IVF_CENTROIDS]}
    km_cents, _ = _replay_lloyd_cents(f64, IVF_CENTROIDS, KM_ITERS)
    want = {}
    for name, cents in (("seed", seed_cents), ("kmeans", km_cents)):
        sizes = sorted(Counter(_replay_assign(f64, cents).values()).values())
        n_cl, n_v = len(sizes), sum(sizes)
        want[name] = (
            n_cl,
            n_v,
            sizes[0],
            sizes[-1],
            sizes[-1] * 1_000_000 * n_cl // n_v,
        )
    got = {
        r["quantizer"]: (
            r["n_clusters"],
            r["n_vectors"],
            r["min_cluster"],
            r["max_cluster"],
            r["imbalance_micros"],
        )
        for r in ivf_quantizer_balance_audit(spark, str(tmp_path)).collect()
    }
    assert got == want
    # Decision points: every vector lands in exactly one cluster for
    # both quantizers, and the axes genuinely TRADE OFF on this corpus
    # — the trained quantizer wins recall (asserted in the audit
    # anchor) but collapses A's 16 members into one hot cluster, so it
    # LOSES balance.  That tension is why the table has two rows.
    assert want["seed"][1] == want["kmeans"][1] == len(vecs)
    assert want["kmeans"][3] == len(_MEMBERS["A"])  # the hot A cluster
    assert want["kmeans"][4] > want["seed"][4] > 1_000_000


# --- incremental_span_coverage_stream ----------------------------------------

# The round-9 span corpus (test_round9_anchors.py), reused so the
# streaming twin answers the SAME hand-checked decision points.
_SPAN_DOCS = [
    # delta (doc_id % 5 == 0):
    (0, "a b c d e x y z w v"),   # span 'a b c d e' repeated ACROSS split
    (5, "f g h i j f g h i j"),   # repeated only WITHIN this one doc
    (10, "k l m n o p q r s t"),  # span shared with delta doc 15
    (15, "k l m n o zz1 zz2 zz3 zz4 zz5"),
    # base:
    (1, "a b c d e q1 q2 q3 q4 q5"),   # other side of the cross-split pair
    (2, "m1 m2 m3 m4 m5 m6 m7"),       # unique base doc
    (3, "n1 n2 n3 n4 n5 base base2 base3 base4 base5"),
    (4, "n1 n2 n3 n4 n5 other other2 other3 other4 other5"),  # base-only repeat
]


def test_stream_matches_batch_twin_and_decision_points(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.dedup import incremental_span_coverage
    from scats_transis_kinesis_spark.plans.dedup import (
        incremental_span_coverage_stream,
    )

    _write_documents(
        spark,
        tmp_path,
        [(d, t, "en", "web", len(t)) for d, t in _SPAN_DOCS],
    )
    batch = {
        r["doc_id"]: (r["n_toks"], r["n_covered"], r["coverage"])
        for r in incremental_span_coverage(spark, str(tmp_path)).collect()
    }
    stream = {
        r["doc_id"]: (r["n_toks"], r["n_covered"], r["coverage"])
        for r in incremental_span_coverage_stream(
            spark, str(tmp_path)
        ).collect()
    }
    assert stream == batch
    # The stream's state table must reproduce the batch twin's
    # hand-checked decisions: the cross-split repeat IS caught even
    # though each micro-batch alone sees the span once...
    assert stream[0] == (10, 5, 0.5)
    # ...a span repeated only inside one document is NOT...
    assert stream[5] == (10, 0, 0.0)
    # ...and a delta-internal cross-doc repeat is caught even when the
    # two docs land in DIFFERENT micro-batches.
    assert stream[10][1] == 5 and stream[15][1] == 5


def test_stream_result_is_batch_count_invariant(spark, tmp_path):
    """Sweep the micro-batch count 1..4: per-span distinct-doc counts
    over disjoint doc sets merge by sum, so the final state — and
    therefore the coverage report — cannot depend on how the delta was
    split.  (n=1 is the single-batch degenerate case; n=4 splits the 4
    delta docs as finely as the file source can.)"""
    from scats_transis_kinesis_spark.plans.dedup import _span_coverage_stream

    _write_documents(
        spark,
        tmp_path,
        [(d, t, "en", "web", len(t)) for d, t in _SPAN_DOCS],
    )
    results = []
    for n_batches in (1, 2, 4):
        results.append(
            sorted(
                (r["doc_id"], r["n_toks"], r["n_covered"], r["coverage"])
                for r in _span_coverage_stream(
                    spark, str(tmp_path), n_batches
                ).collect()
            )
        )
    assert results[0] == results[1] == results[2]
    assert len(results[0]) == 4  # all four delta docs reported
