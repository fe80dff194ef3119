"""Semantic anchors for the round-5 partition-quality/optimizer batch
(``plans/audits.py``, ``plans/graph.py``, ``plans/retrieval.py``).

- Modularity: two brand cliques joined by one cross edge — m = 3,
  intra = 2, degree sums 3/3 → Q = 2/3 − 18/36 = 0.166667 by hand.
- Selectivity: the test mirrors the band-interpolation arithmetic in
  Python integers and demands equality for all three predicates.
- Nearest centroid: two exactly-separated clusters score 1e6 accuracy
  against a 500000 majority baseline.
"""

from __future__ import annotations

from datetime import date


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


def test_modularity_two_cliques_one_bridge(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.graph import modularity_brand_copurchase

    _write(
        spark, tmp_path, "orders",
        [(1, date(1995, 2, 1)), (2, date(1995, 3, 1)), (3, date(1995, 4, 1))],
        "o_orderkey long, o_orderdate date",
    )
    li = [(1, 1), (1, 2), (2, 3), (2, 4), (3, 2), (3, 3)]
    _write(spark, tmp_path, "lineitem", li, "l_orderkey long, l_partkey long")
    _write(
        spark, tmp_path, "part",
        [(1, "BRAND#A"), (2, "BRAND#A"), (3, "BRAND#B"), (4, "BRAND#B")],
        "p_partkey long, p_brand string",
    )
    [r] = modularity_brand_copurchase(spark, str(tmp_path)).collect()
    assert (r["n_vertices"], r["n_edges"], r["n_communities"]) == (4, 3, 2)
    assert r["intra_share_micros"] == 666_666
    assert r["modularity"] == 0.166667


def test_selectivity_matches_python_mirror(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.audits import (
        _SEL_BANDS,
        _SEL_PREDICATES,
        selectivity_estimate_audit,
    )

    vals = [i * 100 for i in range(1000)]
    rows = [(i, float(v)) for i, v in enumerate(vals)]
    _write(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_extendedprice double",
    )
    got = {
        r["pred"]: r
        for r in selectivity_estimate_audit(spark, str(tmp_path)).collect()
    }

    lo, hi = min(vals), max(vals)
    w = max((hi - lo) / _SEL_BANDS, 1e-9)
    from collections import Counter

    bands = Counter(min(_SEL_BANDS - 1, int((v - lo) // w)) for v in vals)
    for pred, plo, phi in _SEL_PREDICATES:
        est_micro = 0
        for band, n in bands.items():
            blo, bhi = lo + band * w, lo + (band + 1) * w
            frac = max(0.0, min((min(float(phi), bhi) - max(float(plo), blo)) / w, 1.0))
            est_micro += round(1_000_000 * n * frac)
        actual = sum(1 for v in vals if plo <= v < phi)
        r = got[pred]
        assert r["est_rows"] == est_micro // 1_000_000
        assert r["actual_rows"] == actual
        if actual:
            assert r["rel_err_micros"] == abs(est_micro - actual * 1_000_000) // actual


def test_nearest_centroid_separable_clusters(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.retrieval import nearest_centroid_accuracy

    plus = [1.0] + [0.0] * 63
    minus = [-1.0] + [0.0] * 63
    rows = [(i, plus if i % 2 == 0 else minus, i % 2) for i in range(12)]
    _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    [r] = nearest_centroid_accuracy(spark, str(tmp_path)).collect()
    assert r["n_eval"] == 8
    assert r["n_correct"] == 8
    assert r["accuracy_micros"] == 1_000_000
    assert r["majority_baseline_micros"] == 500_000
