"""Hand-computed anchor for quantile_normalize_by_source (Bolstad '03).

Oracle-mirrored checks can't catch a wrong definition shared by both
engines; this pins the classic closed-form case — two sources whose
rank means are known by hand — plus the defined drop behavior for ranks
missing from a smaller source.
"""

from __future__ import annotations


def test_quantile_normalization_matches_bolstad_hand_case(spark, tmp_path):
    # Source A lengths [10, 20, 30]; source B lengths [100, 200, 300, 400].
    # Rank means: rk1 (10+100)/2=55, rk2 (20+200)/2=110, rk3 (30+300)/2=165.
    # Rank 4 exists only in B -> dropped (defined behavior).
    rows = (
        [(1, "A", 10), (2, "A", 30), (3, "A", 20)]
        + [(4, "B", 400), (5, "B", 100), (6, "B", 300), (7, "B", 200)]
    )
    spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.stats import quantile_normalize_by_source

    out = {
        r["doc_id"]: r
        for r in quantile_normalize_by_source(spark, str(tmp_path)).collect()
    }
    # doc 4 (B's rank-4 value 400) is dropped; everything else normalized.
    assert set(out) == {1, 2, 3, 5, 6, 7}
    expect = {
        1: (1, 55_000_000),   # A, 10  -> rk1
        3: (2, 110_000_000),  # A, 20  -> rk2
        2: (3, 165_000_000),  # A, 30  -> rk3
        5: (1, 55_000_000),   # B, 100 -> rk1
        7: (2, 110_000_000),  # B, 200 -> rk2
        6: (3, 165_000_000),  # B, 300 -> rk3
    }
    for doc_id, (rk, qn) in expect.items():
        assert (out[doc_id]["rk"], out[doc_id]["qnorm_micros"]) == (rk, qn), doc_id
    # Post-normalization the two sources carry identical distributions —
    # the whole point of the operator.
    a = sorted(r["qnorm_micros"] for r in out.values() if r["source"] == "A")
    b = sorted(r["qnorm_micros"] for r in out.values() if r["source"] == "B")
    assert a == b
