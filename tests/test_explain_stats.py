"""Semantic anchors for the round-5 explainability/statistics batch
(``plans/audits.py``, ``plans/dedup.py``, ``plans/text.py``).

- Decision log: a 4-document corpus exercising every reason branch in
  precedence order, plus the consistency pin — the log's kept rows
  must equal corpus_clean_pipeline's output doc-for-doc on real
  testdata (the log IS the pipeline's EXPLAIN).
- Equi-depth histogram: prices 1..10 give boundary(q) = q·100 cents
  at rank k = ⌈q·n/10⌉ = q, checked for all nine deciles.
- Blocking audit: custkeys [1,1,1,2] give actual 3 vs uniform 4
  (skew 0.75); a constant date key gives actual 6 vs uniform 8.
"""

from __future__ import annotations


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_decision_log_reason_precedence(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.text import curation_decision_log

    good = " ".join(["the a and for in is of on to with"] * 10)  # q = 1.0
    rows = [
        (1, good, "en", "s", len(good)),
        (2, good, "en", "s", len(good)),  # same content, larger id
        (3, "zz zz", "zz", "s", 5),  # no stopwords
        (4, "the !!!!! ????? %%%%%", "en", "s", 21),  # q ≈ 0.177
    ]
    _write(spark, tmp_path, "documents", rows, _DOCS_SCHEMA)
    got = {
        r["doc_id"]: (r["reason"], r["kept"])
        for r in curation_decision_log(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: ("kept", True),
        2: ("exact_dup", False),
        3: ("non_english", False),
        4: ("low_quality", False),
    }


def test_decision_log_kept_rows_equal_clean_pipeline(spark):
    from scats_transis_kinesis_spark.plans.text import corpus_clean_pipeline
    from scats_transis_kinesis_spark.plans.text import curation_decision_log

    sf = "/root/testdata/sf0.001"
    kept = {
        r["doc_id"]
        for r in curation_decision_log(spark, sf).collect()
        if r["kept"]
    }
    pipeline = {r["doc_id"] for r in corpus_clean_pipeline(spark, sf).collect()}
    assert kept == pipeline


def test_equidepth_exact_decile_boundaries(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.audits import equidepth_histogram_stats

    rows = [(i, float(i)) for i in range(1, 11)]
    _write(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_extendedprice double",
    )
    got = {
        r["decile"]: (r["k_rank"], r["boundary_cents"])
        for r in equidepth_histogram_stats(spark, str(tmp_path)).collect()
    }
    assert got == {q: (q, q * 100) for q in range(1, 10)}


def test_blocking_cost_hand_counts(spark, tmp_path):
    from datetime import date

    from scats_transis_kinesis_spark.plans.dedup import blocking_cost_audit

    rows = [
        (1, 1, date(1995, 1, 1)),
        (2, 1, date(1995, 1, 1)),
        (3, 1, date(1995, 1, 1)),
        (4, 2, date(1995, 1, 1)),
    ]
    _write(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_orderdate date",
    )
    got = {
        r["blocking_key"]: r
        for r in blocking_cost_audit(spark, str(tmp_path)).collect()
    }
    ck = got["o_custkey"]
    assert (ck["n_rows"], ck["ndv"], ck["actual_pairs"]) == (4, 2, 3)
    assert ck["est_uniform_pairs"] == 4
    assert ck["skew_ratio_micros"] == 750_000
    assert (ck["top_key_size"], ck["top_key_pairs"]) == (3, 3)
    od = got["o_orderdate"]
    assert (od["ndv"], od["actual_pairs"], od["est_uniform_pairs"]) == (1, 6, 8)
