"""Semantic property tests for the statistical-inference audits.

The driver's hash gate proves Spark and DuckDB compute the same
numbers; these tests prove the numbers MEAN what the docstrings claim
(the estimator-quality lesson: an oracle that replays the same math
can't see a semantically wrong formula).

- chi2: an exactly-independent contingency table must score chi2 = 0
  and a perfectly-associated one must score chi2 = n·min(r-1, c-1)
  (Cramér's V = 1) — the two closed-form anchors of the statistic.
- gains curve: selection volume and recall must both be monotone along
  the cutoff axis, the zero cutoff must select everything (lift = 1),
  and lift must equal recall/selected_share row by row.
- jackknife: a constant column must report SE = 0 with a degenerate
  CI, and on real data the block-jackknife variance of the mean must
  land near the closed-form SRS variance s²/n (the delete-one-block
  jackknife is a consistent estimator of it).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _write_documents(spark, path, cells):
    """cells: {(lang, source): count} → a documents.parquet the audit reads."""
    rows, i = [], 0
    for (lang, source), n in cells.items():
        for _ in range(n):
            rows.append((i, f"doc {i}", lang, source, 10))
            i += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


# ---------------------------------------------------------------- chi2


def test_chi2_zero_on_exactly_independent_table(spark, tmp_path):
    # Cells chosen so every observed count equals its expectation
    # (o = row_total * col_total / n): 4/2 vs 8/4 with margins 6·12, 12·6.
    from scats_transis_kinesis_spark.plans.stats import chi2_lang_source_independence

    _write_documents(
        spark,
        str(tmp_path),
        {("a", "x"): 4, ("a", "y"): 2, ("b", "x"): 8, ("b", "y"): 4},
    )
    row = chi2_lang_source_independence(spark, str(tmp_path)).collect()[0]
    assert row["n_docs"] == 18 and row["dof"] == 1
    assert row["chi2"] == 0.0, row
    assert row["cramers_v"] == 0.0, row


def test_chi2_saturates_on_perfect_association(spark, tmp_path):
    # Diagonal-only table: chi2 = n·min(r-1, c-1) exactly, Cramér's V = 1.
    from scats_transis_kinesis_spark.plans.stats import chi2_lang_source_independence

    _write_documents(spark, str(tmp_path), {("a", "x"): 5, ("b", "y"): 5})
    row = chi2_lang_source_independence(spark, str(tmp_path)).collect()[0]
    assert row["n_docs"] == 10 and row["dof"] == 1
    assert abs(row["chi2"] - 10.0) < 1e-6, row
    assert abs(row["cramers_v"] - 1.0) < 1e-6, row


# --------------------------------------------------------- gains curve


def test_gains_curve_monotone_and_consistent(spark):
    from scats_transis_kinesis_spark.plans.stats import quality_gains_by_band

    rows = sorted(
        quality_gains_by_band(spark, SF_DIR).collect(),
        key=lambda r: r["band_cut"],
    )
    assert rows[0]["band_cut"] == 0
    assert rows[0]["selected_share"] == 1.0
    assert rows[0]["recall"] == 1.0
    assert rows[0]["lift"] == 1.0
    for lo, hi in zip(rows, rows[1:]):
        assert hi["n_selected"] <= lo["n_selected"]
        assert hi["n_positive"] <= lo["n_positive"]
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0 and 0.0 < r["selected_share"] <= 1.0
        want = (r["recall"] / r["selected_share"]) if r["selected_share"] else 0.0
        # lift is computed from unrounded counts; the rounded columns
        # reproduce it to ~1e-5 (two roundings of 1e-6 each, amplified
        # by the division).
        assert abs(r["lift"] - want) < 1e-4, r


# ----------------------------------------------------------- jackknife


def test_jackknife_se_zero_on_constant_column(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import jackknife_ci_order_total

    spark.createDataFrame(
        [(i, 250.0) for i in range(400)], "o_orderkey long, o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/orders.parquet"
    )
    row = jackknife_ci_order_total(spark, str(tmp_path)).collect()[0]
    assert row["n_orders"] == 400
    assert row["mean_total"] == 250.0
    assert row["se_jack"] == 0.0
    assert row["ci_lo"] == 250.0 and row["ci_hi"] == 250.0


def test_jackknife_variance_tracks_srs_closed_form(spark):
    # For the sample mean, the delete-one-block jackknife estimates the
    # same quantity as the closed-form s²/n; with 32 hash blocks over
    # 1.5k orders the two must agree well within a factor of two.
    from scats_transis_kinesis_spark.plans.stats import jackknife_ci_order_total
    from scats_transis_kinesis_spark.sources.loaders import load_table

    row = jackknife_ci_order_total(spark, SF_DIR).collect()[0]
    stats = (
        load_table(spark, "orders", SF_DIR)
        .agg(
            F.var_samp("o_totalprice").alias("v"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    se_srs = math.sqrt(stats["v"] / stats["n"])
    assert se_srs > 0
    ratio = row["se_jack"] / se_srs
    assert 0.7 < ratio < 1.4, (row["se_jack"], se_srs)
    assert row["ci_lo"] < row["mean_total"] < row["ci_hi"]
