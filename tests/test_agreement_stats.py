"""Semantic anchors for the round-5 inference/agreement/shuffle batch
(``plans/sampling.py``, ``plans/stats.py``).

- ANOVA: five 2-value groups with unit spreads and means 2..6 — SSB=20,
  SSW=10, F=(20/4)/(10/5)=2.5, eta²=2/3, worked by hand.
- Spearman: a 4-day series with one revenue tie — midranks
  (4, 3, 1.5, 1.5) vs (1, 2, 3, 4) give rho = −4.5/√22.5 = −0.948683;
  a tie-free 3-day anti-monotone series gives exactly −1 while the
  Pearson r on the raw values stays strictly above −1 (the divergence
  the query exists to expose).
- ARI: a perfectly separable 2×2 corpus (ARI = 1, all pair metrics
  1e6) and a worst-case anti-diagonal one (matched = 0, ARI = −0.5,
  Rand = 1/3), both worked by hand from the contingency cells.
- Shuffle audit: a single-source corpus pins observed = expected =
  ratio = 1e6 exactly; a two-source corpus pins the expected rate to
  4/12 and the ratio to the integer floor identity.
"""

from __future__ import annotations


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


_ORDERS_SCHEMA = "o_orderkey long, o_orderpriority string, o_totalprice double, o_orderdate date"


def test_anova_hand_computed_f(spark, tmp_path):
    from datetime import date

    from scats_transis_kinesis_spark.plans.stats import anova_f_priority_spend

    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    rows = []
    for i, p in enumerate(prios):
        lo = float(i + 1)  # group means 2, 3, 4, 5, 6
        rows.append((2 * i, p, lo, date(1995, 1, 1)))
        rows.append((2 * i + 1, p, lo + 2.0, date(1995, 1, 2)))
    _write(spark, tmp_path, "orders", rows, _ORDERS_SCHEMA)
    [r] = anova_f_priority_spend(spark, str(tmp_path)).collect()
    assert r["n_total"] == 10
    assert r["f_stat"] == 2.5
    assert r["eta_sq"] == 0.666667
    assert (r["mean_urgent"], r["mean_low"]) == (2.0, 6.0)


def test_spearman_perfect_antimonotone_and_pearson_divergence(spark, tmp_path):
    from datetime import date

    from scats_transis_kinesis_spark.plans.stats import spearman_daily_kpis

    rows = [
        (1, "1-URGENT", 100.0, date(1995, 1, 1)),
        (2, "1-URGENT", 10.0, date(1995, 1, 2)),
        (3, "1-URGENT", 10.0, date(1995, 1, 2)),
        (4, "1-URGENT", 1.0, date(1995, 1, 3)),
        (5, "1-URGENT", 1.0, date(1995, 1, 3)),
        (6, "1-URGENT", 1.0, date(1995, 1, 3)),
    ]
    _write(spark, tmp_path, "orders", rows, _ORDERS_SCHEMA)
    [r] = spearman_daily_kpis(spark, str(tmp_path)).collect()
    assert r["n_days"] == 3
    assert r["spearman_rho"] == -1.0
    # Raw values are convex in the rank, so linear correlation is
    # strictly weaker than the rank correlation.
    assert -1.0 < r["pearson_r"] < -0.9


def test_spearman_midranks_under_ties(spark, tmp_path):
    from datetime import date

    from scats_transis_kinesis_spark.plans.stats import spearman_daily_kpis

    # Daily rev: 100.00, 20.00, 3.00, 3.00 -> midranks 4, 3, 1.5, 1.5
    # Daily n_orders: 1, 2, 3, 4 -> ranks 1..4
    # rho = -4.5 / sqrt(4.5 * 5) = -0.9486832..., round6 = -0.948683
    rows = (
        [(1, "1-URGENT", 100.0, date(1995, 1, 1))]
        + [(10 + i, "1-URGENT", 10.0, date(1995, 1, 2)) for i in range(2)]
        + [(20 + i, "1-URGENT", 1.0, date(1995, 1, 3)) for i in range(3)]
        + [(30 + i, "1-URGENT", 0.75, date(1995, 1, 4)) for i in range(4)]
    )
    _write(spark, tmp_path, "orders", rows, _ORDERS_SCHEMA)
    [r] = spearman_daily_kpis(spark, str(tmp_path)).collect()
    assert r["n_days"] == 4
    assert r["spearman_rho"] == -0.948683


_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_ari_perfect_agreement(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import lang_id_agreement_ari

    rows = [
        (0, "the the", "l1", "s", 7),
        (1, "the the", "l1", "s", 7),
        (2, "zz zz", "l2", "s", 5),
        (3, "zz zz", "l2", "s", 5),
    ]
    _write(spark, tmp_path, "documents", rows, _DOCS_SCHEMA)
    [r] = lang_id_agreement_ari(spark, str(tmp_path)).collect()
    assert (r["n_docs"], r["matched_pairs"]) == (4, 2)
    assert (r["true_pairs"], r["pred_pairs"]) == (2, 2)
    assert r["precision_micros"] == r["recall_micros"] == 1_000_000
    assert r["f1_micros"] == r["rand_index_micros"] == 1_000_000
    assert r["ari"] == 1.0


def test_ari_anti_diagonal_is_minus_half(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import lang_id_agreement_ari

    # Each true group splits across both guesses: every cell is 1, so
    # matched = 0, true = pred = 2, tot = 6:
    # ARI = (0 - 4/6) / (2 - 4/6) = -0.5, Rand = 2/6.
    rows = [
        (0, "the", "l1", "s", 3),
        (1, "zz", "l1", "s", 2),
        (2, "the", "l2", "s", 3),
        (3, "zz", "l2", "s", 2),
    ]
    _write(spark, tmp_path, "documents", rows, _DOCS_SCHEMA)
    [r] = lang_id_agreement_ari(spark, str(tmp_path)).collect()
    assert r["matched_pairs"] == 0
    assert r["precision_micros"] == r["recall_micros"] == r["f1_micros"] == 0
    assert r["rand_index_micros"] == 333_333
    assert r["ari"] == -0.5


def test_shuffle_quality_single_source_is_exactly_even(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.sampling import shard_shuffle_quality

    rows = [(i, f"t{i}", "en", "only", 2) for i in range(40)]
    _write(spark, tmp_path, "documents", rows, _DOCS_SCHEMA)
    [r] = shard_shuffle_quality(spark, str(tmp_path)).collect()
    # Every adjacent pair shares the single source, and the expected
    # rate under any order is also 1 -> the ratio is exactly 1e6.
    assert r["same_adjacent"] == r["n_adjacent"]
    assert r["observed_same_micros"] == 1_000_000
    assert r["expected_same_micros"] == 1_000_000
    assert r["ratio_micros"] == 1_000_000


def test_shuffle_quality_two_source_expectation(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.sampling import shard_shuffle_quality

    rows = [(i, f"t{i}", "en", "a" if i < 20 else "b", 2) for i in range(40)]
    _write(spark, tmp_path, "documents", rows, _DOCS_SCHEMA)
    [r] = shard_shuffle_quality(spark, str(tmp_path)).collect()
    # expected = 2 * 20*19 / (40*39) = 760/1560 -> 487179 micros
    assert r["expected_same_micros"] == 487_179
    assert 0 <= r["observed_same_micros"] <= 1_000_000
    assert r["ratio_micros"] == r["observed_same_micros"] * 1_000_000 // 487_179


def test_shuffle_quality_degenerate_guards(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.sampling import shard_shuffle_quality

    # All-unique sources: expected rate is 0, so the ratio is undefined
    # (NULL), and with n < shards some shards are singletons — both
    # guards must hold instead of dividing by zero.
    rows = [(i, f"t{i}", "en", f"s{i}", 2) for i in range(3)]
    _write(spark, tmp_path, "documents", rows, _DOCS_SCHEMA)
    [r] = shard_shuffle_quality(spark, str(tmp_path)).collect()
    assert r["expected_same_micros"] == 0
    assert r["ratio_micros"] is None
