"""Python-replayed anchors for the hash-determinism split/sample family.

These contracts promise layout/run/engine-independent membership via
the portable md5 hash — the leakage-proof property training pipelines
depend on.  Each replays membership in plain Python and additionally
pins the STABILITY claim: growing the corpus never moves an existing
row across the split boundary."""

from __future__ import annotations

import hashlib


def _bucket(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100


def test_hash_split_membership_and_growth_stability(spark, tmp_path):
    rows = [(i, "en", 100 + i) for i in range(1, 81)]
    spark.createDataFrame(rows, "doc_id long, lang string, n_chars long").write.parquet(
        f"{tmp_path}/documents.parquet"
    )

    from scats_transis_kinesis_spark.plans.sampling import (
        dataset_split_train_test,
        sample_hash_bucket,
    )

    train_ids = {i for i, _, _ in rows if _bucket(i) < 90}
    out = {r["split"]: r for r in dataset_split_train_test(spark, str(tmp_path)).collect()}
    assert out["train"]["n_docs"] == len(train_ids)
    assert out["test"]["n_docs"] == len(rows) - len(train_ids)
    assert out["train"]["total_chars"] == sum(100 + i for i in train_ids)

    sample_ids = {r["doc_id"] for r in sample_hash_bucket(spark, str(tmp_path)).collect()}
    assert sample_ids == {i for i, _, _ in rows if _bucket(i) < 10}

    # Growth stability: append 40 more docs; every original row keeps
    # its membership (the property a seeded-random split lacks).
    rows2 = rows + [(i, "de", 5) for i in range(1000, 1040)]
    spark.createDataFrame(
        rows2, "doc_id long, lang string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    sample_ids2 = {r["doc_id"] for r in sample_hash_bucket(spark, str(tmp_path)).collect()}
    assert sample_ids2 & {i for i, _, _ in rows} == sample_ids


def test_stratified_sample_counts_match_python(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.sampling import (
        STRATA_PCT,
        stratified_sample_by_lang,
    )

    langs = list(STRATA_PCT) + ["xx"]  # unknown lang -> keep 0%
    rows = [(i, langs[i % len(langs)], 10) for i in range(1, 121)]
    spark.createDataFrame(rows, "doc_id long, lang string, n_chars long").write.parquet(
        f"{tmp_path}/documents.parquet"
    )

    expect = {}
    for i, lang, _ in rows:
        tot, samp = expect.get(lang, (0, 0))
        keep = STRATA_PCT.get(lang, 0) > _bucket(i)
        expect[lang] = (tot + 1, samp + int(keep))

    got = {
        r["lang"]: (r["n_total"], r["n_sampled"])
        for r in stratified_sample_by_lang(spark, str(tmp_path)).collect()
    }
    assert got == expect
    assert got["xx"][1] == 0  # unknown stratum keeps nothing
