"""Semantic anchors for the round-5 rank/compaction/decomposition batch
(``plans/audits.py``, ``plans/events.py``, ``plans/stats.py``).

- Kruskal–Wallis: the textbook 10-value no-tie case — ranks 1..10
  split 2-per-group in order gives H = (12/110)·382.5 − 33 =
  8.727273 with mean ranks 1.5/3.5/5.5/7.5/9.5, below the 9.4877
  critical value.
- Compaction: a one-document corpus pins the whole plan (one shard,
  target ⌈8/8⌉ = 1, fill 8e6); a many-document corpus checks the
  conservation + contiguity invariants that make the plan executable.
- Seasonal strength: a noise-free hour-of-day spike train must score
  near 1; the statistic is bounded to [0, 1] by construction.
"""

from __future__ import annotations

import datetime


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


def test_kruskal_wallis_textbook_case(spark, tmp_path):
    from datetime import date

    from scats_transis_kinesis_spark.plans.stats import kruskal_wallis_priority_spend

    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    rows = []
    val = 1.0
    for i, p in enumerate(prios):
        for _ in range(2):
            rows.append((len(rows), p, val, date(1995, 1, 1)))
            val += 1.0
    _write(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_orderpriority string, o_totalprice double, "
        "o_orderdate date",
    )
    [r] = kruskal_wallis_priority_spend(spark, str(tmp_path)).collect()
    assert r["n_total"] == 10
    assert r["h_stat"] == 8.727273
    assert r["df"] == 4
    assert r["reject_95"] is False
    assert (r["mean_rank_urgent"], r["mean_rank_low"]) == (1.5, 9.5)


_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_compaction_single_doc_plan(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.audits import compaction_coalesce_plan

    _write(spark, tmp_path, "documents", [(1, "abcdefgh", "en", "s", 8)], _DOCS_SCHEMA)
    [r] = compaction_coalesce_plan(spark, str(tmp_path)).collect()
    # target = max(ceil(8/8), 1) = 1; one shard at offset 0 -> group 0.
    assert (r["group_id"], r["n_shards"], r["group_bytes"]) == (0, 1, 8)
    assert r["fill_micros"] == 8_000_000


def test_compaction_conservation_and_contiguity(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.audits import compaction_coalesce_plan

    rows = [(i, "x" * (i % 7 + 1), "en", "s", i % 7 + 1) for i in range(500)]
    _write(spark, tmp_path, "documents", rows, _DOCS_SCHEMA)
    got = compaction_coalesce_plan(spark, str(tmp_path)).collect()
    total = sum(i % 7 + 1 for i in range(500))
    assert sum(r["group_bytes"] for r in got) == total
    # Groups tile the shard axis in order without overlap.
    spans = [(r["group_id"], r["first_shard"], r["last_shard"]) for r in got]
    assert spans == sorted(spans)
    for (_, _, hi_prev), (_, lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next
    # cum_before < total <= groups*target, so group ids stay within
    # the configured budget (underfill IS possible when a predecessor
    # overshoots deep into the next byte range — offset bucketing, not
    # bin packing — so no per-group fill floor exists).
    assert all(0 <= r["group_id"] <= 7 for r in got)
    assert len(got) <= 8


def test_seasonal_strength_pure_cycle_scores_high(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.events import seasonal_strength_audit

    rows = []
    eid = 0
    base = datetime.datetime(2024, 1, 1)
    for day in range(6):
        for hod in range(24):
            n = 20 if hod == 12 else 2  # strong noon spike, no noise
            for k in range(n):
                rows.append(
                    (
                        eid,
                        k % 5,
                        base + datetime.timedelta(days=day, hours=hod, seconds=k),
                        "click",
                        1.0,
                    )
                )
                eid += 1
    _write(
        spark, tmp_path, "events", rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double",
    )
    [r] = seasonal_strength_audit(spark, str(tmp_path)).collect()
    assert r["event_type"] == "click"
    assert r["n_hours"] == 144
    assert 0.0 <= r["seasonal_strength"] <= 1.0
    assert r["seasonal_strength"] > 0.8
