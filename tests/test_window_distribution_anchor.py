"""Hand-computed anchor for window_distribution_stats' floor-micros
contract — the query whose round(·,6) doubles flipped one ulp at sf0.1
in round 5.  Pins percent_rank = (rn−1)·1e6 div (n−1), cume_dist =
rn·1e6 div n, the single-row-partition zero case, and ntile split sizes
on a by-hand partition."""

from __future__ import annotations


def test_window_distribution_floor_micros_by_hand(spark, tmp_path):
    # Nation 1: balances 10 < 20 < 30 (custkey tiebreak unused).
    # Nation 2: a single customer (n = 1 -> pct_rank defined as 0).
    rows = [
        (101, 1, 10.0),
        (102, 1, 30.0),
        (103, 1, 20.0),
        (201, 2, 99.0),
    ]
    spark.createDataFrame(
        rows, "c_custkey long, c_nationkey long, c_acctbal double"
    ).write.parquet(f"{tmp_path}/customer.parquet")

    from scats_transis_kinesis_spark.plans.relational import window_distribution_stats

    out = {
        r["c_custkey"]: r
        for r in window_distribution_stats(spark, str(tmp_path)).collect()
    }
    # Nation 1 order: 101 (rn1), 103 (rn2), 102 (rn3); n = 3.
    assert out[101]["balance_pct_rank_micros"] == 0
    assert out[103]["balance_pct_rank_micros"] == 500_000          # 1e6 // 2
    assert out[102]["balance_pct_rank_micros"] == 1_000_000
    assert out[101]["balance_cume_micros"] == 333_333              # 1e6 // 3
    assert out[103]["balance_cume_micros"] == 666_666              # 2e6 // 3
    assert out[102]["balance_cume_micros"] == 1_000_000
    # ntile(10) over 3 rows: tiles 1, 2, 3 in order.
    assert [out[k]["balance_decile"] for k in (101, 103, 102)] == [1, 2, 3]
    # Single-row partition: pct_rank pinned to 0, cume = 1e6, tile 1.
    assert out[201]["balance_pct_rank_micros"] == 0
    assert out[201]["balance_cume_micros"] == 1_000_000
    assert out[201]["balance_decile"] == 1
