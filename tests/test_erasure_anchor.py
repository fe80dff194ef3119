"""Hand-computed anchor for erasure_cascade_audit (RTBF propagation).

Pins the cascade semantics independent of the oracle mirror: flagged
customers cascade to their orders and from orders to line items —
counts and identity checksums per table match a by-hand trace, and a
customer sharing an order key pattern but NOT flagged must not leak in.
"""

from __future__ import annotations

import datetime


def test_erasure_cascade_counts_and_checksums(spark, tmp_path):
    d = datetime.datetime(1996, 5, 1)
    # Customers 1 and 3 are below the erasure balance; 2 is not.
    spark.createDataFrame(
        [(1, -1000.0), (2, 500.0), (3, -950.0)],
        "c_custkey long, c_acctbal double",
    ).write.parquet(f"{tmp_path}/customer.parquet")
    # Orders: 10,11 belong to cust 1; 20 to cust 2; 30 to cust 3.
    spark.createDataFrame(
        [(10, 1, d), (11, 1, d), (20, 2, d), (30, 3, d)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    # Line items: two on order 10, one each on 11/20/30.
    spark.createDataFrame(
        [(10, 1), (10, 2), (11, 1), (20, 1), (30, 1)],
        "l_orderkey long, l_linenumber long",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    from scats_transis_kinesis_spark.plans.audits import erasure_cascade_audit

    out = {r["tbl"]: r for r in erasure_cascade_audit(spark, str(tmp_path)).collect()}
    assert set(out) == {"customer", "orders", "lineitem"}

    c = out["customer"]
    assert (c["n_total"], c["n_erased"]) == (3, 2)
    assert c["erased_key_checksum"] == 1 + 3

    o = out["orders"]
    assert (o["n_total"], o["n_erased"]) == (4, 3)  # orders 10, 11, 30
    assert o["erased_key_checksum"] == 10 + 11 + 30

    li = out["lineitem"]
    # lines on erased orders: (10,1) (10,2) (11,1) (30,1)
    assert (li["n_total"], li["n_erased"]) == (5, 4)
    assert li["erased_key_checksum"] == (10 + 1) + (10 + 2) + (11 + 1) + (30 + 1)
