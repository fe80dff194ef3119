"""``pack_pair``: two ids in one long key, loud on ids that do not fit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scats_transis_kinesis_spark.functions.pairs import pack_pair, unpack_pair


def test_pack_pair_round_trips_ids_up_to_2_31(spark):
    top = (1 << 31) - 1
    pairs = [(0, 0), (0, top), (top, 0), (top, top), (1, 2), (None, 3)]
    df = spark.createDataFrame(pairs, "a long, b long").select(
        "a", "b", pack_pair("a", "b").alias("uv")
    )
    u, v = unpack_pair("uv")
    rows = df.select("a", "b", "uv", u.alias("u"), v.alias("v")).collect()
    assert [(r.u, r.v) for r in rows if r.a is not None] == pairs[:-1]
    assert len({r.uv for r in rows if r.a is not None}) == len(pairs) - 1
    assert [r.uv for r in rows if r.a is None] == [None]


@pytest.mark.parametrize("a, b", [(1 << 31, 0), (0, 1 << 31), (-1, 0), (0, (1 << 32) + 5)])
def test_pack_pair_raises_outside_31_bits(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a long, b long")
    with pytest.raises(Exception, match="pack_pair: id outside"):
        df.select(pack_pair(F.col("a"), F.col("b"))).collect()


def test_fuzzy_match_blocked_fails_on_ids_above_2_32(spark, tmp_path):
    """Packed as ``(a << 32) | b`` without a guard, the pair
    (1, 2^32 + 2) became (1, 2): the match vanished, or named the wrong
    customer, with no error."""
    from scats_transis_kinesis_spark.plans.coverage_queries import fuzzy_match_blocked

    customers = [(1, "abcd"), (2, "zzzz"), ((1 << 32) + 2, "abce")]
    spark.createDataFrame(customers, "c_custkey long, c_name string").write.parquet(
        str(tmp_path / "customer.parquet")
    )
    with pytest.raises(Exception, match="pack_pair: id outside"):
        fuzzy_match_blocked(spark, str(tmp_path)).collect()
