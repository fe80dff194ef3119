"""Property-based cross-engine tests: the portable hash family and the
timestamp conversions must agree bit-for-bit between Spark and DuckDB on
*arbitrary* inputs — every dedup/fingerprint oracle rests on this.
Hypothesis drives the inputs; each property runs one batched Spark job
and one batched DuckDB query (not per-example sessions)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from scats_transis_kinesis_spark.functions.hashing import (
    MINHASH_P,
    duckdb_hash32_sql,
    duckdb_hash64_sql,
    minhash_value,
    minhash_value_sql,
    portable_hash32,
    portable_hash64,
)

# Printable unicode without surrogates; includes '', whitespace, quotes.
TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    max_size=80,
)


def _spark_hashes(spark, values, make_col):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r["h"] for r in df.select(make_col("s").alias("h")).collect()]


def _duck_hashes(values, sql_of):
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(values)))
    return [r[0] for r in con.execute(f"SELECT {sql_of('s')} FROM t ORDER BY i").fetchall()]


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(TEXT, min_size=1, max_size=25))
def test_hash64_matches_duckdb(spark, values):
    assert _spark_hashes(spark, values, portable_hash64) == _duck_hashes(
        values, duckdb_hash64_sql
    )


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(TEXT, min_size=1, max_size=25))
def test_hash32_matches_duckdb(spark, values):
    assert _spark_hashes(spark, values, portable_hash32) == _duck_hashes(
        values, duckdb_hash32_sql
    )


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(TEXT, min_size=1, max_size=10),
    st.integers(min_value=1, max_value=(1 << 30) - 1),
    st.integers(min_value=0, max_value=(1 << 30) - 1),
)
def test_minhash_permutation_matches_duckdb(spark, values, a, b):
    a |= 1  # odd multiplier, as the operators use
    got = _spark_hashes(
        spark, values, lambda c: minhash_value(portable_hash32(c), a, b)
    )
    want = _duck_hashes(
        values, lambda e: minhash_value_sql(duckdb_hash32_sql(e), a, b)
    )
    assert got == want
    assert all(0 <= v < MINHASH_P for v in got)


@pytest.mark.parametrize(
    "iso,epoch",
    [
        ("2019-10-03T15:43:00+10:00", 1570081380),  # reference golden
        ("2019-10-03T15:43:00+11:00", 1570077780),  # Sydney DST offset
        ("1970-01-01T00:00:00+00:00", 0),
        ("2038-01-19T03:14:08+00:00", 2147483648),  # past int32
    ],
)
def test_epoch_conversion_fixed_points(spark, iso, epoch):
    from scats_transis_kinesis_spark.functions.timestamps import epoch_from_iso8601_sql

    df = spark.createDataFrame([(iso,)], "s string")
    [row] = df.selectExpr(f"{epoch_from_iso8601_sql('s')} AS e").collect()
    assert row["e"] == epoch
