"""Kinesis sink-record envelope (SURVEY.md §2.5 K2) + positional join (K4).

The reference wraps each record as ``{"PartitionKey": key, "Data":
utf-8 JSON bytes}`` (reference: kinesis_producer.py:44-56).  Note the
reference's literal-key bug: ``partition_key="region"`` is the *string*
``"region"`` for every record — one shard takes all traffic (reference:
kinesis_producer.py:25,41,53-54; SURVEY.md §1.4).  The engine makes
key-by-column the primary path (shard parallelism scales with the key
cardinality) and keeps the literal mode available for bug-compatible
comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import sql_ident, sql_string


def to_kinesis_envelope(
    df: DataFrame, partition_key_col: str | None = "region", literal_key: str | None = None
) -> DataFrame:
    """K2 — wrap every row as ``(partition_key string, data binary)``.

    ``data`` is the UTF-8 JSON of the full row, mirroring
    ``json.dumps(record).encode('utf-8')`` (reference:
    kinesis_producer.py:55).  Exactly one of ``partition_key_col`` /
    ``literal_key`` selects keyed-by-column (scalable) vs the
    reference's literal-key behavior.
    """
    if literal_key is not None:
        key = sql_string(literal_key)
    else:
        key = f"CAST({sql_ident(partition_key_col)} AS STRING)"
    return df.selectExpr(
        f"{key} AS partition_key", "CAST(to_json(struct(*)) AS BINARY) AS data"
    )


THROTTLE_ERROR = "ProvisionedThroughputExceededException"


def failed_subset(
    request: DataFrame, response: DataFrame, on: tuple[str, ...] = ("pos",)
) -> DataFrame:
    """K4 — positional join of put-request records with per-record
    response entries; keep throttled ones (reference:
    kinesis_producer.py:87-98, zip at :92).

    The reference zips the two lists positionally.  Position is only
    meaningful *within one put request* (≤500 records), so callers that
    operate across many requests pass ``on=("batch_id", "pos")`` — the
    batch key makes the position structurally bounded instead of
    relying on a pre-filter, and the join shuffles on the composite key
    like any equi-join.  Both inputs must carry the ``on`` columns (the
    sink writer stamps them when it builds each request).
    """
    for c in on:
        if c not in request.columns or c not in response.columns:
            raise ValueError(f"failed_subset requires column {c!r} on both sides")
    keep = [c for c in request.columns if c not in on]
    return (
        request.join(response, list(on))
        .where(F.col("error_code") == THROTTLE_ERROR)
        .select(keep)
    )
