"""Timestamp scalar functions (operators P3/P4 in SURVEY.md §2.2).

All JVM-side expressions — no Python UDFs — so they stay inside
whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import sql_string

SYDNEY_TZ = "Australia/Sydney"
# ISO-8601 with numeric offset, e.g. 2019-10-03T15:43:00+10:00
ISO_OFFSET_FMT = "yyyy-MM-dd'T'HH:mm:ssXXX"


def epoch_from_iso8601_sql(expr: str) -> str:
    """Spark SQL text: the ISO-8601 string (with offset) ``expr`` as
    integer Unix epoch seconds.

    Parity with the reference's strptime('%Y-%m-%dT%H:%M:%S%z') →
    ``int(timestamp())`` conversion (reference: utils.py:21-31), applied
    to the collection-end timestamp (reference:
    transis_response_models.py:38).
    """
    return f"unix_timestamp(to_timestamp({expr}, {sql_string(ISO_OFFSET_FMT)}))"


def sydney_local(ts: Column | str) -> Column:
    """A UTC timestamp rendered in Sydney local time."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.from_utc_timestamp(c, SYDNEY_TZ)


def format_with_tz_offset(ts: Column, tz: str = SYDNEY_TZ) -> Column:
    """Render a UTC timestamp as local wall time with the zone's
    numeric offset (``±hh:mm``), DST-aware.

    ``date_format``'s offset patterns render the *session* timezone, so
    the offset is derived arithmetically per row instead: the gap
    between the zone-shifted clock and the original instant.
    """
    local = F.from_utc_timestamp(ts, tz)
    offset_min = ((F.unix_timestamp(local) - F.unix_timestamp(ts)) / 60).cast("long")
    sign = F.when(offset_min < 0, F.lit("-")).otherwise(F.lit("+"))
    abs_min = F.abs(offset_min)
    offset_str = F.concat(
        sign,
        F.lpad((abs_min / 60).cast("long").cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad((abs_min % 60).cast("string"), 2, "0"),
    )
    return F.concat(F.date_format(local, "yyyy-MM-dd'T'HH:mm:ss"), offset_str)


def formatted_current_timestamp() -> Column:
    """now() in Australia/Sydney as ``%Y-%m-%dT%H:%M:%S±hh:mm``.

    Parity with the reference's ingest-time stamp (reference:
    utils.py:15-19, applied at transis_response_models.py:286): local
    wall time with the colon-form UTC offset (+11:00 AEDT / +10:00
    AEST).
    """
    return format_with_tz_offset(F.current_timestamp(), SYDNEY_TZ)
