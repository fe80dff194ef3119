"""Projection / filter / scalar-transform operators (SURVEY.md §2.2).

Each operator is a pure ``DataFrame -> DataFrame`` function built from
JVM-side column expressions (whole-stage codegen; no Python UDFs), so the
same code runs unchanged on a batch read or a streaming source.  The
SCATS operators are Spark SQL text (why: ``functions/sqltext.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.timestamps import epoch_from_iso8601_sql

# Detector children carrying both ``Did`` and ``count`` (the reference
# drops the others, reference: transis_response_models.py:41).
_VALID_DETECTORS = "filter(detectors, d -> d.Did IS NOT NULL AND d.`count` IS NOT NULL)"
# An empty detector list counts as absent (ElementTree truthiness).
_NO_DETECTORS = "detectors IS NULL OR size(detectors) = 0"
# A document without an ``error`` attribute is not an error document.
_IS_ERROR = "coalesce(lower(error) = 'true', false)"
_KEY_COLUMNS = (
    "CAST(reg AS STRING) AS region",
    "CAST(Sid AS STRING) AS site_id",
)
_EPOCH = f"{epoch_from_iso8601_sql('`date`')} AS collection_end_ts_plus_3m"


def project_detector_count_record(
    messages: DataFrame, keep_received_ts: bool = False
) -> DataFrame:
    """P1+P2+P3 — per-site message → flat keyed record.

    Renames ``reg→region`` / ``Sid→site_id``, adds the constant 300 s
    interval, converts the ISO-8601 collection timestamp to epoch
    seconds, and pivots the detector children into a
    ``map<detector_id, count>`` — dropping malformed children missing
    ``Did`` or ``count`` exactly like the reference does
    (reference: transis_response_models.py:27-44, drop rule :41).

    An *empty* detector list behaves like NULL, not an empty map,
    preserving the reference's ElementTree truthiness semantics
    (reference: transis_response_models.py:296-301; SURVEY.md §1.4).
    """
    cols = [
        *_KEY_COLUMNS,
        "300 AS collection_interval_secs",
        _EPOCH,
        f"CASE WHEN {_NO_DETECTORS} THEN NULL"
        f" ELSE map_from_entries({_VALID_DETECTORS}) END AS detector_counts",
    ]
    if keep_received_ts:
        # the receive-time stamp the reference attaches per response
        # (reference: transis_response_models.py:286)
        cols.append("response_received_ts")
    return messages.selectExpr(*cols)


def detector_counts_long(messages: DataFrame) -> DataFrame:
    """Oracle-friendly exploded form: one row per (site, window, detector).

    Same projection as :func:`project_detector_count_record` but with the
    detector map unnested — the form declared queries use, since map
    columns need canonical ordering for value comparison (SURVEY.md §7.4).
    """
    return messages.selectExpr(
        *_KEY_COLUMNS, _EPOCH, f"explode({_VALID_DETECTORS}) AS d"
    ).selectExpr(
        "region",
        "site_id",
        "collection_end_ts_plus_3m",
        "d.Did AS detector_id",
        "d.`count` AS `count`",
    )


def is_empty_message(messages: DataFrame) -> DataFrame:
    """P5 — the empty-site predicate as a column (dead code in the
    reference, implemented for parity; reference:
    transis_response_models.py:46-50)."""
    return messages.withColumn("is_empty", F.expr(_NO_DETECTORS))


def non_empty_responses(responses: DataFrame) -> DataFrame:
    """P7 — drop empty fragments / docs without detector messages
    (reference: transis_consumer.py:89,137-138)."""
    return responses.where("messages IS NOT NULL AND size(messages) > 0")


def assert_no_error_documents(responses: DataFrame) -> DataFrame:
    """P6 — fail-stop on ``error="true"`` documents.

    The reference raises and kills the pipeline on an error document
    (reference: transis_response_models.py:312-317,
    transis_consumer.py:134-136, main.py:31-37).  Here the assert is an
    ``assert_true`` evaluated inside the plan — any executor that
    sees a poison document fails the job, preserving fail-stop without a
    driver-side collect.
    """
    # assert_true lives inside a filter predicate so Catalyst cannot
    # prune it away (a raise_error projection column that nothing reads
    # gets column-pruned and silently never fires).
    return responses.where(
        f"assert_true(NOT {_IS_ERROR}, "
        "concat('Transis error document: ', coalesce(error_msg, ''))) IS NULL"
    )


def kv_lookup(json_array_col: Column | str, key: str) -> Column:
    """P8 — pick ``value`` for ``key`` from a JSON ``[{key,value}...]``
    payload (reference: di_framework.py:44-55), as one expression:
    parse → map → element_at."""
    c = F.col(json_array_col) if isinstance(json_array_col, str) else json_array_col
    entries = F.from_json(c, "array<struct<key:string,value:string>>")
    return F.element_at(
        F.map_from_entries(F.transform(entries, lambda e: F.struct(e["key"], e["value"]))),
        key,
    )


def split_error_documents(responses: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P6 dead-letter variant — route ``error="true"`` documents to a
    side output instead of killing the query.

    The reference only fail-stops (transis_consumer.py:134-136,
    main.py:31-37); :func:`assert_no_error_documents` preserves that.
    This split is the production alternative: the good stream continues,
    the poison stream lands in a dead-letter sink for inspection.  Both
    filters push to the same scan — Catalyst evaluates the predicate
    once per branch, no extra pass over the data."""
    return responses.where(f"NOT {_IS_ERROR}"), responses.where(_IS_ERROR)
