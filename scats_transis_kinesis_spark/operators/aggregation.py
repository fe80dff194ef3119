"""Aggregation operators (SURVEY.md §2.4) generalized to grouped form.

The reference's aggregates are per-document scalars — site count,
first-value window timestamp, batch stats (reference:
transis_response_models.py:70-77, transis_kinesis_connector.py:40-44).
Grouped by window/region they become the engine's flagship streaming
aggregation; partial aggregation (map-side combine) happens
automatically in Spark's hash-aggregate, so the shuffle carries one row
per (group) per input partition — this is what keeps the plan viable at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sites_per_window(records: DataFrame) -> DataFrame:
    """A1/A3 — per (region, window): site count + representative
    first-value timestamp (reference: transis_response_models.py:70-77,
    transis_kinesis_connector.py:40-44)."""
    return records.groupBy("region", "collection_end_ts_plus_3m").agg(
        F.count("*").alias("records_in_doc"),
        F.min("site_id").alias("first_site_id"),
    )


def failed_record_count(put_response: DataFrame) -> DataFrame:
    """A4 — count of throttled records in a put_records response
    (reference: kinesis_producer.py:70-71)."""
    return put_response.agg(
        F.count(F.when(F.col("error_code").isNotNull(), 1)).alias("failed_record_count")
    )
