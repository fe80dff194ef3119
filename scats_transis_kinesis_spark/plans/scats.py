"""SCATS parity queries: the reference pipeline's operators as queries.

The flagship windowed traffic rollup plus the reference's projection,
filter, scalar, aggregate, unnest, XML round-trip, envelope, failed-
subset and time-range pulls (SURVEY.md §2), each checked against its
DuckDB oracle.  Each doc names the reference lines it mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.envelope import THROTTLE_ERROR, failed_subset
from ..sources.loaders import load_table
from .registry import register


@register(
    "flagship_window_traffic",
    oracle="""
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
               event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               round(sum(value), 4) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="""Flagship: per (5-min tumbling window, type) traffic rollup —
    the Spark form of the reference's per-document batch stats
    (reference: transis_kinesis_connector.py:40-44) keyed the way the
    engine partitions at scale (window × region).  Map-side partial
    aggregation keeps the shuffle at one row per group per partition.""",
)
def flagship_window_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(
            F.window("ts", "5 minutes").start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "p1_project_rename",
    oracle="""
        SELECT event_id,
               CAST(user_id AS VARCHAR) AS site_id,
               event_type AS region,
               300 AS collection_interval_secs,
               floor(epoch(ts))::BIGINT AS epoch_ts
        FROM events
    """,
    doc="""P1+P3 — projection, rename, literal injection, timestamp→epoch
    (reference: transis_response_models.py:27-44, utils.py:21-31).  A
    pure narrow map: column pruning reaches the scan; no shuffle.""",
)
def p1_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return events.select(
        "event_id",
        F.col("user_id").cast("string").alias("site_id"),
        F.col("event_type").alias("region"),
        F.lit(300).alias("collection_interval_secs"),
        F.unix_timestamp("ts").alias("epoch_ts"),
    )


@register(
    "p4_format_ts_sydney",
    oracle="""
        SELECT event_id,
               strftime(ts + INTERVAL 10 HOURS, '%Y-%m-%dT%H:%M:%S+10:00') AS local_ts
        FROM events
    """,
    doc="""P4 — zoned+formatted timestamp (reference: utils.py:15-19).
    Declared with a fixed +10:00 offset so the oracle stays portable
    (DuckDB tz rules need the ICU extension); the DST-aware
    Australia/Sydney variant lives in functions.timestamps and is
    unit-tested.""",
)
def p4_format_ts_sydney(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return events.select(
        "event_id",
        F.concat(
            F.date_format(F.col("ts") + F.expr("INTERVAL 10 HOURS"), "yyyy-MM-dd'T'HH:mm:ss"),
            F.lit("+10:00"),
        ).alias("local_ts"),
    )


@register(
    "p7_filter_nonempty",
    oracle="""
        SELECT event_id, event_type, value
        FROM events
        WHERE props IS NOT NULL AND value > 100.0 AND event_type <> 'error'
    """,
    doc="""P6/P7 — predicate filters (reference: transis_consumer.py:89,
    137-138).  All three predicates push to the parquet scan.""",
)
def p7_filter_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return events.where(
        F.col("props").isNotNull() & (F.col("value") > 100.0) & (F.col("event_type") != "error")
    ).select("event_id", "event_type", "value")


@register(
    "p8_kv_lookup",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
        FROM events
    """,
    doc="""P8 — KV lookup in a JSON payload (reference:
    di_framework.py:44-55), as a native from_json + element_at — no UDF.""",
)
def p8_kv_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return events.select(
        "event_id",
        F.element_at(F.from_json("props", "map<string,bigint>"), "k").alias("k_value"),
    )


@register(
    "a1_count_per_group",
    oracle="""
        SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_sites
        FROM events GROUP BY event_type
    """,
    doc="""A1 — count of sites per snapshot generalized to grouped counts
    (reference: transis_response_models.py:70-74).""",
)
def a1_count_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"), F.countDistinct("user_id").alias("n_sites")
    )


@register(
    "a2_first_value",
    oracle="""
        SELECT user_id,
               arg_min(event_type, ts) AS first_type,
               floor(epoch(min(ts)))::BIGINT AS first_epoch
        FROM events GROUP BY user_id
    """,
    doc="""A2 — first-value per key (reference:
    transis_response_models.py:76-77), as min_by/arg_min — a single
    hash-aggregate, no sort, no window.""",
)
def a2_first_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return events.groupBy("user_id").agg(
        F.min_by("event_type", "ts").alias("first_type"),
        F.unix_timestamp(F.min("ts")).alias("first_epoch"),
    )


@register(
    "k2_envelope",
    oracle="""
        SELECT event_type AS partition_key,
               to_json(struct_pack(event_id := event_id,
                                   user_id := user_id,
                                   event_type := event_type))::VARCHAR AS data
        FROM events
    """,
    doc="""K2 — the Kinesis sink envelope (reference:
    kinesis_producer.py:44-56) keyed by column, not the reference's
    literal-key bug (SURVEY.md §1.4).  JSON rendered as string here for
    oracle comparability; the binary form is exercised in unit tests and
    the streaming sink.""",
)
def k2_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return events.select(
        F.col("event_type").alias("partition_key"),
        F.to_json(F.struct("event_id", "user_id", "event_type")).alias("data"),
    )


@register(
    "s5_time_range_scan",
    oracle="""
        SELECT event_id, event_type, floor(epoch(ts))::BIGINT AS epoch_ts
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts <= TIMESTAMP '2024-01-20 00:00:00'
    """,
    doc="""S5 — the getWithinDates bounded time-range pull (reference:
    transis_consumer.py:166-201) as a pruned scan; the range predicate
    reaches the parquet reader in int64 nanos (PushedFilters).""",
)
def s5_time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.loaders import time_range_scan

    df = time_range_scan(
        spark, "events", "ts", "2024-01-10 00:00:00", "2024-01-20 00:00:00", sf_dir
    )
    return df.select("event_id", "event_type", F.unix_timestamp("ts").alias("epoch_ts"))


@register(
    "time_range_typed_scan",
    oracle="""
        SELECT event_id, event_type, user_id,
               floor(epoch(ts))::BIGINT AS epoch_ts
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
          AND ts <= TIMESTAMP '2024-01-25 00:00:00'
          AND event_type IN ('view', 'click')
    """,
    doc="""The typed getFromDate pull (reference:
    transis_consumer.py:166-202 — get_data_from/get_strategic_monitor_from
    and friends): a bounded time range PLUS a ``types IN (...)``
    predicate, via sources/loaders.py:typed_time_range_scan.  Both
    predicates reach the parquet scan (PushedFilters: ts range +
    In(event_type)) — with a type/date-partitioned layout at 100 TB the
    scan prunes to matching partitions before reading.""",
)
def time_range_typed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.loaders import typed_time_range_scan

    df = typed_time_range_scan(
        spark,
        ("view", "click"),
        "2024-01-05 00:00:00",
        "2024-01-25 00:00:00",
        sf_dir=sf_dir,
    )
    return df.select(
        "event_id", "event_type", "user_id", F.unix_timestamp("ts").alias("epoch_ts")
    )


@register(
    "f3_unnest_words",
    oracle="""
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    """,
    doc="""F1/F3 — correlated unnest with the parent key on every child
    row (reference: transis_response_models.py:175-198): explode runs
    in-partition, no shuffle, no join.""",
)
def f3_unnest_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))


@register(
    "f4_double_unnest",
    oracle="""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents WHERE doc_id < 50
        )
        SELECT doc_id, word, unnest(string_split(word, '')) AS ch
        FROM words
    """,
    doc="""F4 — two nesting levels unnested (reference:
    transis_response_models.py:194-197): site × phases × SGNos becomes
    doc × words × chars; chained explodes, still shuffle-free.""",
)
def f4_double_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 50)
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .select("doc_id", "word", F.explode(F.split("word", "")).alias("ch"))
    )


@register(
    "s3_xml_roundtrip",
    oracle="SELECT doc_id, lang AS xml_lang, source AS xml_source FROM documents",
    doc="""S3 — XML document parse (reference:
    transis_response_models.py:288-292) inside the correctness gate:
    rows are rendered to XML attributes and parsed back with the same
    ``from_xml`` path the Transis ingestion uses; the oracle is the
    identity projection.""",
)
def s3_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    xml = F.concat(
        F.lit('<doc lang="'), F.col("lang"), F.lit('" source="'), F.col("source"), F.lit('"/>')
    )
    parsed = docs.select(
        "doc_id", F.from_xml(xml, "struct<_lang:string, _source:string>").alias("r")
    )
    return parsed.select(
        "doc_id",
        F.col("r._lang").alias("xml_lang"),
        F.col("r._source").alias("xml_source"),
    )


@register(
    "k4_failed_subset",
    oracle=f"""
        WITH req AS (
            SELECT o_orderkey, o_totalprice,
                   o_orderkey // 500 AS batch_id,
                   row_number() OVER (PARTITION BY o_orderkey // 500
                                      ORDER BY o_orderkey) AS pos
            FROM orders
        ),
        resp AS (
            SELECT batch_id, pos,
                   CASE WHEN pos % 3 = 0
                        THEN '{THROTTLE_ERROR}' END AS error_code
            FROM req
        )
        SELECT req.o_orderkey, req.o_totalprice
        FROM req JOIN resp USING (batch_id, pos)
        WHERE resp.error_code = '{THROTTLE_ERROR}'
    """,
    doc="""K4 — positional join of put-request records with per-record
    response entries, keeping only the throttled subset (reference:
    kinesis_producer.py:87-98, zip at :92).  Position is stamped PER
    PUT-REQUEST BATCH (id-range batches of ≤500 keys, matching the
    Kinesis PutRecords limit), so the row_number window partitions on
    batch_id — structurally bounded at any table size, never a global
    sort.  The throttle pattern is a deterministic pos%3 stand-in for
    the mocked Kinesis response in reference tests.py:156-169.""",
)
def k4_failed_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    batch = F.floor(F.col("o_orderkey") / 500)
    w = Window.partitionBy("batch_id").orderBy("o_orderkey")
    req = orders.select(
        "o_orderkey", "o_totalprice", batch.alias("batch_id")
    ).withColumn("pos", F.row_number().over(w))
    resp = req.select(
        "batch_id",
        "pos",
        F.when(F.col("pos") % 3 == 0, F.lit(THROTTLE_ERROR)).alias("error_code"),
    )
    return failed_subset(req, resp, on=("batch_id", "pos"))
