"""Batch and streaming loaders for the driver's parquet tables.

Batch pulls in the reference are parameterized time-range REST scans
(reference: transis_consumer.py:166-216); here they are parquet scans with
the predicate expressed declaratively so Catalyst pushes it into the
row-group reader (check ``PushedFilters`` in ``.explain``).  The push
stream (reference: transis_consumer.py:115-151) becomes a Structured
Streaming file source in tests and a Kinesis/Kafka source in production.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Timestamp columns in the driver's parquet are physical INT64
# TIMESTAMP(NANOS); with spark.sql.legacy.parquet.nanosAsLong they scan
# as int64 and are converted here to microsecond timestamps — integer
# `div` (not `/`) so ns values ~1.7e18 keep full precision, truncation
# toward zero matching DuckDB's ns→µs read of the same files.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _scan(spark: SparkSession, name: str, sf_dir: str) -> tuple[DataFrame, tuple[str, ...]]:
    """Read one table file raw, with the columns that scanned as int64
    nanos (``_NANO_TS_COLS`` entries typed ``LongType``)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    nanos = tuple(
        c
        for c in _NANO_TS_COLS.get(name, ())
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType)
    )
    return df, nanos


def _nanos_to_micros(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one synthetic table as a DataFrame (columnar scan, pushdown-able)."""
    return _nanos_to_micros(*_scan(spark, name, sf_dir))


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = schemas.TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in names}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view for the SQL API."""
    for n, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(n)


def time_range_scan(
    spark: SparkSession,
    name: str,
    ts_col: str,
    from_ts: str,
    to_ts: str | None = None,
    sf_dir: str = DEFAULT_SF_DIR,
) -> DataFrame:
    """The reference's getFromDate/getWithinDates query family
    (reference: transis_consumer.py:30-39, 166-201) as a pruned scan:
    ``ts >= from`` (+ optional ``ts <= to``) reaches the parquet reader
    as a pushed filter — at 100 TB this is partition pruning, not a scan.
    """
    raw, nanos = _scan(spark, name, sf_dir)
    if ts_col in nanos:
        # Nano-typed column: compare in int64 nanos *before* converting,
        # so the range predicate reaches the parquet row-group reader
        # (PushedFilters) instead of evaluating post-conversion.
        def to_ns(s: str) -> int:
            dt = datetime.fromisoformat(s).replace(tzinfo=timezone.utc)
            return int(dt.timestamp()) * 1_000_000_000

        raw = raw.where(F.col(ts_col) >= F.lit(to_ns(from_ts)))
        if to_ts is not None:
            raw = raw.where(F.col(ts_col) <= F.lit(to_ns(to_ts)))
        return _nanos_to_micros(raw, nanos)
    df = raw.where(F.col(ts_col) >= F.lit(from_ts).cast("timestamp"))
    if to_ts is not None:
        df = df.where(F.col(ts_col) <= F.lit(to_ts).cast("timestamp"))
    return df


def stream_events(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, max_files_per_trigger: int = 1
) -> DataFrame:
    """``events`` as an unbounded stream — the test stand-in for the
    reference's push-stream source (reference: transis_consumer.py:115-151).
    File source + explicit schema; in production swap ``format`` for
    kinesis/kafka with the same downstream plan.
    """
    return (
        spark.readStream.format("parquet")
        .schema(schemas.EVENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(f"{sf_dir}/events.parquet")
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("event_date",),
    derive_date_from: str | None = "ts",
) -> None:
    """Write the 100 TB storage layout: parquet partitioned by date (and
    any further keys), so time-range scans prune whole directories
    before reading a byte (SCALE.md §2).

    ``derive_date_from`` adds an ``event_date`` column from a timestamp
    when the frame doesn't carry one; pass ``None`` if it already does.
    """
    out = df
    if derive_date_from is not None and "event_date" in partition_cols:
        out = out.withColumn("event_date", F.to_date(F.col(derive_date_from)))
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


# Fan out only to as many slots as have at least this much input each.
# Below it, the repartition shuffle + per-slot task (and, for Pandas-UDF
# stages, Python-worker spin-up) costs more than the parallelism wins —
# measured in round 2: a 32-way fan-out on 0.6 MB inputs made the
# CPU-bound dedup/multimodal queries 2-5x SLOWER at sf0.1.
_MIN_FANOUT_BYTES_PER_SLOT = 1 << 20


def ensure_parallelism(
    df: DataFrame,
    multiple: int = 1,
    bytes_per_slot: int | None = None,
) -> DataFrame:
    """Fan a narrow CPU-bound pipeline out to the cluster when the scan
    produced fewer splits than cores (small files, single-file tables).

    A small parquet file scans as ONE partition — and every narrow
    stage chained on it (shingling, hashing, parsing) then runs on one
    core.  The round-robin repartition here shuffles only the small raw
    input, after which all downstream work parallelizes.  The fan-out is
    gated on Catalyst's plan-size estimate: each target slot must carry
    at least ``_MIN_FANOUT_BYTES_PER_SLOT`` of input, so tiny local
    inputs stay narrow while a genuinely large single-split input still
    fans out fully.  At 100 TB scans already produce ~1 split per
    128 MB and this is a no-op — the guard matters exactly when inputs
    are small-to-mid-size but per-row work is heavy (the CPU-bound
    dedup/sketch operators).

    ``bytes_per_slot`` overrides the per-slot floor for callers whose
    downstream work is NOT proportional to input bytes — a per-row
    replicate fan-out multiplies the compute behind every input byte,
    so the default floor (sized for byte-proportional pipelines) would
    under-parallelize exactly the inputs that need the cores most."""
    target = df.sparkSession.sparkContext.defaultParallelism * multiple
    current = df.rdd.getNumPartitions()
    if current >= target:
        return df
    try:
        est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est_bytes = None
    if est_bytes is not None:
        # Unknown stats surface as Catalyst's huge default → full fan-out
        # (the safe direction for genuinely big unknown inputs).
        floor = (
            _MIN_FANOUT_BYTES_PER_SLOT
            if bytes_per_slot is None
            else max(1, bytes_per_slot)
        )
        target = min(target, est_bytes // floor)
    if current < target:
        return df.repartition(target)
    return df


def parquet_column_minmax(path: str, col: str) -> tuple | None:
    """Exact (min, max) of a NUMERIC/temporal column from parquet
    FOOTER statistics — zero Spark jobs, zero data pages read.

    The 100 TB analogue is catalog/table statistics: range-bucketing
    decisions (see ``pack_context_windows``) need only the key's bounds,
    and a metastore or the footers already hold them — spending a full
    column scan on ``agg(min, max)`` is a wasted job.  Returns ``None``
    when any row group lacks stats (caller falls back to a scan job) —
    and for string/binary columns unconditionally: parquet writers
    TRUNCATE long byte-array stats (adjusting max upward), so those
    bounds are not exact values from the data.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        if not files:
            return None
    lo = hi = None
    for f in files:
        try:
            md = pq.ParquetFile(f).metadata
        except (OSError, pa.ArrowInvalid):  # missing/corrupt file → scan fallback
            return None
        # Resolve against parquet LEAF columns, not the top-level arrow
        # schema: a nested (struct/list) column before `col` holds
        # multiple leaves, so an arrow-level index would silently point
        # at the wrong leaf's statistics.  ColumnSchema.path equals the
        # plain name for flat columns and dotted paths for nested ones.
        idx = next(
            (
                i
                for i in range(md.num_columns)
                if md.schema.column(i).path == col
            ),
            None,
        )
        if idx is None:
            return None
        if md.schema.column(idx).physical_type == "BYTE_ARRAY":
            return None  # string/binary stats may be truncated, not exact
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def write_bucketed(
    df: DataFrame, table: str, key: str, num_buckets: int = 32
) -> None:
    """Persist a table bucketed (and sorted) by its join key — the
    co-located-join layout (SCALE.md §3): two tables bucketed the same
    way join with NO exchange, the single biggest shuffle saving
    available to a recurring fact⋈fact join at 100 TB."""
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def compact_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_rows: int = 1_000_000,
    sort_col: str | None = None,
) -> int:
    """Small-files compaction (lakehouse OPTIMIZE shape): rewrite a
    parquet directory of many small files into few well-sized ones,
    optionally range-sorted so min/max row-group stats prune reads.

    Streaming sinks and fine-grained partition writes leave thousands
    of KB-sized files; at 100 TB the scan's task-scheduling and footer
    overhead then dominates I/O.  Compaction = one pass: read, compute
    the output file count from the actual row count, ``repartition``
    (or ``repartitionByRange`` when a sort column is given — keeping
    files range-disjoint, the Z-order-lite layout), and rewrite capped
    by ``maxRecordsPerFile``.  Returns the number of files written.
    """
    df = spark.read.parquet(src_path)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_file_rows))
    # Range partition AND sort within partitions: if the range sampler
    # skews a partition past the file cap, the sequential file splits
    # stay internally ordered, so every output file's min/max footer
    # range is disjoint regardless — and row groups inside each file
    # are ordered for fine-grained skipping.
    out = (
        df.repartitionByRange(n_files, sort_col).sortWithinPartitions(sort_col)
        if sort_col
        else df.repartition(n_files)
    )
    # The cap is a skew backstop, not the sizing mechanism (that's the
    # partition count): 10% headroom keeps round-robin / range-sample
    # imbalance from splitting a partition into a tiny remainder file.
    cap = int(target_file_rows * 1.1)
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", cap)
        .parquet(dst_path)
    )
    return len(glob.glob(os.path.join(dst_path, "*.parquet")))


def read_evolved(
    spark: SparkSession,
    path: str,
    renames: dict[str, str] | None = None,
) -> DataFrame:
    """Schema-evolution-tolerant scan: union parquet written at
    different schema versions (columns added over time) into one frame.

    ``mergeSchema`` resolves additive evolution (readers see the union
    of all file schemas; files missing a column yield nulls — the
    columnar format's free backfill).  ``renames`` maps old→new column
    names for the one evolution parquet can't express in-place
    (a rename looks like drop+add); rows from files carrying the old
    name surface under the new one via ``coalesce``.  At 100 TB this
    is a footer-only negotiation — no data rewrite, pruning and
    pushdown still apply per file.
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    for old, new in (renames or {}).items():
        if old in df.columns and new in df.columns:
            df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(
                old
            )
        elif old in df.columns:
            df = df.withColumnRenamed(old, new)
    return df


def typed_time_range_scan(
    spark: SparkSession,
    types: tuple[str, ...],
    from_ts: str | None = None,
    to_ts: str | None = None,
    name: str = "events",
    ts_col: str = "ts",
    type_col: str = "event_type",
    sf_dir: str = DEFAULT_SF_DIR,
) -> DataFrame:
    """The reference's ``getFromDate?startDate=...&types=...`` pull
    (reference: transis_consumer.py:166-173): a time-range scan further
    restricted to a set of record types.  Both predicates are plain
    column comparisons, so they reach the parquet reader together
    (PushedFilters: ts range + In(event_type)); with a
    type/date-partitioned layout at 100 TB this is pure partition
    pruning.  ``from_ts=None`` gives the snapshot pulls (getAllVMS /
    getAllOpenTIRF) that have no date parameter.
    """
    if from_ts is None:
        df = load_table(spark, name, sf_dir)
    else:
        df = time_range_scan(spark, name, ts_col, from_ts, to_ts, sf_dir)
    return df.where(F.col(type_col).isin(*types))


# Typed convenience wrappers, one per reference endpoint
# (transis_consumer.py:175-225).  The synthetic events table stands in
# for the Transis record feed; each reference record type maps to one
# synthetic event_type so the wrappers stay executable against testdata:
#   StrategicMonitor -> 'view', Motorway -> 'click', SiteAlarm -> 'error',
#   TIRF -> 'signup' (open = snapshot, closed = from-date pull),
#   VMS -> 'purchase' (snapshot).

def get_strategic_monitor_from(
    spark: SparkSession, from_ts: str, sf_dir: str = DEFAULT_SF_DIR
) -> DataFrame:
    """reference: transis_consumer.py:175-182 (types=StrategicMonitor)."""
    return typed_time_range_scan(spark, ("view",), from_ts, sf_dir=sf_dir)


def get_motorway_from(
    spark: SparkSession, from_ts: str, sf_dir: str = DEFAULT_SF_DIR
) -> DataFrame:
    """reference: transis_consumer.py:184-191 (types=Motorway)."""
    return typed_time_range_scan(spark, ("click",), from_ts, sf_dir=sf_dir)


def get_site_alarm_from(
    spark: SparkSession, from_ts: str, sf_dir: str = DEFAULT_SF_DIR
) -> DataFrame:
    """reference: transis_consumer.py:193-202 (types=SiteAlarm)."""
    return typed_time_range_scan(spark, ("error",), from_ts, sf_dir=sf_dir)


def get_all_open_tirf(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """reference: transis_consumer.py:204-208 — current open TIRF
    incidents; a snapshot pull with no date parameter."""
    return typed_time_range_scan(spark, ("signup",), sf_dir=sf_dir)


def get_all_closed_tirf(
    spark: SparkSession, from_ts: str, sf_dir: str = DEFAULT_SF_DIR
) -> DataFrame:
    """reference: transis_consumer.py:210-217 (getClosedTIRFFromDate)."""
    return typed_time_range_scan(spark, ("signup",), from_ts, sf_dir=sf_dir)


def get_all_vms(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """reference: transis_consumer.py:219-225 (getAllVMS snapshot)."""
    return typed_time_range_scan(spark, ("purchase",), sf_dir=sf_dir)


DOCUMENTS_JSONL_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_documents_jsonl(
    spark: SparkSession,
    path: str,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Corpus ingestion from JSONL — the wire format large text corpora
    actually arrive in — with explicit corrupt-record policy.

    ``mode``:

    - ``PERMISSIVE`` (default): malformed lines yield a row whose data
      columns are null and whose ``_corrupt_record`` column carries the
      raw line — quarantine-able downstream (the same dead-letter split
      as ``operators/projection.py:split_error_documents``).
    - ``DROPMALFORMED``: malformed lines vanish.
    - ``FAILFAST``: the reference's fail-stop posture.

    The schema is declared, never inferred: inference would scan the
    100 TB corpus once just to guess types, and a schema drift between
    input shards would change the answer.  Line-delimited JSON splits
    by newline, so a 100 TB corpus parallelizes per HDFS block without
    any coordination.
    """
    reader = (
        spark.read.schema(DOCUMENTS_JSONL_SCHEMA + ", _corrupt_record string")
        if mode.upper() == "PERMISSIVE"
        else spark.read.schema(DOCUMENTS_JSONL_SCHEMA)
    )
    return reader.option("mode", mode).json(path)
