"""Config-driven integration surface: the Kinesis source factory and
the JDBC audit appender.

The sandbox has no AWS endpoint and no database, so nothing here opens a
network connection at import or construction time.  What IS real:

- the option names/values a production deployment attaches (the public
  ``format("kinesis")`` connector options; Spark's built-in JDBC sink),
- the reconnect/timeout constants of the reference consumer
  (transis_consumer.py:13 — 20-minute stream timeout, 3 reconnects),
- the wiring into the engine's tested pieces (``JobAuditListener``'s
  event log for the audit rows).

The Kinesis sink is ``streaming/kinesis_sink.py:KinesisBatchWriter``,
built directly with a client factory (tests pass
``ThrottlingKinesisStub``).  The JDBC appender takes a writer callable
(tests capture the DataFrame instead of connecting).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# Reference consumer resilience constants (transis_consumer.py:13):
# the push stream goes silent without closing after ~20 minutes, and the
# consumer re-dials at most 3 times before failing the job.  The
# streaming engine consumes these in streaming/stateful.py (site
# liveness) and a production Kinesis reader maps them onto its
# maxFetchTimeMs / retry options.
STREAM_TIMEOUT_S = 20 * 60
MAX_RECONNECTS = 3


@dataclass(frozen=True)
class KinesisSourceConfig:
    """Options for a ``format("kinesis")`` structured-streaming source
    (the publicly documented spark-sql-kinesis connector surface; the
    connector jar must be on the cluster classpath — it is not bundled
    here).  ``endpoint_url`` supports localstack-style testing."""

    stream_name: str
    region: str
    initial_position: str = "LATEST"  # or TRIM_HORIZON / AT_TIMESTAMP
    endpoint_url: str | None = None
    max_fetch_time_ms: int = STREAM_TIMEOUT_S * 1000
    max_fetch_records_per_shard: int = 100_000
    extra: dict[str, str] = field(default_factory=dict)


def kinesis_reader_options(cfg: KinesisSourceConfig) -> dict[str, str]:
    """The exact option map a production session attaches.  Pure
    function so tests assert it without a connector on the classpath."""
    opts = {
        "streamName": cfg.stream_name,
        "region": cfg.region,
        "initialPosition": cfg.initial_position,
        "maxFetchTimeMs": str(cfg.max_fetch_time_ms),
        "maxFetchRecordsPerShard": str(cfg.max_fetch_records_per_shard),
    }
    if cfg.endpoint_url is not None:
        opts["endpointUrl"] = cfg.endpoint_url
    opts.update(cfg.extra)
    return opts


def kinesis_stream_reader(spark: SparkSession, cfg: KinesisSourceConfig):
    """A configured (unstarted) ``DataStreamReader`` for the stream —
    call ``.load()`` where the connector jar is present.  This is the
    production replacement for the file/memory sources the tests use;
    the downstream pipeline (parse → explode → project → envelope) is
    identical either way."""
    return spark.readStream.format("kinesis").options(**kinesis_reader_options(cfg))


@dataclass(frozen=True)
class JdbcAuditConfig:
    """Where job-lifecycle rows land (reference: di_framework.py:35-104
    calls ``strt_job``/``log_job_stus``/``end_job`` stored procs built
    by f-string interpolation — injection-prone by construction).  The
    engine appends ROWS to an audit table through Spark's JDBC writer,
    which binds values as statement parameters — no SQL is ever built
    from event text."""

    url: str  # e.g. jdbc:postgresql://host:5432/db
    table: str  # e.g. di_framework.job_audit
    user: str | None = None
    password: str | None = None
    driver: str | None = None  # e.g. org.postgresql.Driver
    properties: dict[str, str] = field(default_factory=dict)


AUDIT_ROW_SCHEMA = (
    "job_name string, job_id string, event string, "
    "status_desc string, status_cd string, event_ts timestamp"
)


def audit_events_df(spark: SparkSession, events) -> DataFrame:
    """AuditEvents → a typed DataFrame in the audit-table row shape
    (one row per strt_job / log_job_stus / end_job-equivalent event)."""
    rows = [
        (e.job_name, e.job_id, e.event, e.status_desc, e.status_cd, e.event_ts)
        for e in events
    ]
    return spark.createDataFrame(rows, AUDIT_ROW_SCHEMA)


class JdbcAuditAppender:
    """O2–O4 persistence: flush the listener's in-memory event log to the
    configured JDBC table with ``mode=append``.

    ``writer`` is injectable for tests (captures the DataFrame); the
    default writes through ``DataFrameWriter.jdbc`` — parameterized
    inserts, batched per partition, no driver-side loop.  ``flush`` is
    incremental: each call appends only events it has not flushed yet,
    so wiring it to a progress-tick callback gives continuous audit
    without re-writing history.
    """

    def __init__(
        self,
        cfg: JdbcAuditConfig,
        writer: Callable[[DataFrame, JdbcAuditConfig], None] | None = None,
    ) -> None:
        self.cfg = cfg
        self.writer = writer or self._jdbc_write
        self._flushed = 0

    @staticmethod
    def _jdbc_write(df: DataFrame, cfg: JdbcAuditConfig) -> None:  # pragma: no cover
        props = dict(cfg.properties)
        if cfg.user is not None:
            props["user"] = cfg.user
        if cfg.password is not None:
            props["password"] = cfg.password
        if cfg.driver is not None:
            props["driver"] = cfg.driver
        df.write.jdbc(url=cfg.url, table=cfg.table, mode="append", properties=props)

    def flush(self, spark: SparkSession, log) -> int:
        """Append the not-yet-flushed tail of ``log`` (an
        ``audit.AuditLog``); returns how many rows were appended."""
        with log._lock:
            pending = list(log.events[self._flushed :])
        if not pending:
            return 0
        self.writer(audit_events_df(spark, pending), self.cfg)
        self._flushed += len(pending)
        return len(pending)
