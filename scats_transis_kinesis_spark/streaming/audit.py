"""Job-audit side channel — operators O1–O5 (SURVEY.md §2.6).

The reference opens a Postgres connection per document and calls stored
procs ``strt_job`` / ``log_job_stus`` / ``end_job`` around each batch
(reference: di_framework.py:35-104, driver loop
transis_kinesis_connector.py:19-26), building the proc call by f-string
interpolation (injection-prone, reference: di_framework.py:38,66,82).

The engine's form is a ``StreamingQueryListener``: query start → start
event, each progress tick → status event with the batch stats JSON,
termination → end/error event (fail-stop parity: the query dies, the
listener records why).  Events append to an in-memory log that a
production deployment flushes to JDBC with parameterized statements.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class AuditEvent:
    job_name: str
    job_id: str
    event: str  # start | status | end | error
    status_desc: str | None
    status_cd: str | None
    event_ts: datetime


@dataclass
class AuditLog:
    """Thread-safe append-only event log (listener callbacks arrive on
    Spark's listener-bus thread)."""

    events: list[AuditEvent] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def append(self, ev: AuditEvent) -> None:
        with self._lock:
            self.events.append(ev)

    def by_kind(self, kind: str) -> list[AuditEvent]:
        with self._lock:
            return [e for e in self.events if e.event == kind]


class JobAuditListener(StreamingQueryListener):
    """O2–O4 as a StreamingQueryListener.

    ``strt_job`` ↔ onQueryStarted, ``log_job_stus`` ↔ onQueryProgress
    (carrying the same stats payload shape the reference logs:
    records count + window timestamp, reference:
    transis_kinesis_connector.py:40-44), ``end_job``/``error_job`` ↔
    onQueryTerminated with/without an exception."""

    def __init__(self, job_name: str = "transis_kinesis_stream", log: AuditLog | None = None):
        self.job_name = job_name
        self.log = log or AuditLog()

    @staticmethod
    def _now() -> datetime:
        return datetime.now(timezone.utc)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        self.log.append(
            AuditEvent(self.job_name, str(event.id), "start", None, "10", self._now())
        )

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        stats = {
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "timestamp": p.timestamp,
        }
        self.log.append(
            AuditEvent(
                self.job_name, str(p.id), "status", json.dumps(stats), "10", self._now()
            )
        )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if event.exception is None:
            self.log.append(
                AuditEvent(self.job_name, str(event.id), "end", None, "20", self._now())
            )
        else:
            self.log.append(
                AuditEvent(
                    self.job_name,
                    str(event.id),
                    "error",
                    str(event.exception)[:4000],
                    "40",
                    self._now(),
                )
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


# --- observed row metrics (df.observe) ----------------------------------
#
# The listener above audits JOB lifecycle; ``observe`` audits ROWS — the
# metric aggregates piggyback on the query's own pass (Spark evaluates
# them inside the existing plan as an accumulator-backed aggregate), so
# a 100 TB pipeline gets its data-quality counters for free instead of
# paying a second corpus scan.  Batch callers read them through
# ``pyspark.sql.Observation``; streaming callers find the same values in
# ``StreamingQueryProgress.observedMetrics`` per micro-batch.


def corpus_metric_exprs(text_col: str = "text"):
    """The standard ingest data-quality counter set: row count, null /
    empty text counts, and total characters (mean length = total_chars
    / n_rows, derived by the consumer) — one accumulator-backed
    aggregate, zero extra scans."""
    from pyspark.sql import functions as F

    c = F.col(text_col)
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("n_null_text"),
        F.sum(F.when(F.length(c) == 0, 1).otherwise(0)).alias("n_empty_text"),
        F.sum(F.coalesce(F.length(c), F.lit(0))).alias("total_chars"),
    ]


def observe_corpus_metrics(df, observation, text_col: str = "text"):
    """Attach the corpus counters to ``df``'s next action.

    ``observation`` is a ``pyspark.sql.Observation`` (batch: read
    ``observation.get`` after the action) or a string metric name
    (streaming: the values arrive in each progress event's
    ``observedMetrics[name]``)."""
    return df.observe(observation, *corpus_metric_exprs(text_col))
