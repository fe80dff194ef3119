"""Kinesis-envelope ``foreachBatch`` sink with bounded subset retry —
operators K1–K4 (SURVEY.md §2.5).

The reference chunks records into batches of 10 (half the 1,000
rec/s/shard limit headroom, reference: kinesis_producer.py:25,28-30,40),
wraps each as ``{PartitionKey, Data}`` (reference:
kinesis_producer.py:44-56), calls ``put_records``, and on partial
failure retries *only* the throttled subset once after a 2 s backoff
(reference: kinesis_producer.py:58-98).

Engine-side differences (deliberate):

- Partition key is a real column (reference bug: the literal string
  "region" keyed every record to one shard — SURVEY.md §1.4; the
  literal mode is still available for bug-compatible testing).
- The client is injected, so tests run a deterministic throttling stub
  (mirrors the reference's own mock, reference: tests.py:156-169) and
  production passes a boto3 client — no AWS dependency in the engine.
- Idempotence: each micro-batch is tagged with ``batchId``; a real
  deployment dedupes replayed batches on (batchId, partition_key,
  sequence) downstream, upgrading the reference's at-least-once
  double-send on retry-after-partial-write (SURVEY.md §7.4).
- A record still not accepted after the throttle retry, or rejected
  with any other error code, fails the batch (the reference drops
  non-throttle failures silently), so a partly delivered batch is never
  marked committed.

Rows are collected per micro-batch partition via ``foreachPartition``
(each executor ships its own partition to the stream — the put calls
parallelize across the cluster; nothing funnels through the driver).
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.envelope import THROTTLE_ERROR

DEFAULT_BATCH_SIZE = 10
RETRY_BACKOFF_S = 2.0


@dataclass
class ThrottlingKinesisStub:
    """Deterministic fake Kinesis client (test double).

    Throttles any record whose data contains ``fail_marker`` on the
    first attempt, succeeding on retry — the same trick as the
    reference's own mock (reference: tests.py:156-169).  ``error_code``
    swaps the throttle for another per-record failure.  Like Kinesis, it
    rejects a call with an empty ``Records`` list.

    With ``state_dir`` set, attempt-tracking and the sent log live on
    the filesystem, so the stub works *across process boundaries* —
    required when the sink runs it inside ``foreachPartition`` Python
    workers and the test asserts from the driver process.  Without it,
    plain in-memory state for direct driver-side unit tests."""

    state_dir: str | None = None
    fail_marker: bytes = b'"__throttle__"'
    fail_always: bool = False
    error_code: str = THROTTLE_ERROR
    sent: list[dict] = field(default_factory=list)
    n_calls: int = 0
    _seen: set = field(default_factory=set)

    def _first_attempt(self, key: str) -> bool:
        if self.state_dir is None:
            if key in self._seen:
                return False
            self._seen.add(key)
            return True
        import os

        try:
            with open(os.path.join(self.state_dir, f"attempt_{key}"), "x"):
                return True
        except FileExistsError:
            return False

    def _log_sent(self, rec: dict) -> None:
        if self.state_dir is None:
            self.sent.append(rec)
            return
        import json
        import os

        line = json.dumps(
            {"PartitionKey": rec["PartitionKey"], "Data": rec["Data"].decode("utf-8")}
        )
        # O_APPEND writes of one small line are atomic on Linux.
        with open(os.path.join(self.state_dir, "sent.jsonl"), "a") as f:
            f.write(line + "\n")

    def sent_records(self) -> list[dict]:
        if self.state_dir is None:
            return list(self.sent)
        import json
        import os

        path = os.path.join(self.state_dir, "sent.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def put_records(self, StreamName: str, Records: list[dict]) -> dict:  # noqa: N803
        import hashlib

        if not Records:
            raise ValueError("put_records: Records must hold at least 1 entry")
        self.n_calls += 1
        entries = []
        n_failed = 0
        for rec in Records:
            key = hashlib.md5(rec["Data"]).hexdigest()
            marked = self.fail_marker in rec["Data"]
            if marked and (self.fail_always or self._first_attempt(key)):
                n_failed += 1
                entries.append({"ErrorCode": self.error_code, "ErrorMessage": "rejected"})
            else:
                self._log_sent(rec)
                entries.append({"SequenceNumber": str(self.n_calls), "ShardId": "shard-0"})
        return {"FailedRecordCount": n_failed, "Records": entries}


def _chunks(seq: list, n: int):
    """K1 — fixed-size batching (reference: utils.py:33-36)."""
    for i in range(0, len(seq), n):
        yield seq[i : i + n]


def _rejected(records: list[dict], response: dict) -> list[tuple[dict, str]]:
    """K4 — positional zip of a put_records request with its response
    entries (reference: kinesis_producer.py:87-98), keeping every record
    the stream did not accept together with its error code."""
    return [
        (rec, entry["ErrorCode"])
        for rec, entry in zip(records, response["Records"], strict=True)
        if entry.get("ErrorCode")
    ]


def _put_chunk(client, stream_name: str, chunk: list[dict], backoff_s: float, batch_id: int) -> None:
    """Send one chunk; retry its throttled subset once after ``backoff_s``
    (reference parity) and raise if any record is still not accepted,
    naming each error code with its record count."""
    rejected = _rejected(chunk, client.put_records(StreamName=stream_name, Records=chunk))
    throttled = [rec for rec, code in rejected if code == THROTTLE_ERROR]
    if throttled:
        time.sleep(backoff_s)
        retry = client.put_records(StreamName=stream_name, Records=throttled)
        rejected = [r for r in rejected if r[1] != THROTTLE_ERROR] + _rejected(throttled, retry)
    if rejected:
        codes = Counter(code for _, code in rejected)
        detail = ", ".join(
            f"{n} still throttled after retry ({code})" if code == THROTTLE_ERROR else f"{n} {code}"
            for code, n in sorted(codes.items())
        )
        raise RuntimeError(
            f"kinesis sink: {len(rejected)} records not accepted (batch {batch_id}): {detail}"
        )


class KinesisBatchWriter:
    """K2+K3 — ``foreachBatch`` writer: envelope → chunked put_records
    with one subset retry."""

    def __init__(
        self,
        client_factory,
        stream_name: str,
        partition_key_col: str | None = "region",
        literal_key: str | None = None,
        batch_size: int = DEFAULT_BATCH_SIZE,
        backoff_s: float = RETRY_BACKOFF_S,
        committed_marker_dir: str | None = None,
    ) -> None:
        self.client_factory = client_factory
        self.stream_name = stream_name
        self.partition_key_col = partition_key_col
        self.literal_key = literal_key
        self.batch_size = batch_size
        self.backoff_s = backoff_s
        self.committed_marker_dir = committed_marker_dir

    def _already_committed(self, batch_id: int) -> bool:
        if self.committed_marker_dir is None:
            return False
        import os

        return os.path.exists(os.path.join(self.committed_marker_dir, f"batch_{batch_id}"))

    def _mark_committed(self, batch_id: int) -> None:
        if self.committed_marker_dir is None:
            return
        import os

        os.makedirs(self.committed_marker_dir, exist_ok=True)
        with open(os.path.join(self.committed_marker_dir, f"batch_{batch_id}"), "w"):
            pass

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The ``foreachBatch`` entry point.

        With ``committed_marker_dir`` set, a replayed micro-batch (same
        ``batch_id`` after a crash-restart between sink write and
        checkpoint commit) is skipped — upgrading Spark's at-least-once
        ``foreachBatch`` contract to effectively-once at this sink.  The
        marker write happens only after every record of the batch was
        accepted.  (The reference double-sends in the same situation,
        kinesis_producer.py:75-77; SURVEY.md §7.4.)"""
        if self._already_committed(batch_id):
            return
        from ..operators.envelope import to_kinesis_envelope

        enveloped = to_kinesis_envelope(
            batch_df, partition_key_col=self.partition_key_col, literal_key=self.literal_key
        )
        # Per-partition send: each executor streams its rows out in
        # batch_size chunks; only counters return to the driver.
        factory = self.client_factory
        stream_name = self.stream_name
        batch_size = self.batch_size
        backoff_s = self.backoff_s

        def send_partition(rows) -> None:
            client = factory()
            records = [
                {"PartitionKey": r["partition_key"], "Data": bytes(r["data"])} for r in rows
            ]
            for chunk in _chunks(records, batch_size):
                _put_chunk(client, stream_name, chunk, backoff_s, batch_id)

        enveloped.foreachPartition(send_partition)
        self._mark_committed(batch_id)

    def attach(self, stream_df: DataFrame, checkpoint_dir: str, **options):
        """Wire onto a streaming DataFrame via foreachBatch."""
        return (
            stream_df.writeStream.foreachBatch(self.write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .options(**options)
        )
