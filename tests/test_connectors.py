"""Config-driven integration surface (streaming/connectors.py): the
Kinesis reader factory, the Kinesis sink built directly, and the JDBC
audit appender — all exercised with injected fakes; nothing opens a
network connection."""

from __future__ import annotations

from datetime import datetime, timezone

from scats_transis_kinesis_spark.streaming.audit import AuditEvent, AuditLog
from scats_transis_kinesis_spark.streaming.connectors import (
    MAX_RECONNECTS,
    STREAM_TIMEOUT_S,
    JdbcAuditAppender,
    JdbcAuditConfig,
    KinesisSourceConfig,
    kinesis_reader_options,
    kinesis_stream_reader,
)
from scats_transis_kinesis_spark.streaming.kinesis_sink import (
    KinesisBatchWriter,
    ThrottlingKinesisStub,
)


def test_reference_resilience_constants():
    # transis_consumer.py:13 — 20-minute silent-stream timeout, 3 redials.
    assert STREAM_TIMEOUT_S == 20 * 60
    assert MAX_RECONNECTS == 3


def test_kinesis_reader_options_map():
    cfg = KinesisSourceConfig(
        stream_name="scats-detector-counts",
        region="ap-southeast-2",
        initial_position="TRIM_HORIZON",
        endpoint_url="http://localhost:4566",
        extra={"awsUseInstanceProfile": "false"},
    )
    opts = kinesis_reader_options(cfg)
    assert opts["streamName"] == "scats-detector-counts"
    assert opts["region"] == "ap-southeast-2"
    assert opts["initialPosition"] == "TRIM_HORIZON"
    assert opts["endpointUrl"] == "http://localhost:4566"
    assert opts["awsUseInstanceProfile"] == "false"
    # the silent-stream budget maps onto the fetch-time bound
    assert opts["maxFetchTimeMs"] == str(STREAM_TIMEOUT_S * 1000)
    # no endpoint -> option absent (prod uses the regional default)
    assert "endpointUrl" not in kinesis_reader_options(
        KinesisSourceConfig(stream_name="s", region="r")
    )


def test_kinesis_stream_reader_builds_without_connector(spark):
    # Building the reader must not require the connector jar (only
    # .load() does, on a real cluster).
    cfg = KinesisSourceConfig(stream_name="s", region="ap-southeast-2")
    reader = kinesis_stream_reader(spark, cfg)
    assert reader is not None


def test_kinesis_batch_writer_sends_through_stub(spark, tmp_path):
    stub_dir = str(tmp_path / "stub")
    import os

    os.makedirs(stub_dir)
    writer = KinesisBatchWriter(
        client_factory=lambda: ThrottlingKinesisStub(state_dir=stub_dir),
        stream_name="scats-out",
        partition_key_col="region",
        batch_size=2,
        backoff_s=0.0,
    )
    assert writer.stream_name == "scats-out"
    assert writer.batch_size == 2

    df = spark.createDataFrame(
        [("ROZ", 1, 5), ("ROZ", 2, 3), ("PAR", 3, 9)],
        "region string, site_id int, n int",
    )
    writer.write_batch(df, batch_id=0)
    sent = ThrottlingKinesisStub(state_dir=stub_dir).sent_records()
    assert len(sent) == 3
    assert {r["PartitionKey"] for r in sent} == {"ROZ", "PAR"}


def test_jdbc_audit_appender_flushes_incrementally(spark):
    log = AuditLog()
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    log.append(AuditEvent("job", "q-1", "start", None, "10", ts))
    log.append(AuditEvent("job", "q-1", "status", '{"batchId": 0}', "10", ts))

    captured = []
    cfg = JdbcAuditConfig(
        url="jdbc:postgresql://db:5432/di", table="di.job_audit", user="svc"
    )
    sink = JdbcAuditAppender(cfg, writer=lambda df, c: captured.append((df, c)))

    assert sink.flush(spark, log) == 2
    df, got_cfg = captured[-1]
    assert got_cfg.table == "di.job_audit"
    rows = df.orderBy("event").collect()
    assert [r["event"] for r in rows] == ["start", "status"]
    assert rows[1]["status_desc"] == '{"batchId": 0}'
    assert df.schema["event_ts"].dataType.typeName() == "timestamp"

    # nothing new -> no write
    assert sink.flush(spark, log) == 0
    # only the tail is appended on the next flush
    log.append(AuditEvent("job", "q-1", "end", None, "20", ts))
    assert sink.flush(spark, log) == 1
    tail_df, _ = captured[-1]
    assert [r["event"] for r in tail_df.collect()] == ["end"]
