"""Streaming tests: watermarked window agg driven to completion with a
file source, Kinesis sink subset-retry semantics, audit listener."""

from __future__ import annotations

import json
import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from scats_transis_kinesis_spark.streaming.audit import JobAuditListener
from scats_transis_kinesis_spark.streaming.kinesis_sink import (
    KinesisBatchWriter,
    ThrottlingKinesisStub,
)
from scats_transis_kinesis_spark.streaming.pipeline import windowed_traffic


def _write_events_parquet(spark, path: str) -> None:
    rows = [
        (i, f"2024-01-01 00:{m:02d}:30", 100 + (i % 3), "click" if i % 2 else "view", 1.5 * i)
        for i, m in enumerate([0, 1, 4, 6, 7, 12, 13, 14])
    ]
    (
        spark.createDataFrame(
            rows, "event_id long, t string, user_id long, event_type string, value double"
        )
        .select(
            "event_id", F.col("t").cast("timestamp").alias("ts"), "user_id", "event_type",
            "value", F.lit(None).cast("string").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


def test_windowed_traffic_streaming_matches_batch(spark):
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "events")
        _write_events_parquet(spark, src)
        batch_df = spark.read.parquet(src)
        expected = {
            (r["window_start"].isoformat(), r["event_type"], r["n_events"])
            for r in windowed_traffic(batch_df).collect()
        }

        stream = (
            spark.readStream.schema(batch_df.schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            windowed_traffic(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("wt_out")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["window_start"].isoformat(), r["event_type"], r["n_events"])
                for r in spark.sql("SELECT * FROM wt_out").collect()
            }
        finally:
            q.stop()
        assert got == expected and len(got) > 0


def test_decayed_counters_streaming_matches_batch(spark):
    """The stateful streaming decayed counter must reproduce the batch
    decayed_hourly_traffic query row-for-row across micro-batches:
    batch 2's hours decay counts that arrived in batch 1 (held in
    state), and the .5-tie terms (odd count at lag 7) round HALF_UP on
    both paths."""
    from scats_transis_kinesis_spark.plans.registry import REGISTRY
    from scats_transis_kinesis_spark.streaming.stateful import decayed_counters

    def rows_for(hour, event_type, n, base_id):
        return [
            (base_id + i, f"2024-01-01 {hour:02d}:0{i}:00", 1, event_type, 1.0, None)
            for i in range(n)
        ]

    schema = (
        "event_id long, t string, user_id long, event_type string, "
        "value double, props string"
    )
    batch1 = (
        rows_for(0, "click", 3, 0) + rows_for(1, "click", 5, 10)
        + rows_for(0, "view", 1, 20) + rows_for(2, "view", 4, 30)
    )
    batch2 = rows_for(7, "click", 2, 40) + rows_for(8, "view", 1, 50)

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "events.parquet")

        os.makedirs(src, exist_ok=True)

        def write(rows, part, mtime):
            import shutil

            stage = os.path.join(d, f"stage_{part}")
            (
                spark.createDataFrame(rows, schema)
                .select(
                    "event_id", F.col("t").cast("timestamp").alias("ts"),
                    "user_id", "event_type", "value", "props",
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part_file = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            dest = os.path.join(src, f"{part}.parquet")
            shutil.move(os.path.join(stage, part_file), dest)
            os.utime(dest, (mtime, mtime))

        write(batch1, "b1", 1_700_000_000)
        write(batch2, "b2", 1_700_000_100)

        expected = {
            (
                r["event_type"],
                int(r["h"].timestamp() // 3600),
                r["n_events"],
                r["decayed_micros"],
            )
            for r in REGISTRY["decayed_hourly_traffic"].fn(spark, d).collect()
        }

        stream_schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(stream_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            decayed_counters(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("decay_out")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["event_type"], r["hour_epoch"], r["n_events"], r["decayed_micros"])
                for r in spark.sql("SELECT * FROM decay_out").collect()
            }
        finally:
            q.stop()
        assert got == expected and len(got) == 6


def test_kinesis_sink_retries_only_failed_subset(spark):
    # Mirrors the reference's retry test (reference: tests.py:128-147):
    # a throttled record is retried alone and succeeds; everything is
    # delivered exactly once.
    with tempfile.TemporaryDirectory() as d:
        stub = ThrottlingKinesisStub(state_dir=d)
        writer = KinesisBatchWriter(
            client_factory=lambda: ThrottlingKinesisStub(state_dir=d),
            stream_name="test-stream",
            partition_key_col="region",
            batch_size=2,
            backoff_s=0.01,
        )
        df = spark.createDataFrame(
            [("ROZ", "1", "ok"), ("ROZ", "2", "__throttle__"), ("XYZ", "3", "ok")],
            "region string, site_id string, note string",
        ).coalesce(1)
        writer.write_batch(df, batch_id=0)
        sent = stub.sent_records()
        assert len(sent) == 3
        payloads = {json.loads(r["Data"])["site_id"] for r in sent}
        assert payloads == {"1", "2", "3"}
        keys = {r["PartitionKey"] for r in sent}
        assert keys == {"ROZ", "XYZ"}


def test_kinesis_sink_raises_when_retry_exhausted(spark):
    with tempfile.TemporaryDirectory() as d:
        writer = KinesisBatchWriter(
            client_factory=lambda: ThrottlingKinesisStub(state_dir=d, fail_always=True),
            stream_name="test-stream",
            partition_key_col="region",
            backoff_s=0.01,
        )
        df = spark.createDataFrame(
            [("ROZ", "__throttle__",)], "region string, note string"
        ).coalesce(1)
        with pytest.raises(Exception) as exc_info:
            writer.write_batch(df, batch_id=1)
        assert "still throttled" in str(exc_info.value)


def test_kinesis_sink_raises_on_non_throttle_failure_without_committing(spark):
    # A record rejected with a non-throttle code must fail the batch: it
    # is not retried, and the batch is never marked committed.
    with tempfile.TemporaryDirectory() as d:
        stub_dir = os.path.join(d, "stub")
        os.makedirs(stub_dir)
        commits = os.path.join(d, "commits")
        writer = KinesisBatchWriter(
            client_factory=lambda: ThrottlingKinesisStub(
                state_dir=stub_dir, error_code="InternalFailure"
            ),
            stream_name="scats",
            partition_key_col="region",
            backoff_s=0.01,
            committed_marker_dir=commits,
        )
        df = spark.createDataFrame(
            [("ROZ", "ok"), ("ROZ", "__throttle__")], "region string, note string"
        ).coalesce(1)
        with pytest.raises(Exception) as exc_info:
            writer.write_batch(df, batch_id=3)
        assert "1 InternalFailure" in str(exc_info.value)
        assert not os.path.exists(os.path.join(commits, "batch_3"))


class _ScriptedKinesis:
    """Answers each put_records call with the next list of per-record
    error codes (None = accepted) and records the request sizes."""

    def __init__(self, *replies):
        self.replies = list(replies)
        self.calls = []

    def put_records(self, StreamName, Records):  # noqa: N803
        self.calls.append(len(Records))
        codes = self.replies.pop(0)
        assert len(codes) == len(Records)
        return {
            "FailedRecordCount": sum(c is not None for c in codes),
            "Records": [{"ErrorCode": c} if c else {"SequenceNumber": "1"} for c in codes],
        }


def test_kinesis_chunk_retries_throttles_once_and_names_other_codes():
    from scats_transis_kinesis_spark.streaming.kinesis_sink import THROTTLE_ERROR, _put_chunk

    chunk = [{"PartitionKey": "k", "Data": b"%d" % i} for i in range(4)]
    client = _ScriptedKinesis(
        [None, THROTTLE_ERROR, "InternalFailure", THROTTLE_ERROR], [None, THROTTLE_ERROR]
    )
    with pytest.raises(RuntimeError) as exc_info:
        _put_chunk(client, "s", chunk, backoff_s=0.0, batch_id=5)
    # One retry carrying only the throttled pair.
    assert client.calls == [4, 2]
    msg = str(exc_info.value)
    assert "2 records not accepted (batch 5)" in msg
    assert "1 InternalFailure" in msg
    assert f"1 still throttled after retry ({THROTTLE_ERROR})" in msg


def test_kinesis_chunk_never_sends_an_empty_retry():
    from scats_transis_kinesis_spark.streaming.kinesis_sink import _put_chunk

    chunk = [{"PartitionKey": "k", "Data": b"x"}]
    client = _ScriptedKinesis(["InternalFailure"])
    with pytest.raises(RuntimeError, match="1 InternalFailure"):
        _put_chunk(client, "s", chunk, backoff_s=0.0, batch_id=0)
    assert client.calls == [1]
    with pytest.raises(ValueError):
        ThrottlingKinesisStub().put_records(StreamName="s", Records=[])


def test_audit_listener_lifecycle(spark):
    listener = JobAuditListener(job_name="test_job")
    spark.streams.addListener(listener)
    try:
        with tempfile.TemporaryDirectory() as d:
            src = os.path.join(d, "events")
            _write_events_parquet(spark, src)
            schema = spark.read.parquet(src).schema
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                windowed_traffic(stream)
                .writeStream.outputMode("complete")
                .format("memory")
                .queryName("audit_out")
                .option("checkpointLocation", os.path.join(d, "ckpt"))
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(30)
        deadline = time.time() + 15
        while time.time() < deadline and not listener.log.by_kind("end"):
            time.sleep(0.2)
        assert listener.log.by_kind("start"), "start event missing"
        assert listener.log.by_kind("end"), "end event missing"
        status = listener.log.by_kind("status")
        assert any(json.loads(e.status_desc)["numInputRows"] > 0 for e in status)
    finally:
        spark.streams.removeListener(listener)


def test_observed_corpus_metrics_batch_and_streaming(spark):
    """Row-level data-quality counters via df.observe — computed inside
    the query's own pass (accumulator-backed aggregate, no second
    scan): batch values arrive through Observation, streaming values in
    every progress event's observedMetrics."""
    from pyspark.sql import Observation

    from scats_transis_kinesis_spark.streaming.audit import (
        observe_corpus_metrics,
    )

    rows = [(1, "hello world"), (2, ""), (3, None), (4, "abc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation("corpus")
    observe_corpus_metrics(df, obs).write.mode("overwrite").format("noop").save()
    got = obs.get
    assert got == {
        "n_rows": 4,
        "n_null_text": 1,
        "n_empty_text": 1,
        "total_chars": 14,
    }

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "docs")
        df.write.parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        q = (
            observe_corpus_metrics(stream, "corpus_stream")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("observe_out")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            metrics = None
            for p in reversed(q.recentProgress):
                if p.observedMetrics.get("corpus_stream"):
                    metrics = p.observedMetrics["corpus_stream"].asDict()
                    break
            assert metrics is not None, "no observed metrics in progress"
            assert metrics["n_rows"] == 4 and metrics["total_chars"] == 14
        finally:
            q.stop()


def _scats_doc(sid="2087", reg="ROZ", count="5", date="2019-10-03T15:43:00+10:00"):
    return (
        f'<TransisResponse error="false"><DetectorCountMessages>'
        f'<DetectorCountMessage reg="{reg}" Sid="{sid}" date="{date}">'
        f'<Detectors><Detector Did="1" count="{count}"/></Detectors>'
        f"</DetectorCountMessage></DetectorCountMessages></TransisResponse>"
    )


def test_scats_pipeline_end_to_end(spark):
    # The reference's main loop (§3.1) as one streaming query:
    # null-delimited XML files -> parse -> project -> envelope ->
    # Kinesis stub, with the throttled-subset retry exercised in-stream.
    from scats_transis_kinesis_spark.streaming.pipeline import run_scats_pipeline

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "xml_in")
        os.makedirs(src)
        # doc 2 carries the stub's throttle marker in its region value so
        # the first put_records attempt fails exactly that record.
        docs = [_scats_doc(sid="2087"), _scats_doc(sid="11", reg="__throttle__")]
        with open(os.path.join(src, "stream.txt"), "w") as f:
            f.write("\x00".join(docs) + "\x00")

        from scats_transis_kinesis_spark.sources.xml import read_null_delimited_stream

        stub_dir = os.path.join(d, "stub")
        os.makedirs(stub_dir)
        writer = KinesisBatchWriter(
            client_factory=lambda: ThrottlingKinesisStub(state_dir=stub_dir),
            stream_name="scats",
            partition_key_col="region",
            backoff_s=0.01,
        )
        q = run_scats_pipeline(
            read_null_delimited_stream(spark, src), writer, os.path.join(d, "ckpt")
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        sent = ThrottlingKinesisStub(state_dir=stub_dir).sent_records()
        assert len(sent) == 2
        by_site = {json.loads(r["Data"])["site_id"]: r for r in sent}
        assert set(by_site) == {"2087", "11"}
        rec = json.loads(by_site["2087"]["Data"])
        assert rec["region"] == "ROZ"
        assert rec["collection_interval_secs"] == 300
        assert rec["collection_end_ts_plus_3m"] == 1570081380  # golden epoch
        assert rec["detector_counts"] == {"1": "5"}
        assert by_site["2087"]["PartitionKey"] == "ROZ"


def test_scats_pipeline_fail_stop_on_error_document(spark):
    # P6/O5: an error="true" document kills the streaming query
    # (reference fail-stop: main.py:31-37).
    from scats_transis_kinesis_spark.sources.xml import read_null_delimited_stream
    from scats_transis_kinesis_spark.streaming.pipeline import run_scats_pipeline

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "xml_in")
        os.makedirs(src)
        poison = (
            '<TransisResponse error="true"><Errors><Error msg="boom"/></Errors>'
            "</TransisResponse>"
        )
        with open(os.path.join(src, "stream.txt"), "w") as f:
            f.write(_scats_doc() + "\x00" + poison + "\x00")

        stub_dir = os.path.join(d, "stub")
        os.makedirs(stub_dir)
        writer = KinesisBatchWriter(
            client_factory=lambda: ThrottlingKinesisStub(state_dir=stub_dir),
            stream_name="scats",
            backoff_s=0.01,
        )
        q = run_scats_pipeline(
            read_null_delimited_stream(spark, src), writer, os.path.join(d, "ckpt")
        )
        with pytest.raises(Exception) as exc_info:
            q.processAllAvailable()
            q.awaitTermination(30)
        assert "Transis error document" in str(exc_info.value)
        q.stop()


def test_sessionized_traffic_streaming_matches_batch(spark):
    from scats_transis_kinesis_spark.streaming.pipeline import sessionized_traffic

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "events")
        _write_events_parquet(spark, src)
        batch_df = spark.read.parquet(src)
        expected = {
            (r["session_start"].isoformat(), r["user_id"], r["n_events"])
            for r in sessionized_traffic(batch_df, gap="5 minutes").collect()
        }
        assert expected, "batch sessionization produced no sessions"

        stream = (
            spark.readStream.schema(batch_df.schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            sessionized_traffic(stream, gap="5 minutes")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("sess_out")
            .option("checkpointLocation", os.path.join(d, "ckpt_sess"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["session_start"].isoformat(), r["user_id"], r["n_events"])
                for r in spark.sql("SELECT * FROM sess_out").collect()
            }
        finally:
            q.stop()
        assert got == expected


def test_scats_pipeline_checkpoint_recovery_no_resend(spark):
    # Restarting a completed query on the same checkpoint must not
    # re-deliver processed documents (the checkpoint, not the sink,
    # carries the progress) — the engine's upgrade over the reference's
    # blind reconnect-and-resubscribe (transis_consumer.py:141-148).
    from scats_transis_kinesis_spark.sources.xml import read_null_delimited_stream
    from scats_transis_kinesis_spark.streaming.pipeline import run_scats_pipeline

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "xml_in")
        os.makedirs(src)
        with open(os.path.join(src, "stream.txt"), "w") as f:
            f.write(_scats_doc(sid="2087") + "\x00" + _scats_doc(sid="11") + "\x00")

        stub_dir = os.path.join(d, "stub")
        os.makedirs(stub_dir)
        ckpt = os.path.join(d, "ckpt")

        def start():
            writer = KinesisBatchWriter(
                client_factory=lambda: ThrottlingKinesisStub(state_dir=stub_dir),
                stream_name="scats",
                partition_key_col="region",
                backoff_s=0.01,
            )
            return run_scats_pipeline(read_null_delimited_stream(spark, src), writer, ckpt)

        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        first_run = len(ThrottlingKinesisStub(state_dir=stub_dir).sent_records())
        assert first_run == 2

        q2 = start()  # same checkpoint, no new files
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        assert len(ThrottlingKinesisStub(state_dir=stub_dir).sent_records()) == first_run


def test_stream_static_enrichment(spark):
    from scats_transis_kinesis_spark.streaming.pipeline import enrich_with_topology

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "events")
        rows = [("2087", "2024-01-01 00:00:30"), ("11", "2024-01-01 00:01:30")]
        spark.createDataFrame(rows, "site_id string, t string").select(
            "site_id", F.col("t").cast("timestamp").alias("ts")
        ).write.parquet(src)
        sites = spark.createDataFrame(
            [("2087", "ROZ"), ("11", "CBD")], "site_id string, region string"
        )
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            enrich_with_topology(stream, sites)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("enriched_out")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["site_id"], r["region"]) for r in spark.sql("SELECT * FROM enriched_out").collect()
            }
        finally:
            q.stop()
        assert got == {("2087", "ROZ"), ("11", "CBD")}


def test_stream_stream_join_within_window(spark):
    # clicks joined to purchases within 15 minutes after the click,
    # both sides watermarked (bounded state).
    from scats_transis_kinesis_spark.streaming.pipeline import correlate_streams

    with tempfile.TemporaryDirectory() as d:
        clicks_p, purch_p = os.path.join(d, "clicks"), os.path.join(d, "purchases")
        mk = lambda rows: [(u, f"2024-01-01 00:{m:02d}:00") for u, m in rows]
        for path, rows in [
            (clicks_p, mk([(1, 0), (2, 0), (3, 30)])),
            (purch_p, mk([(1, 10), (2, 40), (3, 35)])),  # u2 outside 15 min
        ]:
            spark.createDataFrame(rows, "user_id long, t string").select(
                "user_id", F.col("t").cast("timestamp").alias("ts")
            ).write.parquet(path)

        cs = spark.readStream.schema(spark.read.parquet(clicks_p).schema).parquet(clicks_p)
        ps = spark.readStream.schema(spark.read.parquet(purch_p).schema).parquet(purch_p)
        joined = correlate_streams(cs, ps, within="15 minutes").select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.ts").alias("click_ts"),
            F.col("r.ts").alias("purchase_ts"),
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("ss_join_out")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {r["user_id"] for r in spark.sql("SELECT * FROM ss_join_out").collect()}
        finally:
            q.stop()
        assert got == {1, 3}  # u2's purchase was 40 min later -> excluded


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark):
    # Left-outer stream-stream join: a click with no purchase inside its
    # 15-minute window must surface as a null-padded row — but only
    # AFTER the watermark closes the row's match window (no future
    # purchase could still match).  Batch 1 carries the matched pair and
    # the orphan; batch 2 advances both event-time watermarks far past
    # the orphan's window; batch 3 is the filler that lets the post-batch
    # watermark take effect (watermark lags one batch).
    from scats_transis_kinesis_spark.streaming.pipeline import correlate_streams

    with tempfile.TemporaryDirectory() as d:
        clicks_p, purch_p = os.path.join(d, "clicks"), os.path.join(d, "purchases")

        def emit(path, rows, batch):
            sub = os.path.join(path, f"b{batch}")
            spark.createDataFrame(rows, "user_id long, t string").select(
                "user_id", F.col("t").cast("timestamp").alias("ts")
            ).coalesce(1).write.parquet(sub)
            stamp = 1_700_000_000 + batch * 60
            for root, _, files in os.walk(sub):
                for f in files:
                    os.utime(os.path.join(root, f), (stamp, stamp))

        emit(clicks_p, [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:00:00")], 1)
        emit(purch_p, [(1, "2024-01-01 00:10:00")], 1)

        cs = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(clicks_p, "*"))
        )
        ps = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(purch_p, "*"))
        )
        joined = correlate_streams(cs, ps, within="15 minutes", how="left_outer").select(
            F.col("l.user_id").alias("user_id"),
            F.col("r.ts").alias("purchase_ts"),
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("ss_louter_out")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            first = {
                (r["user_id"], r["purchase_ts"] is not None)
                for r in spark.sql("SELECT * FROM ss_louter_out").collect()
            }
            # The orphan must NOT have been emitted yet: its window is
            # still open (a purchase could arrive).
            assert first == {(1, True)}, first

            for batch in (2, 3):
                emit(clicks_p, [(9, "2024-01-01 02:00:00")], batch)
                emit(purch_p, [(9, "2024-01-01 02:00:00")], batch)
                q.processAllAvailable()
            got = {
                (r["user_id"], r["purchase_ts"] is not None)
                for r in spark.sql("SELECT * FROM ss_louter_out").collect()
            }
        finally:
            q.stop()
        assert (2, False) in got, got  # the orphan, null-padded
        assert (1, True) in got and (9, True) in got


def test_kinesis_sink_batch_replay_is_idempotent(spark):
    # A replayed micro-batch (same batch_id after crash-restart between
    # sink write and checkpoint commit) must not double-send when the
    # commit-marker dir is configured.
    with tempfile.TemporaryDirectory() as d:
        stub_dir = os.path.join(d, "stub")
        os.makedirs(stub_dir)
        writer = KinesisBatchWriter(
            client_factory=lambda: ThrottlingKinesisStub(state_dir=stub_dir),
            stream_name="scats",
            partition_key_col="region",
            backoff_s=0.01,
            committed_marker_dir=os.path.join(d, "commits"),
        )
        df = spark.createDataFrame([("ROZ", "1")], "region string, site_id string").coalesce(1)
        writer.write_batch(df, batch_id=7)
        writer.write_batch(df, batch_id=7)  # replay: skipped
        writer.write_batch(df, batch_id=8)  # new batch: delivered
        assert len(ThrottlingKinesisStub(state_dir=stub_dir).sent_records()) == 2


def test_windowed_agg_drops_data_beyond_watermark(spark):
    # Late-data semantics: in append mode a window is finalized once the
    # watermark passes its end; an event arriving later for that window
    # is dropped, not double-counted.
    from datetime import datetime

    from scats_transis_kinesis_spark.streaming.pipeline import windowed_traffic

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "events")
        schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

        def write(path, rows):
            import glob
            import shutil

            staging = path + ".staging"
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            shutil.move(glob.glob(os.path.join(staging, "part-*.parquet"))[0], path)
            shutil.rmtree(staging)
            # distinct mtimes pin the file-source processing order
            write.clock += 10
            os.utime(path, (write.clock, write.clock))

        write.clock = 1_700_000_000
        t = lambda m: datetime(2024, 1, 1, 0, m, 30)
        # batch 1: two events in the 00:00 window; batch 2 jumps event
        # time to 01:00 (watermark -> ~00:50, far past 00:05); the last
        # batch is a LATE event for the already-finalized 00:00 window.
        write(os.path.join(src, "f1.parquet"), [(1, t(0), 1, "click", 1.0, None), (2, t(2), 1, "click", 1.0, None)])
        write(os.path.join(src, "f2.parquet"), [(3, datetime(2024, 1, 1, 1, 0, 0), 1, "click", 1.0, None)])
        # the watermark computed from f2 only takes effect one batch
        # later (progress reports it post-batch), so a filler batch sits
        # between the advance and the late arrival
        write(os.path.join(src, "f3.parquet"), [(5, datetime(2024, 1, 1, 1, 1, 0), 1, "click", 1.0, None)])
        write(os.path.join(src, "f4.parquet"), [(4, t(1), 1, "click", 99.0, None)])

        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            windowed_traffic(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("late_out")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = {
                (r["window_start"].isoformat(), r["n_events"], r["total_value"])
                for r in spark.sql("SELECT * FROM late_out").collect()
            }
        finally:
            q.stop()
        # the 00:00 window was emitted with exactly the 2 on-time events;
        # the late 99.0-value event never re-opened it
        assert ("2024-01-01T00:00:00", 2, 2.0) in rows, rows
        assert not any(v == 99.0 or v == 101.0 for (_, _, v) in rows), rows


def test_stream_dedup_drops_redelivered_events(spark):
    from datetime import datetime

    from scats_transis_kinesis_spark.streaming.pipeline import dedup_stream

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "events")
        schema = "event_id long, ts timestamp"

        def write(path, rows):
            import glob
            import shutil

            staging = path + ".staging"
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            shutil.move(glob.glob(os.path.join(staging, "part-*.parquet"))[0], path)
            shutil.rmtree(staging)

        t0 = datetime(2024, 1, 1, 0, 0, 0)
        # batch 2 re-delivers event 1 (a reconnect replay) and adds 3
        write(os.path.join(src, "f1.parquet"), [(1, t0), (2, t0)])
        write(os.path.join(src, "f2.parquet"), [(1, t0), (3, t0)])

        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            dedup_stream(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_out")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            ids = [r["event_id"] for r in spark.sql("SELECT * FROM dedup_out").collect()]
        finally:
            q.stop()
        assert sorted(ids) == [1, 2, 3], ids  # the replayed copy of 1 is gone


def test_corpus_ingest_stream_filters_and_dedups(spark):
    """Streaming corpus curation: low-quality docs drop at the quality
    screen; an exact re-crawl of the same text inside the watermark
    horizon dedups on the content hash; distinct good docs pass."""
    from datetime import datetime

    from scats_transis_kinesis_spark.streaming.pipeline import corpus_ingest_stream

    good = (
        "the quick brown fox jumps over the lazy dog and runs on with "
        "a steady calm pace for the rest of the day in the sun"
    )
    good2 = good.replace("fox", "cat")
    junk = "@@@@ #### !!!! %%%% ^^^^ &&&& **** (((( )))) ____"

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "docs")
        schema = "doc_id long, text string, ingest_ts timestamp"

        def write(path, rows):
            import glob
            import shutil

            staging = path + ".staging"
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            shutil.move(glob.glob(os.path.join(staging, "part-*.parquet"))[0], path)
            shutil.rmtree(staging)

        t0 = datetime(2024, 1, 1, 0, 0, 0)
        write(os.path.join(src, "f1.parquet"), [(1, good, t0), (2, junk, t0)])
        # batch 2: re-crawl of doc 1's exact text + a new distinct doc
        write(os.path.join(src, "f2.parquet"), [(3, good, t0), (4, good2, t0)])

        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            corpus_ingest_stream(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("ingest_out")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql("SELECT doc_id, quality FROM ingest_out").collect()
        finally:
            q.stop()
        kept = sorted(r["doc_id"] for r in rows)
        # junk (2) fails the quality screen; the re-crawl (3) dedups
        # against doc 1's hash inside the horizon.
        assert kept == [1, 4], rows
        assert all(r["quality"] >= 0.5 for r in rows)


def test_incremental_exact_dedup_across_runs(spark):
    """Cross-run exact dedup against the persisted seen-hash table:
    run 2 drops docs whose text was kept by run 1 (and within-batch
    copies), and appends only the new hashes."""
    import tempfile as _tf

    from scats_transis_kinesis_spark.operators.dedup import incremental_exact_dedup

    with _tf.TemporaryDirectory() as d:
        state = os.path.join(d, "seen")
        run1 = spark.createDataFrame(
            [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
            "doc_id long, text string",
        )
        out1 = incremental_exact_dedup(run1, state)
        kept1 = sorted(r["doc_id"] for r in out1.collect())
        assert kept1 == [1, 2]  # within-batch copy (3) keeps min id

        run2 = spark.createDataFrame(
            [(10, "alpha text"), (11, "gamma text"), (12, "gamma text")],
            "doc_id long, text string",
        )
        out2 = incremental_exact_dedup(run2, state)
        kept2 = sorted(r["doc_id"] for r in out2.collect())
        assert kept2 == [11]  # alpha seen in run 1; gamma keeps min id

        n_hashes = spark.read.parquet(state).count()
        assert n_hashes == 3  # alpha, beta, gamma — one row per distinct text


def test_incremental_minhash_dedup_across_runs(spark):
    """Cross-run NEAR-dup dedup against the persisted signature table:
    run 2 drops a near-duplicate (one word changed) of a run-1 doc via
    the banded candidate join + signature-estimated Jaccard, drops the
    larger id of a within-batch near-dup pair, keeps novel docs, and
    appends only the survivors' signatures."""
    import tempfile as _tf

    from scats_transis_kinesis_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sleepy pandas watch from a bamboo grove near the quiet river "
        "bend under an amber autumn sky before the long rains arrive"
    )
    near = base.replace("amber", "golden")  # 1 of ~33 words changed
    other = (
        "completely different content about distributed query engines "
        "partitioning shuffles broadcast joins and columnar scan pruning "
        "with adaptive execution and whole stage code generation stages"
    )
    other_near = other.replace("adaptive", "runtime")

    with _tf.TemporaryDirectory() as d:
        state = os.path.join(d, "sigs")
        run1 = spark.createDataFrame(
            [(1, base), (2, other)], "doc_id long, text string"
        )
        kept1 = sorted(r["doc_id"] for r in incremental_minhash_dedup(run1, state).collect())
        assert kept1 == [1, 2]

        run2 = spark.createDataFrame(
            [(10, near), (11, "a fresh unrelated tiny document about gardens "
                              "growing tomatoes herbs and sunflowers in spring"),
             (12, other_near)],
            "doc_id long, text string",
        )
        # 10 ~ run-1 doc 1 (cross-run near-dup) and 12 ~ run-1 doc 2 —
        # both dropped against history; 11 is novel.
        kept2 = sorted(r["doc_id"] for r in incremental_minhash_dedup(run2, state).collect())
        assert kept2 == [11]

        # Within-batch: two near-dup variants arriving together keep the
        # smaller id only (neither matches history).
        run3 = spark.createDataFrame(
            [(20, "silver mountain trails wind through ancient cedar forests "
                  "toward a hidden lake where herons nest every summer season"),
             (21, "silver mountain trails wind through ancient cedar forests "
                  "toward a hidden lake where herons nest every winter season")],
            "doc_id long, text string",
        )
        kept3 = sorted(r["doc_id"] for r in incremental_minhash_dedup(run3, state).collect())
        assert kept3 == [20]

        # State holds one signature row per KEPT doc: 1, 2, 11, 20.
        assert spark.read.parquet(state).count() == 4

        # A state row written under a different signature version must
        # fail loudly — cross-family signatures never match, so running
        # on would silently re-admit every historical near-dup.
        stale = spark.read.parquet(state).limit(1).withColumn(
            "sig_version", F.lit(1)
        )
        stale.write.mode("append").parquet(state)
        run4 = spark.createDataFrame([(30, other)], "doc_id long, text string")
        with pytest.raises(Exception, match="signature version"):
            incremental_minhash_dedup(run4, state)


def test_decayed_counter_fn_emits_lagging_batch_hours():
    """A micro-batch whose hours span more than the horizon must still
    emit EVERY observed hour with its full in-horizon decay terms —
    pruning applies to stored state only, never to emission (batch
    parity)."""
    import pandas as pd

    from scats_transis_kinesis_spark.streaming.stateful import (
        decayed_counter_fn,
    )

    class FakeState:
        def __init__(self, value=None):
            self._v = value

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    # State carries hour 5 (count 4); the batch contains hours 10 and 26.
    st = FakeState(([5], [4]))
    pdf = pd.DataFrame({"hour_epoch": [10, 10, 26]})
    [out] = list(decayed_counter_fn(("click",), iter([pdf]), st))
    rows = {r.hour_epoch: (r.n_events, r.decayed_micros) for r in out.itertuples()}
    # Hour 10 sees the lag-5 term from hour 5: 4e6/32 = 125000, plus its
    # own 2e6.
    assert rows[10] == (2, 2_000_000 + 125_000)
    # Hour 26 is beyond hour 10's horizon contribution? lag 16 < 20, so
    # hour 10 decays in: 2e6/2^16 ≈ 30.52 → 31 (HALF_UP); hour 5 is at
    # lag 21, outside the horizon.
    assert rows[26] == (1, 1_000_000 + 31)
    # Stored state keeps TWO horizons behind hour 26 (h > 26-40 = -14),
    # so a late hour admitted by a sub-horizon watermark still re-emits
    # with exact decay terms; hour 5 is therefore retained.
    kept_hours, _ = st.get
    assert sorted(kept_hours) == [5, 10, 26]
    # And an hour beyond two horizons IS pruned: advance with hour 70.
    [out2] = list(
        decayed_counter_fn(("click",), iter([pd.DataFrame({"hour_epoch": [70]})]), st)
    )
    kept2, _ = st.get
    assert sorted(kept2) == [70]  # 5/10/26 are ≤ 70-40 = 30


# --- live-source checkpoint recovery (S1 + O6: the replay story the
# reference's recursive reconnect loop lacks) -----------------------------


def _live_feed_transport(tmp_path):
    """A mock live feed that CONTINUES across connections: a position
    file records how many bytes have been served, so a restarted query's
    fresh pump receives only what a real long-lived socket would deliver
    next — never a rewind of history."""
    src = tmp_path / "feed.bin"
    pos = tmp_path / "feed.pos"
    src.write_bytes(b"")
    mock = tmp_path / "transport.py"
    mock.write_text(
        "import os\n"
        f"SRC = {str(src)!r}\n"
        f"POS = {str(pos)!r}\n"
        "def make_stream():\n"
        "    p = int(open(POS).read()) if os.path.exists(POS) else 0\n"
        "    data = open(SRC, 'rb').read()\n"
        "    while p < len(data):\n"
        "        chunk = data[p:p + 7]\n"
        "        p += len(chunk)\n"
        "        with open(POS, 'w') as f:\n"
        "            f.write(str(p))\n"
        "        yield chunk\n"
    )
    def feed(docs):
        with open(src, "ab") as f:
            for d in docs:
                f.write(d.encode("utf-8") + b"\x00")
    return f"{mock}:make_stream", feed


def test_live_reader_spool_replays_across_instances(tmp_path):
    """Reader-level recovery contract: a FRESH reader instance (as after
    a restart — the prefetch cache is gone) replays any uncommitted
    offset range from the spool journal; commit prunes all but the
    newest fully-committed file; a spool-less reader fails loudly."""
    import pytest as _pytest

    from scats_transis_kinesis_spark.sources.datasource import (
        TransisXMLLiveStreamReader,
    )

    spec, feed = _live_feed_transport(tmp_path)
    docs = [f'<doc id="{i}"/>' for i in range(5)]
    feed(docs)
    opts = {
        "transport": spec,
        "spooldir": str(tmp_path / "spool"),
        "maxdocspertrigger": "2",
    }
    r1 = TransisXMLLiveStreamReader(opts)
    off0 = r1.initialOffset()
    _rows, off1 = r1.read(off0)          # [0, 2)
    _rows, off2 = r1.read(off1)          # [2, 4)
    _rows, off3 = r1.read(off2)          # [4, 5)
    assert (off1, off2, off3) == (
        {"n_docs": 2}, {"n_docs": 4}, {"n_docs": 5}
    )
    r1.commit(off1)
    r1.commit(off2)  # prunes [0,2), retains [2,4) (newest committed)

    r2 = TransisXMLLiveStreamReader(opts)  # fresh instance, no pump
    assert [v for (v,) in r2.readBetweenOffsets(off1, off3)] == docs[2:5]
    assert [v for (v,) in r2.readBetweenOffsets(off2, off3)] == docs[4:5]
    assert list(r2.readBetweenOffsets(off3, off3)) == []
    with _pytest.raises(RuntimeError, match="cannot replay"):
        list(r2.readBetweenOffsets(off0, off1))  # pruned range

    r3 = TransisXMLLiveStreamReader({"transport": spec})
    with _pytest.raises(ValueError, match="spoolDir"):
        list(r3.readBetweenOffsets(off1, off2))


def test_live_reader_replays_journaled_suffix_after_crash(tmp_path):
    """Crash between the spool write and Spark's offset-log commit: the
    journaled documents were already consumed from the live transport
    (a socket cannot re-deliver them), so the restarted reader's next
    batch must REPLAY the journaled suffix first and only then continue
    with fresh transport output — no document lost, no offset
    mislabeled, no overlapping journal files."""
    from scats_transis_kinesis_spark.sources.datasource import (
        TransisXMLLiveStreamReader,
    )

    spec, feed = _live_feed_transport(tmp_path)
    feed(['<doc id="A"/>', '<doc id="B"/>'])
    opts = {"transport": spec, "spooldir": str(tmp_path / "spool")}

    r1 = TransisXMLLiveStreamReader(opts)
    # Run 1 consumed this document from the socket and journaled it, but
    # crashed before Spark's offset log recorded the batch.
    r1._spool_write(0, [("<doc id='consumed-pre-crash'/>",)])

    # Run 2 restarts at offset 0: the journaled doc leads the batch,
    # fresh transport docs follow at the next offsets.
    rows, off = r1.read(r1.initialOffset())
    assert [v for (v,) in rows] == [
        "<doc id='consumed-pre-crash'/>",
        '<doc id="A"/>',
        '<doc id="B"/>',
    ]
    assert off == {"n_docs": 3}

    # The journal now covers [0,1) + [1,3) with no overlap, and a FRESH
    # instance can replay the whole committed range.
    names = sorted(p.name for p in (tmp_path / "spool").iterdir())
    assert names == [
        "000000000000-000000000001.spool",
        "000000000001-000000000003.spool",
    ]
    r2 = TransisXMLLiveStreamReader(opts)
    replayed = [v for (v,) in r2.readBetweenOffsets({"n_docs": 0}, off)]
    assert replayed == [
        "<doc id='consumed-pre-crash'/>",
        '<doc id="A"/>',
        '<doc id="B"/>',
    ]


def test_live_stream_checkpoint_restart_replays_then_resumes(spark, tmp_path):
    """End-to-end kill/restart mid-stream: query 1 consumes three
    documents and stops; the newest commit-log entry is removed
    (crash-before-commit: the batch is in the offset log but not the
    commit log); the feed then grows.  The restarted query must first
    REPLAY the uncommitted batch exactly (from the spool journal — the
    wrapper's prefetch cache died with query 1) and then resume the
    live feed with no duplicates and no gaps."""
    from scats_transis_kinesis_spark.sources.datasource import (
        register_transis_datasource,
    )

    register_transis_datasource(spark)
    spec, feed = _live_feed_transport(tmp_path)
    docs1 = [f'<doc id="{i}"/>' for i in range(3)]
    feed(docs1)
    ckpt = tmp_path / "ckpt"

    def run_query(sink):
        return (
            spark.readStream.format("transis_xml")
            .option("transport", spec)
            .option("spoolDir", str(tmp_path / "spool"))
            .option("maxDocsPerTrigger", "2")
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: sink.append(
                    (bid, [r.value for r in df.collect()])
                )
            )
            .option("checkpointLocation", str(ckpt))
            .trigger(processingTime="0 seconds")
            .start()
        )

    run1: list = []
    q = run_query(run1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert [v for _, vs in run1 for v in vs] == docs1

    commits = sorted(
        (p for p in (ckpt / "commits").iterdir() if p.name.isdigit()),
        key=lambda p: int(p.name),
    )
    replayed = dict(run1)[int(commits[-1].name)]
    assert replayed, "newest batch unexpectedly empty"
    commits[-1].unlink()
    # the local ChecksumFs keeps a hidden .N.crc sidecar; a stale one
    # makes the re-written commit file fail its rename on restart
    crc = commits[-1].parent / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()

    docs2 = [f'<doc id="{i}"/>' for i in (3, 4)]
    feed(docs2)

    run2: list = []
    q = run_query(run2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flat2 = [v for _, vs in run2 for v in vs]
    assert flat2[: len(replayed)] == replayed, flat2
    assert flat2[len(replayed):] == docs2, flat2


def test_incremental_embedding_dedup_across_runs(spark):
    """Cross-run embedding near-dup dedup against the persisted vector
    table: run 2 drops a vector whose exact cosine against a run-1
    vector crosses the threshold (sign-LSH banded candidate join),
    drops the larger id of a within-batch near-dup pair, keeps novel
    vectors, and appends only the survivors."""
    import tempfile as _tf

    from scats_transis_kinesis_spark.operators.dedup import (
        incremental_embedding_dedup,
    )

    dims = 32
    v1 = [1.0] * dims                      # buckets: all-ones per band
    v1_near = [1.0] * (dims - 1) + [0.9]   # same sign pattern, cos ~ 1
    v2 = [1.0 if i % 2 == 0 else -1.0 for i in range(dims)]  # cos(v1,v2)=0
    v3 = [-1.0] * dims                     # cos(v1,v3) = -1
    v3_near = [-1.0] * (dims - 1) + [-0.9]

    with _tf.TemporaryDirectory() as d:
        state = os.path.join(d, "vecs")
        run1 = spark.createDataFrame(
            [(1, v1), (2, v2)], "vec_id long, embedding array<double>"
        )
        kept1 = sorted(
            r["vec_id"]
            for r in incremental_embedding_dedup(run1, state).collect()
        )
        assert kept1 == [1, 2]

        run2 = spark.createDataFrame(
            [(10, v1_near), (11, v3), (12, v3_near)],
            "vec_id long, embedding array<double>",
        )
        # 10 ~ run-1 vector 1 (cross-run near-dup, same sign buckets,
        # cos ~ 1) — dropped against history; 11 is novel (negative /
        # zero cosine to all history); 12 ~ 11 within-batch → larger id
        # dropped.
        kept2 = sorted(
            r["vec_id"]
            for r in incremental_embedding_dedup(run2, state).collect()
        )
        assert kept2 == [11]

        # State holds one vector row per KEPT id: 1, 2, 11.
        assert spark.read.parquet(state).count() == 3

        # A state row under a different version must fail loudly —
        # vectors from another encoder/banding are not comparable.
        stale = spark.read.parquet(state).limit(1).withColumn(
            "emb_version", F.lit(99)
        )
        stale.write.mode("append").parquet(state)
        run3 = spark.createDataFrame(
            [(30, v2)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(Exception, match="different version"):
            incremental_embedding_dedup(run3, state)


# ----------------------------------------------------- PSI drift monitor


def _smoothed_shares(counts, smooth=0.5):
    tot = sum(counts)
    return [(c + smooth) / (tot + smooth * len(counts)) for c in counts]


def test_psi_of_bucket_counts_zero_when_stream_matches_reference(spark):
    from scats_transis_kinesis_spark.streaming.pipeline import (
        psi_of_bucket_counts,
    )

    # Reference shares smoothed from the SAME counts the window carries
    # -> cur_share == ref_share bucket-for-bucket -> psi exactly 0.
    w = "2024-01-01 00:00:00"
    counts = spark.createDataFrame(
        [(w, 0, 6), (w, 1, 3), (w, 2, 1)],
        "window_start string, bucket int, n long",
    ).select(
        F.col("window_start").cast("timestamp").alias("window_start"),
        "bucket",
        "n",
    )
    out = psi_of_bucket_counts(counts, _smoothed_shares([6, 3, 1])).collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 10
    assert out[0]["psi"] == 0.0


def test_psi_of_bucket_counts_penalizes_missing_bucket_by_hand(spark):
    import math

    from scats_transis_kinesis_spark.streaming.pipeline import (
        psi_of_bucket_counts,
    )

    # Window has NO rows in bucket 1: its smoothed share must still
    # enter the sum (the hand-computed value below includes it).
    ref = _smoothed_shares([5, 5])
    w = "2024-01-01 01:00:00"
    counts = spark.createDataFrame(
        [(w, 0, 8)], "window_start string, bucket int, n long"
    ).select(
        F.col("window_start").cast("timestamp").alias("window_start"),
        "bucket",
        "n",
    )
    cur = [(8 + 0.5) / 9.0, 0.5 / 9.0]
    want = round(
        sum((c - r) * math.log(c / r) for c, r in zip(cur, ref)), 6
    )
    out = psi_of_bucket_counts(counts, ref).collect()[0]
    assert out["n_events"] == 8
    assert out["psi"] == want and out["psi"] > 0.5


def test_psi_drift_monitor_stream_counts_match_batch(spark):
    from scats_transis_kinesis_spark.streaming.pipeline import (
        bucketize_against_reference,
        psi_drift_monitor,
    )

    cutpoints = [3.0, 9.0]  # 3 buckets over `value`
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "events")
        _write_events_parquet(spark, src)
        batch_df = spark.read.parquet(src)
        expected = {
            (r["window_start"].isoformat(), r["bucket"], r["n"])
            for r in (
                bucketize_against_reference(batch_df, cutpoints)
                .groupBy(
                    F.window("ts", "5 minutes").alias("win"), "bucket"
                )
                .agg(F.count("*").cast("long").alias("n"))
                .select(
                    F.col("win.start").alias("window_start"), "bucket", "n"
                )
                .collect()
            )
        }

        stream = (
            spark.readStream.schema(batch_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            psi_drift_monitor(stream, cutpoints)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("psi_out")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["window_start"].isoformat(), r["bucket"], r["n"])
                for r in spark.sql("SELECT * FROM psi_out").collect()
            }
        finally:
            q.stop()
        assert got == expected


def test_run_psi_monitor_end_to_end_appends_closed_windows(spark):
    import math

    from scats_transis_kinesis_spark.streaming.pipeline import (
        run_psi_monitor,
    )

    cutpoints = [5.0]
    ref = _smoothed_shares([5, 5])
    with tempfile.TemporaryDirectory() as d:
        src, out = os.path.join(d, "ev"), os.path.join(d, "psi")

        def emit(rows, batch):
            sub = os.path.join(src, f"b{batch}")
            spark.createDataFrame(rows, "t string, value double").select(
                F.col("t").cast("timestamp").alias("ts"), "value"
            ).coalesce(1).write.parquet(sub)
            stamp = 1_700_000_000 + batch * 60
            for root, _, files in os.walk(sub):
                for f in files:
                    os.utime(os.path.join(root, f), (stamp, stamp))

        # Window 00:00–00:05 — 3 low values, 1 high.
        emit(
            [
                ("2024-01-01 00:00:10", 1.0),
                ("2024-01-01 00:01:00", 2.0),
                ("2024-01-01 00:02:00", 3.0),
                ("2024-01-01 00:03:00", 9.0),
            ],
            1,
        )
        # Far-future batches: advance the watermark past the window,
        # then a filler so the post-batch watermark takes effect.
        emit([("2024-01-01 06:00:00", 1.0)], 2)
        emit([("2024-01-01 07:00:00", 1.0)], 3)

        q = run_psi_monitor(
            spark.readStream.schema("ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*")),
            cutpoints,
            ref,
            out,
            os.path.join(d, "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        rows = {
            r["window_start"].isoformat(): (r["n_events"], r["psi"])
            for r in spark.read.parquet(out).collect()
        }
        cur = [3.5 / 5.0, 1.5 / 5.0]  # (3+0.5)/(4+1), (1+0.5)/(4+1)
        want = round(
            sum((c - r) * math.log(c / r) for c, r in zip(cur, ref)), 6
        )
        assert rows["2024-01-01T00:00:00"] == (4, want), rows


def test_apply_cdc_stream_end_to_end(spark):
    from scats_transis_kinesis_spark.streaming.pipeline import (
        apply_cdc_stream,
        read_cdc_snapshot,
    )

    with tempfile.TemporaryDirectory() as d:
        src, snap = os.path.join(d, "chg"), os.path.join(d, "snap")

        def emit(rows, batch):
            sub = os.path.join(src, f"b{batch}")
            spark.createDataFrame(
                rows, "k long, seq long, op string, val string"
            ).coalesce(1).write.parquet(sub)
            stamp = 1_700_000_000 + batch * 60
            for root, _, files in os.walk(sub):
                for f in files:
                    os.utime(os.path.join(root, f), (stamp, stamp))

        # Batch A: insert k1, k2; within-batch k1 updated (seq wins).
        emit(
            [(1, 1, "u", "a"), (1, 2, "u", "a2"), (2, 3, "u", "b")], 1
        )
        # Batch B: update k1, delete k2, insert k3; k4 insert+delete in
        # the SAME batch at the same seq — delete outranks on the tie.
        emit(
            [
                (1, 4, "u", "a3"),
                (2, 5, "d", None),
                (3, 6, "u", "c"),
                (4, 7, "u", "x"),
                (4, 7, "d", None),
            ],
            2,
        )
        q = apply_cdc_stream(
            spark.readStream.schema("k long, seq long, op string, val string")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*")),
            snap,
            os.path.join(d, "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r["k"]: (r["seq"], r["val"])
            for r in read_cdc_snapshot(spark, snap).collect()
        }
        assert got == {1: (4, "a3"), 3: (6, "c")}

        # Crash-replay idempotence: the final version rebuilt from its
        # predecessor + the same batch content is byte-identical.  Both
        # versions exist (v=0, v=1 for the two file-batches).
        import re

        versions = sorted(
            int(m.group(1))
            for v in os.listdir(snap)
            if (m := re.fullmatch(r"v=(\d+)", v))
        )
        assert len(versions) == 2
        replay_base = {
            r["k"]: (r["seq"], r["val"])
            for r in read_cdc_snapshot(
                spark, snap, before=versions[-1]
            ).collect()
        }
        assert replay_base == {1: (2, "a2"), 2: (3, "b")}


def test_apply_cdc_stream_resumes_from_checkpoint(spark):
    # Stop after two batches, add a third change file, restart with the
    # SAME checkpoint: the new query continues from the committed
    # snapshot instead of re-reading history.
    from scats_transis_kinesis_spark.streaming.pipeline import (
        apply_cdc_stream,
        read_cdc_snapshot,
    )

    with tempfile.TemporaryDirectory() as d:
        src, snap, ckpt = (
            os.path.join(d, "chg"),
            os.path.join(d, "snap"),
            os.path.join(d, "ckpt"),
        )

        def emit(rows, batch):
            sub = os.path.join(src, f"b{batch}")
            spark.createDataFrame(
                rows, "k long, seq long, op string, val string"
            ).coalesce(1).write.parquet(sub)
            stamp = 1_700_000_000 + batch * 60
            for root, _, files in os.walk(sub):
                for f in files:
                    os.utime(os.path.join(root, f), (stamp, stamp))

        def start():
            return apply_cdc_stream(
                spark.readStream.schema(
                    "k long, seq long, op string, val string"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(src, "*")),
                snap,
                ckpt,
            )

        emit([(1, 1, "u", "a"), (2, 2, "u", "b")], 1)
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        emit([(2, 3, "d", None), (3, 4, "u", "c")], 2)
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r["k"]: r["val"]
            for r in read_cdc_snapshot(spark, snap).collect()
        }
        assert got == {1: "a", 3: "c"}
