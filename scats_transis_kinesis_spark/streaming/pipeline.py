"""Structured Streaming pipeline — the engine's form of the reference's
per-document driver loop (reference: transis_kinesis_connector.py:19-26).

The reference's stream is implicitly windowed at the source: one
document per 5-minute collection period, arriving ~3 minutes after the
window closes (field name ``collectionendtimestamp_plus_3_mins``,
reference: transis_response_models.py:25,38; SURVEY.md §1.4).  The
Spark form makes both explicit: tumbling ``window(ts, '5 minutes')`` +
``withWatermark`` sized to the systematic arrival delay with headroom
(10 minutes — first data can take ~10 min, reference:
transis_consumer.py:126).

Batch/streaming parity: these transforms accept either a batch or a
streaming DataFrame — the flagship registry query is the batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

WATERMARK = "10 minutes"
WINDOW = "5 minutes"


def scats_records(docs: DataFrame, stamp_received_ts: bool = False) -> DataFrame:
    """§3.1 transform spine: null-delimited XML documents → flat
    detector-count records, batch or streaming alike.

    parse (S3) → fail-stop error assert (P6) → non-empty filter (P7) →
    explode messages (F1) → project/rename/map-pivot (P1–P3).  Mirrors
    the reference's per-document loop (reference:
    transis_kinesis_connector.py:19-26, 37-38) as one declarative plan —
    every step is a narrow transformation, so the streaming form has no
    state and no shuffle before the sink.

    ``stamp_received_ts`` adds the Sydney-local receive timestamp the
    reference stamps on every response (P4, reference:
    transis_response_models.py:286, utils.py:15-19) — off by default
    because the value is wall-clock non-deterministic (golden tests and
    oracles need stable rows)."""
    from ..operators.flatten import explode_messages
    from ..operators.projection import (
        assert_no_error_documents,
        non_empty_responses,
        project_detector_count_record,
    )
    from ..sources.xml import parse_transis_documents

    parsed = assert_no_error_documents(parse_transis_documents(docs))
    if stamp_received_ts:
        from ..functions.timestamps import formatted_current_timestamp

        parsed = parsed.withColumn("response_received_ts", formatted_current_timestamp())
    return project_detector_count_record(
        explode_messages(non_empty_responses(parsed)),
        keep_received_ts=stamp_received_ts,
    )


def run_scats_pipeline(docs_stream: DataFrame, writer, checkpoint_dir: str):
    """The reference's main loop (reference: main.py:21-37,
    transis_kinesis_connector.py:19-26) end-to-end: streaming documents
    → :func:`scats_records` → Kinesis-envelope ``foreachBatch`` sink
    with bounded subset retry.  Returns the started StreamingQuery;
    fail-stop semantics surface as query termination (O5) and restart
    recovery comes from the checkpoint."""
    records = scats_records(docs_stream)
    return writer.attach(records, checkpoint_dir).start()


def windowed_traffic(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Watermarked tumbling-window rollup per (window, event_type) —
    the streaming twin of ``flagship_window_traffic``.

    State size is bounded by the watermark: windows older than 10
    minutes of event time are finalized and evicted."""
    return (
        events.withWatermark(ts_col, WATERMARK)
        .groupBy(F.window(ts_col, WINDOW).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_traffic(events: DataFrame, ts_col: str = "ts", gap: str = "30 minutes") -> DataFrame:
    """Session-window aggregation per user — the streaming twin of the
    batch ``sessionize`` operator (operators/relational.py)."""
    return (
        events.withWatermark(ts_col, WATERMARK)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def enrich_with_topology(events: DataFrame, sites: DataFrame, key: str = "site_id") -> DataFrame:
    """Stream-static join: each micro-batch of detector events joins the
    (slow-changing) topology dimension — Spark re-reads the static side
    per batch, so a refreshed snapshot table picks up automatically.
    The static side broadcasts under the session threshold; the stream
    never shuffles."""
    return events.join(F.broadcast(sites), key, "left")


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "15 minutes",
    watermark: str = WATERMARK,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: right events within ``within``
    AFTER the left event, per key.  Both sides carry watermarks so the
    join state is bounded — a buffered left row can be evicted once the
    right watermark passes left_ts + within (the SCATS shape: correlate
    a detector alarm stream with the detector count stream around the
    alarm).

    ``how="left_outer"`` keeps unmatched left events: Spark emits the
    null-padded row only once the watermark has passed the row's entire
    match window (left_ts + within + delay) — i.e. when no future right
    event could still match — so "alarm with NO counts around it" is
    itself a detectable, bounded-latency output, not silence."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    return l.join(
        r,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {within}")),
        how,
    )


def corpus_ingest_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    min_quality: float = 0.5,
    dedup_horizon: str = "10 minutes",
) -> DataFrame:
    """Streaming corpus curation — the streaming twin of the batch
    ``corpus_clean_pipeline`` query: a continuously arriving document
    stream is quality-filtered and exact-deduped ON THE WAY IN, so the
    lake only ever stores curated text (the rolling-crawl ingest shape
    for a training-data pipeline).

    Stages, all streaming-safe:

    - quality screen: the same deterministic heuristic as the batch
      path (``text.quality_expr`` — pure codegen'd columns, no state);
    - exact dedup: ``dropDuplicatesWithinWatermark`` on the 64-bit
      content hash — state holds one hash per distinct document inside
      the watermark horizon and is evicted as it advances, so memory is
      bounded by (arrival rate × ``dedup_horizon``), not stream length.
      Re-crawls of the same page within the horizon deduplicate here;
      cross-horizon history belongs to the batch layer
      (``dedup.incremental_exact_dedup`` against the persisted seen-
      hash table).

    Rows must carry an event-time column ``ts_col``; emits the curated
    rows plus (content_hash, quality)."""
    from ..functions.hashing import portable_hash64
    from ..operators.text import quality_expr

    return (
        docs.withColumn("quality", quality_expr(text_col))
        .where(F.col("quality") >= min_quality)
        .withColumn("content_hash", portable_hash64(text_col))
        .withWatermark(ts_col, dedup_horizon)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def dedup_stream(events: DataFrame, keys: list[str] | None = None, ts_col: str = "ts") -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within
    the watermark horizon (``dropDuplicatesWithinWatermark``) — the
    streaming twin of the batch dedup family.  State holds one entry
    per key seen inside the watermark window and is evicted as the
    watermark advances, so memory is bounded by arrival rate × horizon,
    not stream length.  The SCATS shape: a reconnect replays the last
    document (reference: transis_consumer.py:141-148); this drops the
    replayed copy."""
    return events.withWatermark(ts_col, WATERMARK).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


# PSI smoothing pseudo-count: keeps an emptied bucket's log-ratio
# finite.  THE single definition — plans/audits.py imports it
# as DRIFT_SMOOTH, so the batch/stream drift contract cannot drift.
PSI_SMOOTH = 0.5


def bucketize_against_reference(
    df: DataFrame, cutpoints: list[float], value_col: str = "value"
) -> DataFrame:
    """Assign each row its reference-quantile bucket (len(cutpoints)+1
    buckets): the count of cutpoints strictly below the value — the
    same ``filter(cs, c -> v > c)`` form as the batch
    ``column_drift_audit``, evaluated against a LITERAL array (the
    cutpoints are a bounded driver-side list; at production scale they
    come from the reference corpus's KLL sketch).  Pure codegen'd
    columns — no state, no shuffle."""
    arr = F.array(*[F.lit(float(c)) for c in cutpoints])
    return df.withColumn(
        "bucket",
        F.size(F.filter(arr, lambda c: F.col(value_col) > c)).cast("int"),
    )


def psi_drift_monitor(
    stream: DataFrame,
    cutpoints: list[float],
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = WINDOW,
    watermark: str = WATERMARK,
) -> DataFrame:
    """Streaming drift counts — the streaming twin of the batch
    ``column_drift_audit``: watermarked tumbling-window per-bucket
    counts of a value distribution against reference cutpoints.  In
    append mode each (window, bucket) count emits exactly once when
    the watermark closes the window; state is bounded by
    (#open windows × #buckets).  Streaming allows one aggregation per
    query, so the per-window PSI fold is the batch side of the sink —
    run :func:`psi_of_bucket_counts` inside ``foreachBatch`` (or over
    the materialized sink table), the same stream/batch split as the
    Kinesis envelope/retry stages."""
    b = bucketize_against_reference(stream, cutpoints, value_col)
    return (
        b.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "bucket")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.col("win.start").alias("window_start"), "bucket", "n")
    )


def psi_of_bucket_counts(
    counts: DataFrame,
    ref_shares: list[float],
    smooth: float = PSI_SMOOTH,
) -> DataFrame:
    """Fold (window_start, bucket, n) counts into one PSI row per
    window against the reference shares (a bounded literal list;
    pass them ALREADY smoothed — the batch audit's
    ``(ref_c + s) / (ref_n + s·n_buckets)`` — so both sides of the
    log-ratio carry the same pseudo-count treatment):

        psi = Σ_buckets (cur − ref) · ln(cur / ref)

    with ``cur = (n + smooth) / (n_win + smooth·n_buckets)`` — the
    exact ``column_drift_audit`` formula.  Buckets absent from a
    window still contribute (their smoothed share vs the reference),
    via a per-window explode of the bounded bucket list.  Batch
    DataFrame in/out; every shuffle is keyed by ``window_start`` and
    the per-window fan-out is |buckets| — scale-free."""
    n_b = len(ref_shares)
    ref = F.array(*[F.lit(float(s)) for s in ref_shares])
    tot = counts.groupBy("window_start").agg(
        F.sum("n").cast("long").alias("n_win")
    )
    full = tot.select(
        "window_start",
        "n_win",
        F.explode(F.sequence(F.lit(0), F.lit(n_b - 1))).alias("bucket"),
    ).join(counts, ["window_start", "bucket"], "left")
    cur = (F.coalesce(F.col("n"), F.lit(0)) + F.lit(smooth)) / (
        F.col("n_win") + F.lit(smooth * n_b)
    )
    rs = F.element_at(ref, F.col("bucket") + 1)
    return (
        full.withColumn("_term", (cur - rs) * F.log(cur / rs))
        .groupBy("window_start")
        .agg(
            F.max("n_win").alias("n_events"),
            F.round(F.sum("_term"), 6).alias("psi"),
        )
    )


def run_psi_monitor(
    stream: DataFrame,
    cutpoints: list[float],
    ref_shares: list[float],
    out_path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = WINDOW,
    watermark: str = WATERMARK,
):
    """End-to-end streaming drift monitor: watermarked per-(window,
    bucket) counts in append mode (each window's counts arrive in the
    micro-batch that closes it, complete) → :func:`psi_of_bucket_counts`
    fold inside ``foreachBatch`` → one PSI row per window appended to a
    parquet audit table.  Crash-replay is idempotent the same way the
    Kinesis sink is: each micro-batch overwrites its own
    ``batch_id=<n>`` partition, so a replayed batch rewrites identical
    rows instead of duplicating them.  Returns the started query."""
    import os

    counts = psi_drift_monitor(
        stream, cutpoints, ts_col, value_col, window, watermark
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        psi_of_bucket_counts(batch_df, ref_shares).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_path, f"batch_id={batch_id}"))

    return (
        counts.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_cdc_snapshot(
    spark, snapshot_dir: str, before: int | None = None
) -> DataFrame | None:
    """Latest committed CDC snapshot version, or ``None`` before the
    first apply.  Versions are ``v=<batch_id>`` subdirectories; the
    newest one is the committed state (a half-written version is
    rewritten wholesale when its batch replays, so reading the max is
    safe once the query reports the batch committed).  ``before``
    restricts to versions strictly below a batch id — what a replayed
    batch must read so its own prior half-write is never its base."""
    import os
    import re

    if not os.path.isdir(snapshot_dir):
        return None
    versions = [
        int(m.group(1))
        for d in os.listdir(snapshot_dir)
        if (m := re.fullmatch(r"v=(\d+)", d))
        and (before is None or int(m.group(1)) < before)
    ]
    if not versions:
        return None
    return spark.read.parquet(
        os.path.join(snapshot_dir, f"v={max(versions)}")
    )


def apply_cdc_stream(
    changes: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    key: str = "k",
    seq_col: str = "seq",
    op_col: str = "op",
):
    """Streaming CDC apply — the change-feed half of a lakehouse MERGE.

    Each micro-batch of change events (``op`` ∈ {'u' upsert,
    'd' delete}; ``seq`` a monotone per-key sequence) is reduced to
    its latest change per key (highest seq; delete outranks upsert on
    a seq tie), then merged into the snapshot: upserts via the batch
    :func:`~..operators.relational.upsert` latest-wins union, deletes
    via anti-join.  The merged state is written to
    ``snapshot_dir/v=<batch_id>`` and the CURRENT state read back is
    the highest committed version — so a crash-replayed batch reads
    the same predecessor version (``max v < batch_id``) and REWRITES
    its own version with identical content instead of double-applying
    (the same batch-id idempotence contract as the Kinesis sink).

    Scale shape: one keyed shuffle per batch over snapshot ∪ changes
    (the MERGE plan shape); on Delta/Iceberg the versioned-directory
    dance becomes the table format's own MVCC commit and the write
    narrows to touched files.  State lives in the table, not the state
    store — the stream itself is stateless, so watermarks are not
    required and a replayed batch needs no retraction logic.
    """
    import os

    from ..operators.relational import upsert

    data_cols = [c for c in changes.columns if c not in (op_col,)]

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # Tie-break: at equal seq the delete wins ('d' sorts before
        # 'u' ascending) — a same-sequence insert+delete nets to gone.
        w = Window.partitionBy(key).orderBy(
            F.desc(seq_col), F.asc(op_col)
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint(eager=True)
        )
        current = read_cdc_snapshot(spark, snapshot_dir, before=batch_id)
        ups = latest.where(F.col(op_col) == "u").select(*data_cols)
        dels = latest.where(F.col(op_col) == "d").select(key)
        merged = upsert(current, ups, key) if current is not None else ups
        merged = merged.join(dels, key, "left_anti")
        merged.write.mode("overwrite").parquet(
            os.path.join(snapshot_dir, f"v={batch_id}")
        )

    return (
        changes.writeStream.outputMode("append")
        .foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
