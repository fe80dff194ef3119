"""The three workloads.  Each times its requests from outside the engine,
around calls into the engine's public functions, and checks what they
produced.

A workload object goes through ``generate`` (seeded inputs, not timed),
``warm_up`` (first executions, counted in ``setup_s``), ``run`` (the timed
window), ``check`` (correctness, outside the window) and, in a traced run,
``layers`` (per-layer readings).
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys
import time

from perfbench import capture
from perfbench.harness import noop
from perfbench.sink import CountingClient, read_sink_log
from perfbench.sparkprobe import (
    busy_ms,
    count_from_xml,
    executed_plan,
    group_jobs_tasks,
    progress_summary,
    read_event_log,
)
from perfbench.stats import median, nproc
from perfbench.trace import Tracer

STREAM = "perfbench"
# On a host so loaded that the fixed request count takes more than this
# many times --seconds, the run stops issuing requests and reports what
# it finished.
WINDOW_CAP = 3


class Result:
    """What the timed window measured."""

    def __init__(self) -> None:
        self.latencies_s: list[float] = []
        self.units = 0  # records accepted, or queries completed
        self.window_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {}


def _mkdir(*parts: str) -> str:
    path = os.path.join(*parts)
    os.makedirs(path, exist_ok=True)
    return path


def _writer(log_dir: str):
    """A Kinesis sink over the counting client that times each
    ``write_batch`` call from outside."""
    from scats_transis_kinesis_spark.streaming.kinesis_sink import KinesisBatchWriter

    class TimedWriter(KinesisBatchWriter):
        def write_batch(self, batch_df, batch_id: int) -> None:
            t = time.monotonic()
            super().write_batch(batch_df, batch_id)
            self.seconds.append(time.monotonic() - t)

    writer = TimedWriter(functools.partial(CountingClient, log_dir), STREAM)
    writer.seconds = []
    return writer


def _write_capture(path: str, seed: int, files: int, docs_per_file: int) -> list[bytes]:
    """Documents ``0 .. files*docs_per_file-1`` of the seed's capture,
    split into ``files`` NUL-delimited segment files under ``path``."""
    os.makedirs(path)
    docs = capture.make_documents(seed, 0, files * docs_per_file)
    for f in range(files):
        chunk = docs[f * docs_per_file:(f + 1) * docs_per_file]
        with open(os.path.join(path, f"segment-{f:03d}.bin"), "wb") as out:
            out.write(b"".join(chunk))
    return docs


_NO_TRACE = Tracer(enabled=False)

# The JIT keeps improving for thousands of documents; warm-up jobs run
# over a larger capture of the same shape to get there in fewer jobs.
WARM_FILES, WARM_DOCS_PER_FILE, WARM_JOBS = 4, 32, 2
# The per-job path (planning, scheduling, the sink's Python workers) needs
# about a dozen jobs of the workload's own size before job times level
# off; fewer left the first quarter of the timed jobs 50-70 % slower.
WARM_OWN_JOBS = 12


def _warm_replay(spark, work: str, small_capture: str, big_capture: str) -> None:
    """A few replay jobs over the larger warm-up capture, then
    ``WARM_OWN_JOBS`` over the workload's own capture."""
    for k, path in enumerate([big_capture] * WARM_JOBS + [small_capture] * WARM_OWN_JOBS):
        _replay_job(spark, path, _writer(_mkdir(work, "warm", str(k))), -1 - k, _NO_TRACE)


def _replay_job(spark, capture_dir: str, writer, batch_id: int, tracer) -> None:
    """One replay job: capture segments → SCATS records → Kinesis sink."""
    from scats_transis_kinesis_spark.sources.xml import read_null_delimited
    from scats_transis_kinesis_spark.streaming.pipeline import scats_records

    with tracer.span("sources.xml.read_null_delimited"):
        docs = read_null_delimited(spark, capture_dir)
    with tracer.span("streaming.pipeline.scats_records"):
        records = scats_records(docs)
    with tracer.span("streaming.kinesis_sink.write_batch"):
        writer.write_batch(records, batch_id)


def _sink_layer(log, write_batch_s: list[float]) -> dict[str, float]:
    # The counting client accepts every record, so the writer neither
    # retries nor fails one; a client that throttles would move these.
    return {
        "streaming.kinesis_sink.write_batch_s": median(write_batch_s) if write_batch_s else 0.0,
        "streaming.kinesis_sink.put_calls": float(log.calls),
        "streaming.kinesis_sink.records_sent": float(log.records),
        "streaming.kinesis_sink.records_retried": 0.0,
        "streaming.kinesis_sink.records_failed": 0.0,
        "streaming.kinesis_sink.records_per_call": log.records / log.calls if log.calls else 0.0,
        "operators.envelope.bytes_per_record": log.nbytes / log.records if log.records else 0.0,
    }


class Workload:
    """Defaults shared by the workloads."""

    def session_conf(self) -> dict[str, str]:
        return {}

    def layers(self, spark, res: Result) -> dict[str, float]:
        return {}

    def layers_after_stop(self) -> dict[str, float]:
        return {}


class CaptureReplay(Workload):
    """Closed loop, one client: back-to-back replay jobs over a fixed,
    seeded set of capture segments."""

    name = "capture_replay"
    files = 4
    docs_per_file = 4
    jobs_per_second = 1.6
    # The per-layer ladder runs over a larger capture of the same shape,
    # so that each layer's share stands clear of the per-job floor.
    ladder_docs_per_file = 16
    ladder_reps = 5

    def __init__(self, seed: int, seconds: int, work: str, tracer) -> None:
        self.seed, self.work, self.tracer, self.seconds = seed, work, tracer, seconds
        self.jobs = max(1, round(seconds * self.jobs_per_second))
        self.capture_dir = os.path.join(work, "capture")
        self.ladder_dir = os.path.join(work, "ladder-capture")
        self.warm_dir = os.path.join(work, "warm-capture")
        self.sink_dir = os.path.join(work, "sink")

    def generate(self) -> None:
        docs = _write_capture(self.capture_dir, self.seed, self.files, self.docs_per_file)
        self.expected = capture.expected_sink(docs)
        _write_capture(self.warm_dir, self.seed, WARM_FILES, WARM_DOCS_PER_FILE)
        if self.tracer.enabled:
            _write_capture(self.ladder_dir, self.seed, self.files, self.ladder_docs_per_file)

    def warm_up(self, spark) -> None:
        _warm_replay(spark, self.work, self.capture_dir, self.warm_dir)

    def run(self, spark) -> Result:
        res = Result()
        sc = spark.sparkContext
        self.write_batch_s: list[float] = []
        t_start = time.monotonic()
        for j in range(self.jobs):
            if time.monotonic() - t_start > WINDOW_CAP * self.seconds:
                break
            writer = _writer(_mkdir(self.sink_dir, f"{j:05d}"))
            self.tracer.request = j
            if self.tracer.enabled:
                sc.setJobGroup(f"replay-{j}", "capture_replay request")
            t = time.monotonic()
            with self.tracer.span("request"):
                _replay_job(spark, self.capture_dir, writer, j, self.tracer)
            res.latencies_s.append(time.monotonic() - t)
            self.write_batch_s.extend(writer.seconds)
        res.window_s = time.monotonic() - t_start
        res.attempted = len(res.latencies_s)
        if self.tracer.enabled:
            self.jobs_tasks = [group_jobs_tasks(sc, f"replay-{j}") for j in range(res.attempted)]
        return res

    def check(self, res: Result, spark) -> None:
        total = read_sink_log(self.sink_dir)
        res.units = total.records
        for j in range(res.attempted):
            got = read_sink_log(os.path.join(self.sink_dir, f"{j:05d}"))
            if (got.records, got.checksum) != self.expected:
                res.failed += 1
        self.sink_total = total

    def layers(self, spark, res: Result) -> dict[str, float]:
        """Cumulative-prefix self times, the parse count of the sink's
        plan, the sink counters and, from an open-loop feed through the
        streaming pipeline, the per-micro-batch breakdown.  A feed that
        fails its check counts its documents as failed requests."""
        from scats_transis_kinesis_spark.operators.envelope import to_kinesis_envelope
        from scats_transis_kinesis_spark.operators.flatten import explode_messages
        from scats_transis_kinesis_spark.operators.projection import (
            assert_no_error_documents,
            non_empty_responses,
            project_detector_count_record,
        )
        from scats_transis_kinesis_spark.sources.xml import (
            parse_transis_documents,
            read_null_delimited,
        )

        steps = [
            ("sources.xml.scan_s", lambda d: d),
            ("sources.xml.parse_s", parse_transis_documents),
            ("operators.projection.failstop_filter_s",
             lambda d: non_empty_responses(assert_no_error_documents(d))),
            ("operators.flatten.explode_s", explode_messages),
            ("operators.projection.project_s", project_detector_count_record),
            ("operators.envelope.envelope_s", to_kinesis_envelope),
        ]
        times: dict[str, list[float]] = {name: [] for name, _ in steps}
        for rep in range(self.ladder_reps):
            df = read_null_delimited(spark, self.ladder_dir)
            for name, step in steps:
                df = step(df)
                self.tracer.request = f"ladder-{rep}"
                t = time.monotonic()
                with self.tracer.span("ladder." + name):
                    noop(df)
                times[name].append(time.monotonic() - t)
        out: dict[str, float] = {}
        prev = 0.0
        for name, _ in steps:
            cum = median(times[name])
            out[name] = cum - prev
            prev = cum
        out["sources.xml.from_xml_per_plan"] = float(count_from_xml(executed_plan(df)))
        out.update(_sink_layer(self.sink_total, self.write_batch_s))
        out["spark.jobs_per_request"] = median([float(j) for j, _ in self.jobs_tasks])
        out["spark.tasks_per_request"] = median([float(t) for _, t in self.jobs_tasks])
        feed = LiveFeed(self.seed, self.work)
        self.tracer.request = "feed"
        try:
            with self.tracer.span("streaming.pipeline.run_scats_pipeline"):
                feed.start(spark)
                feed.run(spark)
        finally:
            feed.close()
        ok, readings = feed.check()
        out.update(readings)
        res.attempted += feed.count
        res.failed += 0 if ok else feed.count
        return out

    def session_conf(self) -> dict[str, str]:
        # keep every micro-batch's progress for the per-batch breakdown
        return {"spark.sql.streaming.numRecentProgressUpdates": "10000"}


class LiveFeed:
    """Open loop on the streaming path: a separate generator process lands
    one capture document per file at a fixed rate, and
    ``run_scats_pipeline`` over ``read_null_delimited_stream`` delivers
    them to the counting sink.  Run inside the traced ``capture_replay``
    run, after its timed window, for the per-micro-batch readings."""

    # Documents per second.  At this rate a micro-batch holds about three
    # one-document files, so its tasks fit in one wave on four cores.
    rate = 6.0
    count = 100
    # documents pushed through the started stream before the timed feed
    warm_docs = 12

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.spool = os.path.join(work, "spool")
        self.staging = os.path.join(work, "staging")
        self.sink_dir = os.path.join(work, "feed-sink")
        self.warm_sink_dir = os.path.join(work, "feed-warm-sink")
        self.checkpoint = os.path.join(work, "checkpoint")
        self.feed_out = os.path.join(work, "feed.json")
        self.query = None

    def start(self, spark) -> None:
        """Start the stream and feed it the warm-up documents at the feed
        rate."""
        from scats_transis_kinesis_spark.sources.xml import read_null_delimited_stream
        from scats_transis_kinesis_spark.streaming.pipeline import run_scats_pipeline

        from perfbench.feedgen import land

        for d in (self.spool, self.staging, self.sink_dir, self.warm_sink_dir):
            os.makedirs(d)
        warm = capture.make_documents(self.seed, 0, self.warm_docs)
        self.writer = _writer(self.warm_sink_dir)
        self.query = run_scats_pipeline(
            read_null_delimited_stream(spark, self.spool), self.writer, self.checkpoint
        )
        t0 = time.monotonic()
        for k, doc in enumerate(warm):
            time.sleep(max(0.0, t0 + k / self.rate - time.monotonic()))
            land(doc, k, self.spool, self.staging)
        if not self._wait_records(self.warm_sink_dir, capture.expected_sink(warm)[0], 60):
            raise RuntimeError("warm-up documents were not delivered")
        # from here on the sink logs only the timed feed
        self.writer.client_factory = functools.partial(CountingClient, self.sink_dir)
        self.warm_batches = len(self.writer.seconds)
        self.warm_progress = len(self.query.recentProgress)

    def _wait_records(self, log_dir: str, n: int, deadline_s: float) -> bool:
        end = time.monotonic() + deadline_s
        while time.monotonic() < end:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if read_sink_log(log_dir).records >= n:
                return True
            time.sleep(0.05)
        return False

    def run(self, spark) -> None:
        t0 = time.monotonic() + 0.5
        gen = subprocess.Popen(
            [sys.executable, "-m", "perfbench.feedgen", "--seed", str(self.seed),
             "--start", str(self.warm_docs), "--count", str(self.count),
             "--rate", str(self.rate), "--t0", repr(t0), "--spool", self.spool,
             "--staging", self.staging, "--out", self.feed_out],
        )
        try:
            gen.wait(timeout=self.count / self.rate + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if gen.returncode != 0:
            raise RuntimeError(f"feed generator exited with {gen.returncode}")
        with open(self.feed_out) as f:
            self.feed = json.load(f)
        self.drained = self._wait_records(self.sink_dir, self.feed["records"], 60)
        self.progress = [
            json.loads(p.json) for p in self.query.recentProgress[self.warm_progress:]
        ]
        self.jobs_tasks = group_jobs_tasks(spark.sparkContext, str(self.query.runId))
        self.close()

    def check(self) -> tuple[bool, dict[str, float]]:
        """Whether the sink got exactly the feed, and the feed's readings.

        Each document is timed from when it was due, not when it was
        written, so a stall counts against every document behind it."""
        log = read_sink_log(self.sink_dir)
        start, due, landed = self.feed["start"], self.feed["due"], self.feed["landed"]
        done = [log.doc_done.get(start + k) for k in range(len(due))]
        latencies = [d - t for d, t in zip(done, due) if d is not None]
        backlog = _backlog(landed, done)
        third = max(1, len(backlog) // 3)
        first = sum(backlog[:third]) / third
        last = sum(backlog[-third:]) / third
        ok = (
            (log.records, log.checksum) == (self.feed["records"], self.feed["checksum"])
            and self.drained
            # an open loop above its sustainable rate builds a queue
            and last <= 2 * first + 4
        )
        out = {"streaming.pipeline." + k: v for k, v in progress_summary(self.progress).items()}
        batches = out.get("streaming.pipeline.batches") or 1.0
        jobs, tasks = self.jobs_tasks
        out.update({
            "streaming.pipeline.doc_latency_p50_ms": median(latencies) * 1000 if latencies else 0.0,
            "streaming.pipeline.jobs_per_batch": jobs / batches,
            "streaming.pipeline.tasks_per_batch": tasks / batches,
            "streaming.pipeline.write_batch_s": median(self.writer.seconds[self.warm_batches:]),
            "sources.xml.backlog_files_max": float(max(backlog)) if backlog else 0.0,
            "generator.lag_ms_max": max(lt - dt for lt, dt in zip(landed, due)) * 1000,
        })
        return ok, out

    def close(self) -> None:
        q, self.query = self.query, None
        if q is not None and q.isActive:
            q.stop()


def _backlog(landed: list[float], done: list[float | None]) -> list[int]:
    """Documents landed but not yet delivered, sampled at each landing.
    Documents that produce no records leave the backlog when they land."""
    out = []
    for t in landed:
        out.append(sum(1 for lt, dt in zip(landed, done)
                       if lt <= t and dt is not None and dt > t))
    return out


# The ordered query list, with each query's family.
FAMILIES = {
    "q1_pricing_summary": "scan_agg",
    "lpa_community_labels": "job_floor",
    "sim_topk_vectorized": "python_kernel",
    "flagship_window_traffic": "scan_agg",
    "association_rules_pairs": "shuffle",
}


class AnalyticsMix(Workload):
    """Closed loop, one client: whole passes over a fixed, ordered list of
    registry queries, each run to the ``noop`` sink."""

    name = "analytics_mix"
    queries = tuple(FAMILIES)
    # 8 passes of 5 queries at --seconds 25: 40 latency samples
    pass_seconds = 3.125
    # The JIT still compiles through the timed passes (tens of seconds of
    # compiler time per run); more warm-up passes did not steady the run
    # enough to pay for their time.
    warm_passes = 2
    lineitem_rows = 60_000

    def __init__(self, seed: int, seconds: int, work: str, tracer) -> None:
        self.seed, self.work, self.tracer, self.seconds = seed, work, tracer, seconds
        self.passes = max(1, round(seconds / self.pass_seconds))
        self.table_dir = os.path.join(work, "tables")
        self.event_dir = os.path.join(work, "eventlog")

    def session_conf(self) -> dict[str, str]:
        if not self.tracer.enabled:
            return {}
        os.makedirs(self.event_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": self.event_dir,
        }

    def generate(self) -> None:
        from perfbench.tables import make_tables, write_tables

        self.tables = make_tables(self.seed, self.lineitem_rows)
        write_tables(self.tables, self.table_dir)

    def _fns(self):
        from scats_transis_kinesis_spark.plans.registry import REGISTRY

        import __spark_entry__  # noqa: F401  (registers every query module)

        return REGISTRY

    def warm_up(self, spark) -> None:
        reg = self._fns()
        for _ in range(self.warm_passes):
            for q in self.queries:
                spark.catalog.clearCache()
                noop(reg[q].fn(spark, self.table_dir))

    def run(self, spark) -> Result:
        res = Result()
        reg = self._fns()
        sc = spark.sparkContext
        self.walls: dict[str, float] = {}  # request id -> wall seconds
        self.errors: dict[str, int] = {}
        self.passes_run = 0
        t_start = time.monotonic()
        for p in range(self.passes):
            if time.monotonic() - t_start > WINDOW_CAP * self.seconds:
                break
            self.passes_run = p + 1
            for k, q in enumerate(self.queries):
                rid = f"{p}-{k}-{q}"
                self.tracer.request = rid
                if self.tracer.enabled:
                    sc.setJobGroup(rid, q)
                spark.catalog.clearCache()
                t = time.monotonic()
                try:
                    with self.tracer.span("plans." + FAMILIES[q]):
                        noop(reg[q].fn(spark, self.table_dir))
                except Exception as e:  # a failing query is counted, not fatal
                    self.errors[q] = self.errors.get(q, 0) + 1
                    res.notes.setdefault("errors", []).append(f"{q}: {str(e)[:200]}")
                    continue
                wall = time.monotonic() - t
                res.latencies_s.append(wall)
                self.walls[rid] = wall
        res.window_s = time.monotonic() - t_start
        res.attempted = self.passes_run * len(self.queries)
        res.units = len(res.latencies_s)
        return res

    def check(self, res: Result, spark) -> None:
        from perfbench.oracle import DuckOracle, digest

        reg = self._fns()
        duck = DuckOracle(self.table_dir, self.tables)
        mismatched = []
        try:
            spark.sparkContext.setJobGroup("check", "correctness check")
            for q in self.queries:
                spark.catalog.clearCache()
                try:
                    df = reg[q].fn(spark, self.table_dir)
                    ok = digest(df.columns, [tuple(r) for r in df.collect()]) == duck.digest(
                        reg[q].oracle
                    )
                except Exception as e:  # a failing check is a mismatch
                    res.notes.setdefault("errors", []).append(f"check {q}: {str(e)[:200]}")
                    ok = False
                if not ok:
                    mismatched.append(q)
        finally:
            duck.close()
        res.notes["mismatched"] = mismatched
        # every execution of a mismatching query produced a wrong answer
        failed = {q: self.passes_run for q in mismatched}
        for q, n in self.errors.items():
            failed[q] = max(failed.get(q, 0), n)
        res.failed = sum(failed.values())
        res.units -= sum(
            self.passes_run - self.errors.get(q, 0) for q in mismatched
        )

    def layers_after_stop(self) -> dict[str, float]:
        """Per-family profile from the event log (written once the
        session stops)."""
        groups = read_event_log(self.event_dir)
        fam: dict[str, dict[str, float]] = {}
        for rid, wall in self.walls.items():
            q = rid.split("-", 2)[2]
            g = groups.get(rid, {"jobs": {}, "run_ms": 0, "shuffle_write": 0, "spill": 0})
            inside = busy_ms(g["jobs"].values()) / 1000
            f = fam.setdefault(FAMILIES[q], {
                "wall_s": 0.0, "jobs": 0.0, "driver_gap_s": 0.0, "run_s": 0.0,
                "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            })
            f["wall_s"] += wall
            f["jobs"] += len(g["jobs"])
            f["driver_gap_s"] += max(0.0, wall - inside)
            f["run_s"] += g["run_ms"] / 1000
            f["shuffle_write_mb"] += g["shuffle_write"] / 1e6
            f["spill_mb"] += g["spill"] / 1e6
        out: dict[str, float] = {}
        for name, f in sorted(fam.items()):
            p = float(self.passes_run)
            pre = f"plans.{name}."
            out[pre + "wall_s"] = f["wall_s"] / p
            out[pre + "jobs"] = f["jobs"] / p
            out[pre + "driver_gap_s"] = f["driver_gap_s"] / p
            out[pre + "executor_busy_share"] = f["run_s"] / (f["wall_s"] * nproc()) if f["wall_s"] else 0.0
            out[pre + "shuffle_write_mb"] = f["shuffle_write_mb"] / p
            out[pre + "spill_mb"] = f["spill_mb"] / p
        runs = [groups.get(rid, {"jobs": {}, "tasks": 0}) for rid in self.walls]
        out["spark.jobs_per_request"] = median([float(len(g["jobs"])) for g in runs])
        out["spark.tasks_per_request"] = median([float(g["tasks"]) for g in runs])
        return out


WORKLOADS = {w.name: w for w in (CaptureReplay, AnalyticsMix)}
