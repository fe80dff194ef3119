"""``format("transis_xml")`` — the reference's live push stream as a
Spark streaming source (Python DataSource API, Spark 4).

The reference consumes a long-lived HTTP stream, accumulates bytes, and
splits records on the NUL byte (transis_consumer.py:115-151, delimiter
split :123-139).  ``spark.readStream.format("transis_xml")
.option("transport", "mypkg.http:open_stream").load()`` gives that
protocol a native Spark surface instead of a driver-side loop: micro-
batches drain an INJECTED long-lived byte stream (a chunked HTTP GET
body in production, a mock in tests) through :class:`LiveStreamConsumer`,
which carries the reference's full live protocol: NUL-delimited record
split at arbitrary chunk boundaries and the bounded, reset-on-data
reconnect budget of transis_consumer.py:141-148.

Captured streams on disk are not read here: ``sources/xml.py``'s
``read_null_delimited[_stream]`` scan them with the built-in text source
(``lineSep='\\x00'``), whose file log tracks seen captures by path, and
``df.write.option("lineSep", "\\x00").text(dir)`` writes them.

Rows are ``value: string`` — one XML document per row, undecoded.
Parsing stays in ``sources/xml.py`` (S3), so the source composes with
the existing pipeline operators unchanged.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StringType, StructField, StructType

from ..streaming.connectors import MAX_RECONNECTS
from .xml import NULL_DELIM

_NUL = NULL_DELIM.encode()  # reference: transis_consumer.py:133

SCHEMA = StructType([StructField("value", StringType(), True)])


class LiveStreamConsumer:
    """The reference's live-stream protocol over an INJECTED transport
    (transis_consumer.py:115-151): accumulate raw chunks from a
    long-lived byte stream, split records on the NUL delimiter, and
    survive transient disconnects with a bounded reconnect budget.

    ``transport_factory`` is any zero-arg callable returning an iterator
    of ``bytes`` chunks — a ``requests`` chunked-GET body in production,
    a list of byte slices in tests.  Chunks may split documents at any
    byte position; unlike the reference's ``chunk_size=1`` loop
    (transis_consumer.py:127) the accumulator handles arbitrary chunk
    sizes, so a production transport can hand over whole socket reads.

    Reconnect semantics mirror transis_consumer.py:141-148 exactly,
    iteratively instead of recursively: a ``ConnectionError`` from the
    transport consumes one attempt and re-invokes the factory; any
    successfully delivered document resets the budget
    (``__reset_connection_attempt_counts`` in the reference); an
    exhausted budget raises.  End-of-stream (the iterator finishing
    normally) ends consumption — only errors burn attempts.
    """

    def __init__(
        self,
        transport_factory,
        max_reconnects: int = MAX_RECONNECTS,
    ) -> None:
        self._factory = transport_factory
        self._max_reconnects = max_reconnects
        self._attempts_remaining = max_reconnects
        self._buffer = b""

    def documents(self) -> Iterator[str]:
        """Yield complete NUL-delimited documents until the stream ends
        or the reconnect budget is exhausted."""
        while True:
            try:
                for chunk in self._factory():
                    if not chunk:
                        continue
                    self._buffer += chunk
                    if _NUL not in chunk:
                        continue
                    *complete, self._buffer = self._buffer.split(_NUL)
                    delivered = False
                    for doc in complete:
                        if doc:  # drop empty fragments, as the reference does
                            delivered = True
                            yield doc.decode("utf-8")
                    if delivered:
                        self._attempts_remaining = self._max_reconnects
                return  # clean end of stream; a trailing partial doc
                # (no NUL yet) is never yielded — reference behavior
            except ConnectionError:
                if self._attempts_remaining <= 0:
                    raise RuntimeError(
                        f"{self._max_reconnects} attempts to reconnect to the "
                        "stream were made without success."
                    )
                self._attempts_remaining -= 1
                # The reference's recursive retry re-enters with a fresh
                # accumulator (transis_consumer.py:123,144-146): a
                # reconnected stream restarts at a document boundary, so
                # partial bytes from the dead connection are garbage.
                self._buffer = b""


def _required_transport(options: dict) -> str:
    spec = options.get("transport")
    if not spec:
        raise ValueError("transis_xml: option 'transport' is required")
    return spec


def _resolve_transport(spec: str):
    """Resolve a transport spec into the transport factory.

    DataSource options are strings, so the live reader takes its
    transport as a late-bound reference — the same seam the Kinesis
    writer uses for its client; no network code lives in this repo.
    Two spec forms:

    - ``"module:callable"`` — importlib path; production passes e.g.
      ``"mypkg.transis_http:open_detector_stream"``.
    - ``"/abs/path/to/file.py:callable"`` — the file is executed with
      ``runpy``; works regardless of the Python worker's ``sys.path``
      (tests and ad-hoc ops tooling).
    """
    mod_name, _, attr = spec.rpartition(":")
    if not mod_name or not attr:
        raise ValueError(
            "transis_xml: transport must be 'module:callable' or "
            f"'/path.py:callable', got {spec!r}"
        )
    if mod_name.endswith(".py"):
        import runpy

        ns = runpy.run_path(mod_name)
        try:
            return ns[attr]
        except KeyError:
            raise ValueError(
                f"transis_xml: {mod_name} defines no {attr!r}"
            ) from None
    import importlib

    return getattr(importlib.import_module(mod_name), attr)


class TransisXMLLiveStreamReader(SimpleDataSourceStreamReader):
    """Live-transport streaming mode: micro-batches drain whatever the
    injected byte stream has produced since the last trigger.

    The stream is consumed by a background pump thread feeding a queue;
    ``read`` drains the queue WITHOUT blocking on the socket — a live
    feed that pauses mid-document stalls only the pump, never the
    trigger loop (each trigger waits at most ``pollTimeoutMs``,
    default 500, for data before committing what it has, possibly an
    empty batch).  A transport error that exhausts the reconnect budget
    surfaces as a raise on the next ``read`` — fail-stop, like the
    reference consumer.

    The offset is the count of documents consumed from the live stream.
    A live socket cannot seek, so WITHIN a run exact replay comes from
    the SimpleDataSourceStreamReader wrapper's prefetch cache (Spark
    retains the entries it handed out until the batch commits).  ACROSS
    a restart that cache is gone — recovery calls
    ``readBetweenOffsets`` — so the reader journals every delivered
    document to a spool directory (option ``spoolDir``): ``read``
    appends an offset-named NUL-delimited file per non-empty batch,
    ``readBetweenOffsets`` replays any offset range from the journal,
    and ``commit`` prunes files entirely below the committed offset so
    the spool stays bounded by one uncommitted batch.  Restarting from
    a checkpoint therefore resumes exactly where the offset log stopped
    (at-least-once, batch-replay-exact) — the reference's recursive
    reconnect loop (transis_consumer.py:141-148) has no recovery marker
    at all and drops everything in flight.  Without ``spoolDir`` the
    live path still runs, but a restart that must replay raises with
    an actionable message instead of silently losing the batch."""

    def __init__(self, options: dict) -> None:
        self.spec = _required_transport(options)
        # Spark hands the reader a case-insensitive dict whose keys are
        # lower-cased, so each option is one lower-case lookup.
        self.max_reconnects = int(options.get("maxreconnects") or MAX_RECONNECTS)
        max_docs = options.get("maxdocspertrigger")
        self.max_docs = int(max_docs) if max_docs else None
        if self.max_docs is not None and self.max_docs < 1:
            raise ValueError("transis_xml: maxDocsPerTrigger must be >= 1")
        self.poll_timeout_s = int(options.get("polltimeoutms") or 500) / 1000.0
        # Backpressure bound for the pump queue: a producer faster than
        # the trigger drain rate blocks on put() instead of growing
        # driver memory without bound.  A few triggers' worth when
        # maxDocsPerTrigger is set, else a fixed cap.
        self.max_buffered = 4 * self.max_docs if self.max_docs else 10_000
        self.spool_dir = options.get("spooldir")
        _resolve_transport(self.spec)  # fail fast on a bad spec
        self._pump = None  # background consumer, started on first read

    # Spark pickles the reader into the read task; a live socket (and
    # the pump thread draining it) can't cross process boundaries.  Only
    # the spec travels — the revived copy would lazily reopen the
    # transport, and the normal data path never needs it to (the
    # simple-reader wrapper ships the driver-prefetched rows to
    # executors).
    def __getstate__(self) -> dict:
        state = dict(self.__dict__)
        state["_pump"] = None
        return state

    def _ensure_pump(self):
        if self._pump is None:
            import queue
            import threading

            pump = {
                # Bounded: put() blocks when the trigger loop falls
                # behind the transport, backpressuring consumption to
                # the drain rate instead of buffering without bound.
                "queue": queue.Queue(maxsize=self.max_buffered),
                "done": False,
                "error": None,
            }
            consumer = LiveStreamConsumer(
                _resolve_transport(self.spec), self.max_reconnects
            )

            def run() -> None:
                try:
                    for doc in consumer.documents():
                        pump["queue"].put(doc)
                except BaseException as e:  # noqa: BLE001 - surfaced on read
                    pump["error"] = e
                finally:
                    pump["done"] = True

            thread = threading.Thread(
                target=run, daemon=True, name="transis-live-pump"
            )
            pump["thread"] = thread
            self._pump = pump
            thread.start()
        return self._pump

    def initialOffset(self) -> dict:
        return {"n_docs": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple[str]], dict]:
        import queue as _queue
        import time as _time

        start_off = start["n_docs"]
        rows: list[tuple[str]] = []
        budget = self.max_docs
        # REPLAY-FIRST: any journaled documents at or past `start` were
        # consumed from the transport by a previous instance whose batch
        # never reached Spark's offset log (crash between the spool
        # write and the offset commit).  A live socket cannot re-deliver
        # them — the journal is their only copy — so they form the head
        # of this batch instead of being discarded.
        if self.spool_dir:
            for f_lo, _f_hi, path in self._spool_files():
                if _f_hi <= start_off:
                    continue
                if budget is not None and budget <= 0:
                    break
                with open(path, "rb") as f:
                    docs = f.read().split(_NUL)[:-1]
                for i, doc in enumerate(docs):
                    off = f_lo + i
                    if off < start_off:
                        continue
                    if budget is not None and budget <= 0:
                        break
                    rows.append((doc.decode("utf-8"),))
                    if budget is not None:
                        budget -= 1
        n_replayed = len(rows)
        pump = self._ensure_pump()
        deadline = _time.monotonic() + self.poll_timeout_s
        while budget is None or budget > 0:
            try:
                rows.append((pump["queue"].get_nowait(),))
                if budget is not None:
                    budget -= 1
                continue
            except _queue.Empty:
                pass
            if pump["done"] or _time.monotonic() >= deadline:
                break
            _time.sleep(0.01)
        if (
            not rows
            and pump["done"]
            and pump["queue"].empty()
            and pump["error"] is not None
        ):
            raise pump["error"]
        # Journal only the FRESH tail — the replayed head is already on
        # disk, and fresh offsets start exactly at the journal's end, so
        # spool files never overlap.
        fresh = rows[n_replayed:]
        if self.spool_dir and fresh:
            self._spool_write(start_off + n_replayed, fresh)
        return iter(rows), {"n_docs": start_off + len(rows)}

    # --- replay journal -------------------------------------------------
    # One NUL-delimited file per non-empty micro-batch, named by its
    # half-open offset range.  Written atomically (tmp + rename) so a
    # crash mid-write never leaves a torn file for recovery to trust.

    def _spool_write(self, start_off: int, rows: list[tuple[str]]) -> None:
        os.makedirs(self.spool_dir, exist_ok=True)
        end_off = start_off + len(rows)
        # Overlaps cannot arise in normal operation: read() replays the
        # journaled suffix FIRST and journals only the fresh tail, so
        # every write starts at the journal's end.  The delete below is
        # defense-in-depth for a mis-behaving transport that rewinds and
        # re-delivers (at-least-once double delivery): the newest write
        # for an offset range wins, and recovery never sees two files
        # claiming the same offsets (which would replay one and then
        # fail on the gap).
        for f_lo, f_hi, old_path in self._spool_files():
            if f_lo < end_off and f_hi > start_off:
                os.remove(old_path)
        path = os.path.join(
            self.spool_dir, f"{start_off:012d}-{end_off:012d}.spool"
        )
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            for (doc,) in rows:
                f.write(doc.encode("utf-8"))
                f.write(_NUL)
        os.replace(tmp, path)

    def _spool_files(self) -> list[tuple[int, int, str]]:
        if not self.spool_dir or not os.path.isdir(self.spool_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.spool_dir)):
            if not name.endswith(".spool"):
                continue
            lo, _, hi = name[: -len(".spool")].partition("-")
            out.append((int(lo), int(hi), os.path.join(self.spool_dir, name)))
        return out

    def readBetweenOffsets(self, start: dict, end: dict):
        lo, hi = start["n_docs"], end["n_docs"]
        if lo >= hi:
            return iter([])
        if not self.spool_dir:
            raise ValueError(
                "transis_xml: restart recovery needs to replay documents "
                f"[{lo}, {hi}) from a previous run, but no 'spoolDir' "
                "option was set — configure spoolDir so the live reader "
                "journals delivered documents for exact replay."
            )
        rows: list[tuple[str]] = []
        expected = lo
        for f_lo, f_hi, path in self._spool_files():
            if f_hi <= lo or f_lo >= hi:
                continue
            with open(path, "rb") as f:
                docs = f.read().split(_NUL)[:-1]
            for i, doc in enumerate(docs):
                off = f_lo + i
                if lo <= off < hi:
                    if off != expected:
                        break  # gap — fail below with a precise message
                    rows.append((doc.decode("utf-8"),))
                    expected += 1
        if expected != hi:
            raise RuntimeError(
                f"transis_xml: spool {self.spool_dir} cannot replay "
                f"[{lo}, {hi}): documents [{expected}, {hi}) are missing "
                "(spool pruned beyond the committed offset, or a foreign "
                "checkpoint was pointed at this spool)."
            )
        return iter(rows)

    def commit(self, end: dict) -> None:
        # Bounded journal: a file is prunable once every offset in it is
        # at or below the committed watermark — replay can only ever ask
        # for [committed, planned).  The NEWEST fully-committed file is
        # retained anyway: deleting the latest commit-log entry to force
        # one batch to reprocess is a standard Structured Streaming ops
        # move, and keeping one extra batch of documents makes it work
        # for this non-seekable source too.
        committed = end["n_docs"]
        prunable = [
            path
            for _f_lo, f_hi, path in self._spool_files()
            if f_hi <= committed
        ]
        for path in prunable[:-1]:
            try:
                os.remove(path)
            except OSError:
                pass  # best-effort GC; an undeleted file stays correct


class TransisXMLDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "transis_xml"

    def __init__(self, options: dict) -> None:
        # Spark builds the source at ``load()`` even when the query gives
        # a schema (and asks ``schema()`` only when it does not), so a
        # query without a transport fails here, before its first trigger.
        _required_transport(options)
        super().__init__(options)

    def schema(self) -> StructType:
        return SCHEMA

    def simpleStreamReader(
        self, schema: StructType
    ) -> TransisXMLLiveStreamReader:
        return TransisXMLLiveStreamReader(self.options)


def register_transis_datasource(spark) -> None:
    """Idempotently register ``format("transis_xml")`` on a session."""
    spark.dataSource.register(TransisXMLDataSource)
