"""Custom stateful streaming operator: per-site liveness monitoring via
``applyInPandasWithState``.

The reference encodes liveness imperatively: a 20-minute stream idle
timeout (reference: transis_consumer.py:13 ``stream_timeout=20*60``), a
reconnect budget of 3 that decrements on each silent reconnect and
resets on any successful document (reference: transis_consumer.py:41-47,
reset :140).  That is per-key state with an event-time timeout — exactly
the shape Spark's built-in windowed aggregations cannot express and
``applyInPandasWithState`` exists for.

Semantics per site:

- every micro-batch with data for the site emits an ``active`` row with
  the running message count and latest event time, and re-arms an
  event-time timeout ``idle_timeout`` past that event time;
- when the watermark passes the armed timeout with no new data the site
  emits a ``silent`` row and its remaining reconnect budget decrements
  (re-arming another timeout), mirroring the reference's recursive
  re-subscribe;
- after the budget is exhausted the site emits a final ``dead`` row and
  its state is dropped (the reference fail-stops; a multi-site engine
  drops just the dead key's state);
- any new data resets the budget to full, like the reference's
  counter reset on a successful document.

State is bounded: one small tuple per live site, evicted on death.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .connectors import MAX_RECONNECTS, STREAM_TIMEOUT_S

IDLE_TIMEOUT_MS = STREAM_TIMEOUT_S * 1000

OUTPUT_SCHEMA = (
    "site_id string, status string, n_messages long, "
    "last_seen_ms long, budget_left int"
)
STATE_SCHEMA = "n_messages long, last_seen_ms long, budget_left int"


def liveness_fn(
    key: tuple,
    pdf_iter: Iterator["pd.DataFrame"],  # noqa: F821
    state: GroupState,
    idle_timeout_ms: int = IDLE_TIMEOUT_MS,
    budget: int = MAX_RECONNECTS,
) -> Iterator["pd.DataFrame"]:
    """The per-key state transition.  Kept as a standalone function (not
    a closure) so the timeout branch is unit-testable with a fake
    ``GroupState``."""
    import pandas as pd

    (site_id,) = key

    def out(status: str, n: int, last_ms: int, left: int) -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "site_id": [site_id],
                "status": [status],
                "n_messages": [n],
                "last_seen_ms": [last_ms],
                "budget_left": [left],
            }
        )

    if state.hasTimedOut:
        n, last_ms, left = state.get
        left -= 1
        if left <= 0:
            state.remove()
            yield out("dead", n, last_ms, 0)
        else:
            state.update((n, last_ms, left))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + idle_timeout_ms)
            yield out("silent", n, last_ms, left)
        return

    n, last_ms, _ = state.get if state.exists else (0, 0, budget)
    for pdf in pdf_iter:
        if len(pdf):
            n += len(pdf)
            batch_max = int(pdf["ts"].astype("int64").max() // 1_000_000)
            last_ms = max(last_ms, batch_max)
    # fresh data refills the reconnect budget (reference resets the
    # counter on any successful document, transis_consumer.py:140)
    state.update((n, last_ms, budget))
    state.setTimeoutTimestamp(last_ms + idle_timeout_ms)
    yield out("active", n, last_ms, budget)


def site_liveness(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "site_id",
    idle_timeout_ms: int = IDLE_TIMEOUT_MS,
    budget: int = MAX_RECONNECTS,
) -> DataFrame:
    """Apply the liveness state machine over a stream keyed by site.

    Watermark delay 0: the timeout clock is pure event time, so tests
    drive it deterministically by advancing other sites' event times."""

    from pyspark.sql import functions as F

    def fn(key: tuple, it: Iterator[Any], state: GroupState) -> Iterator[Any]:
        return liveness_fn(key, it, state, idle_timeout_ms, budget)

    keyed = events.select(
        F.col(key_col).cast("string").alias("site_id"),
        F.col(ts_col).cast("timestamp").alias("ts"),
    )
    return (
        keyed.withWatermark("ts", "0 seconds")
        .groupBy("site_id")
        .applyInPandasWithState(
            fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# --- streaming decayed counters (the decayed_hourly_traffic twin) --------

# hours; THE single definition — plans/events.py imports it, so
# the batch/stream parity contract cannot drift.
DECAY_HORIZON = 20

DECAYED_OUTPUT_SCHEMA = (
    "event_type string, hour_epoch long, n_events long, decayed_micros long"
)
DECAYED_STATE_SCHEMA = "hours array<long>, counts array<long>"


def decayed_counter_fn(
    key: tuple,
    pdf_iter: Iterator["pd.DataFrame"],  # noqa: F821
    state: "GroupState",
    horizon: int = DECAY_HORIZON,
) -> Iterator["pd.DataFrame"]:  # noqa: F821
    """Per-key decayed hourly counter with half-life decay — the
    INCREMENTAL form of the batch ``decayed_hourly_traffic`` query:
    state holds the trailing ``2*horizon`` hourly counts (bounded: ≤40
    (hour, count) pairs per key, pruned on every batch), each batch
    merges its hours and emits, for every hour observed in the batch,
    the identical per-term-micro-rounded decayed sum the batch query
    computes.  Hours are epoch-hours (ts // 3600).

    Why ``2*horizon`` and not ``horizon``: a LATE hour h admitted by a
    watermark_delay shorter than ``horizon`` hours satisfies
    h > max_seen - horizon, and its decay terms reach back to
    h - horizon + 1 > max_seen - 2*horizon — pruning at one horizon
    would drop those terms (and possibly h's own prior count) and make
    the re-emission numerically wrong, not merely late."""
    import pandas as pd

    if state.exists:
        hours, counts = state.get
        tally = dict(zip(hours, counts))
    else:
        tally = {}
    batch_hours = set()
    for pdf in pdf_iter:
        for h, n in pdf.groupby("hour_epoch").size().items():
            tally[int(h)] = tally.get(int(h), 0) + int(n)
            batch_hours.add(int(h))
    if not batch_hours:
        return
    # Emit from the UN-pruned tally — a batch hour that lags the
    # batch's newest hour must still see every in-horizon decay term
    # (pruning before emission dropped both the lagging hour's output
    # row and its older terms, silently breaking batch parity).  The
    # prune applies only to what is STORED: hours that can no longer
    # decay into anything at or after the newest seen hour.
    out = []
    for h in sorted(batch_hours):
        # int(x + 0.5) = HALF_UP for positive values, matching Spark's
        # round() (Python's round() is banker's and diverges exactly at
        # the .5 terms odd counts produce at lag 7+).  The division by
        # a power of two is float-exact, so the tie cases are real.
        decayed = sum(
            int(c * 1e6 / (1 << (h - g)) + 0.5)
            for g, c in tally.items()
            if 0 <= h - g < horizon
        )
        out.append((key[0], h, tally[h], decayed))
    hi = max(tally)
    # Keep TWO horizons of history (see docstring): one horizon covers
    # emission for the newest hour; the second covers the decay terms of
    # any late hour a sub-horizon watermark_delay can still admit.
    kept = {h: c for h, c in tally.items() if h > hi - 2 * horizon}
    state.update((list(kept), [kept[h] for h in kept]))
    yield pd.DataFrame(
        out, columns=["event_type", "hour_epoch", "n_events", "decayed_micros"]
    )


def decayed_counters(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    horizon: int = DECAY_HORIZON,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming decayed counters keyed by event type.

    Scale shape: state per key is ≤``2*horizon`` (hour, count) pairs —
    O(|keys|·horizon) total, independent of event volume; each batch
    shuffles only (key, hour) counts.  The decay weight is the exact
    power-of-two family of the batch twin.

    Parity contract (honest scope): output matches
    ``decayed_hourly_traffic`` row-for-row when hours arrive IN ORDER
    across micro-batches (parity pinned in tests).  Out-of-order
    arrivals follow streaming semantics instead: rows later than
    ``watermark_delay`` are dropped by the engine, and rows that update
    an already-emitted hour re-emit THAT hour (update mode — latest
    emission wins) but do not retract later hours already emitted.  As
    long as ``watermark_delay`` stays under ``horizon`` hours, every
    re-emission is numerically EXACT: state retains two horizons of
    counts, so a late hour still sees all of its in-horizon decay terms
    and its own prior count.  A pipeline needing full revision under
    heavier disorder should widen ``watermark_delay`` and treat the
    batch query as the backfill authority."""
    from pyspark.sql import functions as F

    def fn(key: tuple, it: Iterator[Any], state: GroupState) -> Iterator[Any]:
        return decayed_counter_fn(key, it, state, horizon)

    keyed = events.select(
        F.col(key_col).cast("string").alias("event_type"),
        F.col(ts_col).cast("timestamp").alias("ts"),
    ).withColumn(
        # floor, not cast-truncation: a cast rounds toward zero, so a
        # pre-1970 timestamp would land one hour LATE vs the batch
        # twin's date_trunc (which floors).
        "hour_epoch",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long"),
    )
    return (
        keyed.withWatermark("ts", watermark_delay)
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            outputStructType=DECAYED_OUTPUT_SCHEMA,
            stateStructType=DECAYED_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
