"""Round-7 anchor batch 13: sessionization boundary semantics and the
ordered-funnel rule.

Both sessionization queries share the inactivity-gap definition with
their oracles (a strict ``>`` break: a gap of EXACTLY the session gap
stays in the same session), and Spark's native ``session_window`` was
verified to implement the same inclusive-merge boundary — these
anchors pin that convention at one-second resolution on both sides of
the gap, so neither engine can drift to the half-open convention
silently.  The funnel anchor pins the IN-ORDER rule: a stage reached
before its predecessor does not advance the user.
"""

from __future__ import annotations

import datetime

BASE = datetime.datetime(2024, 1, 1, 12, 0, 0)


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    ).write.parquet(f"{tmp_path}/events.parquet")


def test_sessionize_users_gap_boundary(spark, tmp_path):
    gap = datetime.timedelta(seconds=1800)
    rows = [
        # user 1: second event at EXACTLY 1800s -> same session
        (1, 1, "click", BASE, 1.0),
        (2, 1, "click", BASE + gap, 1.0),
        # user 2: 1801s -> two sessions
        (3, 2, "click", BASE, 1.0),
        (4, 2, "click", BASE + gap + datetime.timedelta(seconds=1), 1.0),
        # user 3: 1799s -> one session
        (5, 3, "click", BASE, 1.0),
        (6, 3, "click", BASE + gap - datetime.timedelta(seconds=1), 1.0),
        # user 4: chain of exact gaps -> still ONE session (each
        # consecutive delta equals the gap, none exceeds it)
        (7, 4, "click", BASE, 1.0),
        (8, 4, "click", BASE + gap, 1.0),
        (9, 4, "click", BASE + gap + gap, 1.0),
    ]
    _write_events(spark, tmp_path, rows)

    from scats_transis_kinesis_spark.plans.relational import sessionize_users

    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in sessionize_users(spark, str(tmp_path)).collect()
    }
    assert got == {1: (1, 2), 2: (2, 2), 3: (1, 2), 4: (1, 3)}


def test_session_window_native_gap_boundary(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.events import (
        SESSION_GAP_MIN,
        session_window_native,
    )

    gap = datetime.timedelta(minutes=SESSION_GAP_MIN)
    rows = [
        (1, 1, "click", BASE, 1.0),
        (2, 1, "click", BASE + gap, 2.0),           # exact gap: merges
        (3, 2, "click", BASE, 1.0),
        (4, 2, "click", BASE + gap + datetime.timedelta(seconds=1), 2.0),  # splits
        (5, 3, "click", BASE, 1.0),
        (6, 3, "click", BASE + gap - datetime.timedelta(seconds=1), 2.0),  # merges
    ]
    _write_events(spark, tmp_path, rows)

    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         r["value_micros"])
        for r in session_window_native(spark, str(tmp_path)).collect()
    )
    want = [
        (1, BASE, BASE + 2 * gap, 2, 3_000_000),
        (2, BASE, BASE + gap, 1, 1_000_000),
        (2, BASE + gap + datetime.timedelta(seconds=1),
         BASE + 2 * gap + datetime.timedelta(seconds=1), 1, 2_000_000),
        (3, BASE, BASE + 2 * gap - datetime.timedelta(seconds=1), 2, 3_000_000),
    ]
    assert got == want


def test_funnel_depth_requires_in_order_stages(spark, tmp_path):
    m = datetime.timedelta(minutes=1)
    rows = [
        # user 1: view -> click -> purchase, in order -> depth 3
        (1, 1, "view", BASE, 1.0),
        (2, 1, "click", BASE + m, 1.0),
        (3, 1, "purchase", BASE + 2 * m, 1.0),
        # user 2: clicked BEFORE first view -> stalls at depth 1
        (4, 2, "click", BASE, 1.0),
        (5, 2, "view", BASE + m, 1.0),
        # user 3: purchase BEFORE click -> stalls at depth 2
        (6, 3, "view", BASE, 1.0),
        (7, 3, "purchase", BASE + m, 1.0),
        (8, 3, "click", BASE + 2 * m, 1.0),
        # user 4: never viewed -> depth 0
        (9, 4, "purchase", BASE, 1.0),
        # user 5: view only -> depth 1
        (10, 5, "view", BASE, 1.0),
        # user 6: later re-click after an early click still counts by
        # FIRST timestamps: view at t0, click at t+1 (first click is
        # before view? no - first click is t-1) -> stalls at 1
        (11, 6, "click", BASE - m, 1.0),
        (12, 6, "view", BASE, 1.0),
        (13, 6, "click", BASE + m, 1.0),
        (14, 6, "purchase", BASE + 2 * m, 1.0),
    ]
    _write_events(spark, tmp_path, rows)

    from scats_transis_kinesis_spark.plans.events import funnel_view_click_purchase

    got = {
        r["funnel_depth"]: r["n_users"]
        for r in funnel_view_click_purchase(spark, str(tmp_path)).collect()
    }
    # depths: u1=3, u2=1, u3=2, u4=0, u5=1, u6=1 (first-click-before-
    # first-view stalls even though a later in-order path exists).
    assert got == {0: 1, 1: 3, 2: 1, 3: 1}
