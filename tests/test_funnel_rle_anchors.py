"""Round-7 anchor batch 20: regex sequence mining and RLE economics.

- ``event_regex_funnel``: per-(user, day) event-initial session
  strings replayed with Python re.search over hand-scripted sessions
  whose pattern memberships are enumerable by eye (including the
  anchored-vs-unanchored distinction: browse_only is ^...$, the rest
  are substring searches, and 'vp' must be ADJACENT).
- ``rle_compression_audit``: run counts replayed with an explicit sort
  on the same composite ordering key within (returnflag, linestatus)
  partitions, pinning that runs break at partition boundaries and that
  a constant column collapses to one run per partition.
"""

from __future__ import annotations

import datetime
import re

import pytest


def test_event_regex_funnel_matches_re_replay(spark, tmp_path):
    # One session per (user, day); initials: v c p s e.
    sessions = {
        (1, 1): ["view", "click", "view"],                 # 'vcv' browse_only
        (2, 1): ["view", "click", "purchase"],             # 'vcp' v.*c.*p
        (3, 1): ["view", "purchase"],                      # 'vp' direct + v..p? no c
        (4, 1): ["signup", "view", "purchase"],            # 'svp' signup_then + vp adj
        (5, 1): ["error", "view", "purchase"],             # 'evp' error_before + vp adj
        (6, 1): ["view", "error", "click"],                # 'vec' none
        (7, 1): ["click", "click"],                        # 'cc' browse_only
        (2, 2): ["view", "click", "click", "purchase"],    # 'vccp' v.*c.*p, no adj vp
    }
    rows = []
    eid = 0
    for (uid, day), chain in sessions.items():
        for i, et in enumerate(chain):
            eid += 1
            rows.append(
                (eid, uid, et,
                 datetime.datetime(2024, 4, day, 10) + datetime.timedelta(minutes=i),
                 1.0)
            )
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.events import (
        _FUNNEL_PATTERNS,
        event_regex_funnel,
    )

    got = {
        r["pattern"]: (r["n_sessions"], r["pct_micros"])
        for r in event_regex_funnel(spark, str(tmp_path)).collect()
    }

    seqs = ["".join(et[0] for et in chain) for chain in sessions.values()]
    total = len(seqs)
    for name, rx in _FUNNEL_PATTERNS:
        n = sum(1 for s in seqs if re.search(rx, s))
        assert got[name] == (n, n * 1_000_000 // total), name
    # Hand-enumerated memberships double-check the replay itself:
    assert got["browse_only"][0] == 2           # vcv, cc
    assert got["view_to_purchase_direct"][0] == 3  # vp, svp, evp (adjacent)
    assert got["view_click_purchase"][0] == 2   # vcp, vccp
    assert got["signup_then_purchase"][0] == 1
    assert got["error_before_purchase"][0] == 1


def test_rle_runs_match_sorted_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.audits import (
        _RLE_COLS,
        rle_compression_audit,
    )

    # Two (returnflag, linestatus) partitions; l_tax constant (1 run
    # per partition), l_quantity alternates, ship_month in blocks.
    rows = []
    lk = 0
    for rf, ls in (("A", "O"), ("R", "F")):
        for i in range(8):
            lk += 1
            rows.append(
                (
                    lk, 1, rf, ls,
                    float(1 + (i // 4)),          # quantity: 2 runs
                    0.01 * (i % 2),               # discount: alternates
                    0.05,                          # tax: constant
                    datetime.datetime(1995, 1 + (i // 2), 1),  # month blocks
                )
            )
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_returnflag string,"
        " l_linestatus string, l_quantity double, l_discount double,"
        " l_tax double, l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    got = {
        r["col_name"]: (r["n_rows"], r["n_runs"], r["rle_ratio_micros"])
        for r in rle_compression_audit(spark, str(tmp_path)).collect()
    }

    # replay: sort within each partition by the same composite key
    data = [
        {
            "l_returnflag": r[2], "l_linestatus": r[3],
            "l_shipdate": r[7], "l_orderkey": r[0], "l_linenumber": r[1],
            "l_quantity": r[4], "l_discount": r[5], "l_tax": r[6],
            "ship_month": r[7].month,
        }
        for r in rows
    ]
    key = lambda d: (
        d["l_shipdate"], d["l_orderkey"], d["l_linenumber"],
        d["l_quantity"], d["l_discount"], d["l_tax"],
    )
    runs = {c: 0 for c in _RLE_COLS}
    for part in {("A", "O"), ("R", "F")}:
        members = sorted(
            (d for d in data
             if (d["l_returnflag"], d["l_linestatus"]) == part),
            key=key,
        )
        for c in _RLE_COLS:
            prev = object()
            for d in members:
                if d[c] != prev:
                    runs[c] += 1
                prev = d[c]
    n = len(data)
    for c in _RLE_COLS:
        assert got[c] == (n, runs[c], n * 1_000_000 // runs[c]), c
    # The constant column collapses to one run PER PARTITION (2 total),
    # never one global run — partition boundaries break runs.
    assert got["l_tax"][1] == 2
