"""Operator unit tests: flatten/unnest joins, envelope, scalar
functions, relational compositions."""

from __future__ import annotations

import datetime
import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from scats_transis_kinesis_spark.functions.timestamps import (
    epoch_from_iso8601_sql,
    formatted_current_timestamp,
)
from scats_transis_kinesis_spark.operators.envelope import failed_subset, to_kinesis_envelope
from scats_transis_kinesis_spark.operators.flatten import explode_phases, explode_site_children
from scats_transis_kinesis_spark.operators.projection import kv_lookup
from scats_transis_kinesis_spark.operators.relational import asof_join, sessionize


LAYOUTS_DDL = (
    "sId string, region string, "
    "arms array<struct<aId string, name string>>, "
    "detectors array<struct<dId string, arm string>>, "
    "streets array<struct<name string, suburb string>>, "
    "sgs array<struct<sgNo string, type string>>, "
    "phases array<struct<name string, sgNos array<string>>>"
)


def _layouts(spark):
    return spark.createDataFrame(
        [
            (
                "101",
                "ROZ",
                [("A1", "north"), ("A2", "south")],
                [("D1", "A1")],
                [("Main St", "Rozelle")],
                [("1", "vehicle")],
                [("A", ["1", "2"]), ("B", ["3"])],
            ),
            ("102", "ROZ", [], None, [("Side St", "Balmain")], [], []),
        ],
        LAYOUTS_DDL,
    )


def test_explode_site_children_prefixes_parent_key(spark):
    # F3 — parent sId on every child row (reference:
    # transis_response_models.py:175-198).
    arms = explode_site_children(_layouts(spark), "arms")
    assert sorted((r.asDict() for r in arms.collect()), key=str) == sorted(
        [
            {"site_id": "101", "aId": "A1", "name": "north"},
            {"site_id": "101", "aId": "A2", "name": "south"},
        ],
        key=str,
    )
    # Empty child collections behave like absent — no rows for site 102.
    assert arms.where(F.col("site_id") == "102").count() == 0
    assert arms.schema.json() == T.StructType(
        [T.StructField(n, T.StringType(), True) for n in ("site_id", "aId", "name")]
    ).json()


def test_explode_phases_double_unnest(spark):
    # F4 — site × phases × SGNos (reference:
    # transis_response_models.py:194-197).
    rows = {(r["site_id"], r["phase"], r["sg_no"]) for r in explode_phases(_layouts(spark)).collect()}
    assert rows == {("101", "A", "1"), ("101", "A", "2"), ("101", "B", "3")}


def test_envelope_keyed_by_column_and_literal(spark):
    df = spark.createDataFrame([("ROZ", "2087"), ("XYZ", "8")], "region string, site_id string")
    keyed = to_kinesis_envelope(df, partition_key_col="region").collect()
    assert {r["partition_key"] for r in keyed} == {"ROZ", "XYZ"}
    payload = json.loads(bytes(keyed[0]["data"]).decode("utf-8"))
    assert set(payload) == {"region", "site_id"}
    # Bug-compatible literal mode (reference: kinesis_producer.py:25,53-54).
    literal = to_kinesis_envelope(df, literal_key="region").collect()
    assert {r["partition_key"] for r in literal} == {"region"}


def test_envelope_quotes_odd_names_and_keys(spark):
    # Column names and literal keys reach SQL text: quotes, backticks,
    # dots and backslashes must arrive unchanged.
    df = spark.createDataFrame([("ROZ", 1)], "a string, n int").toDF("re`gion.a", "n")
    [keyed] = to_kinesis_envelope(df, partition_key_col="re`gion.a").collect()
    assert keyed["partition_key"] == "ROZ"
    assert json.loads(bytes(keyed["data"])) == {"re`gion.a": "ROZ", "n": 1}
    [literal] = to_kinesis_envelope(df, literal_key="it's a \\ key").collect()
    assert literal["partition_key"] == "it's a \\ key"


def test_failed_subset_positional(spark):
    # K4 — keep only the throttled subset by position (reference:
    # kinesis_producer.py:87-98; mirrors tests.py:128-147).
    req = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "pos int, payload string"
    )
    resp = spark.createDataFrame(
        [
            (0, None),
            (1, "ProvisionedThroughputExceededException"),
            (2, "SomeOtherError"),
        ],
        "pos int, error_code string",
    )
    kept = failed_subset(req, resp).collect()
    assert [r["payload"] for r in kept] == ["b"]


def test_epoch_from_iso8601(spark):
    df = spark.createDataFrame([("2019-10-03T15:43:00+10:00",)], "date string")
    [row] = df.selectExpr(f"{epoch_from_iso8601_sql('date')} AS e").collect()
    assert row["e"] == 1570081380


def test_formatted_current_timestamp_offset_has_colon(spark):
    # P4 renders Sydney local time with a colon in the offset
    # (reference: utils.py:15-19) — +11:00 (AEDT) or +10:00 (AEST).
    val = spark.range(1).select(formatted_current_timestamp().alias("t")).collect()[0]["t"]
    assert val[-6:] in ("+11:00", "+10:00")
    datetime.datetime.strptime(val[:-6], "%Y-%m-%dT%H:%M:%S")


def test_sydney_dst_both_offsets(spark):
    # January = AEDT (+11), July = AEST (+10).
    from scats_transis_kinesis_spark.functions.timestamps import format_with_tz_offset

    df = spark.createDataFrame(
        [("2024-01-15 00:00:00",), ("2024-07-15 00:00:00",)], "t string"
    ).select(F.col("t").cast("timestamp").alias("ts"))
    out = df.select("ts", format_with_tz_offset(F.col("ts")).alias("local")).collect()
    offsets = {r["ts"].month: r["local"][-6:] for r in out}
    assert offsets == {1: "+11:00", 7: "+10:00"}
    # Wall time is shifted too: July UTC midnight → 10:00 local.
    july = next(r["local"] for r in out if r["ts"].month == 7)
    assert july == "2024-07-15T10:00:00+10:00"


def test_kv_lookup(spark):
    # P8 — DI proc response payload (reference: di_framework.py:44-55).
    df = spark.createDataFrame(
        [('[{"key":"job_id","value":"77"},{"key":"stus","value":"ok"}]',)], "resp string"
    )
    row = df.select(
        kv_lookup("resp", "job_id").alias("job_id"), kv_lookup("resp", "missing").alias("m")
    ).collect()[0]
    assert row["job_id"] == "77" and row["m"] is None


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (2, 15, 150.0)], "k int, ts int, lv double"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "lv")
    right = spark.createDataFrame(
        [(1, 5, "a"), (1, 20, "b"), (1, 25, "c"), (3, 1, "z")], "k int, ts int, rv string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "rv")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts", right_value_cols=["rv"])
    got = {(r["k"], r["ts"].timestamp(), r["asof_rv"]) for r in out.collect()}
    # ts=10 → last right at 5 ('a'); ts=20 → equality matches ('b');
    # key 2 has no right rows → NULL.
    assert got == {(1, 10.0, "a"), (1, 20.0, "b"), (2, 15.0, None)}


def test_asof_join_forward(spark):
    left = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (1, 30, 300.0), (2, 15, 150.0)],
        "k int, ts int, lv double",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "lv")
    right = spark.createDataFrame(
        [(1, 5, "a"), (1, 20, "b"), (1, 25, "c"), (3, 1, "z")], "k int, ts int, rv string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "rv")
    out = asof_join(
        left,
        right,
        on="k",
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["rv"],
        direction="forward",
    )
    got = {(r["k"], r["ts"].timestamp(), r["asof_rv"]) for r in out.collect()}
    # ts=10 → earliest right at-or-after is 20 ('b'); ts=20 → equality
    # matches ('b'); ts=30 → nothing after → NULL; key 2 has no right
    # rows → NULL.
    assert got == {
        (1, 10.0, "b"),
        (1, 20.0, "b"),
        (1, 30.0, None),
        (2, 15.0, None),
    }


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [(1, 0), (1, 10 * 60), (1, 50 * 60), (1, 51 * 60), (2, 0)], "user_id int, t int"
    ).select("user_id", F.col("t").cast("timestamp").alias("ts"))
    out = sessionize(df, key="user_id", ts="ts", gap_minutes=30)
    seqs = {(r["user_id"], r["ts"].timestamp(), r["session_seq"]) for r in out.collect()}
    assert seqs == {
        (1, 0.0, 1),
        (1, 600.0, 1),
        (1, 3000.0, 2),  # 40-min gap starts session 2
        (1, 3060.0, 2),
        (2, 0.0, 1),
    }


def test_quote_all_csv_roundtrip(spark, tmp_path):
    # K6 — every field double-quoted, header from the explicit schema
    # (reference: transis_response_models.py:113-117,200-209).
    from scats_transis_kinesis_spark.operators.flatten import quote_all_csv

    df = spark.createDataFrame(
        [("2087", "ROZ", 5), ("11", "CBD", 0)], "site_id string, region string, n int"
    )
    out = str(tmp_path / "csv_out")
    quote_all_csv(df.coalesce(1), out)

    import glob

    [part] = glob.glob(out + "/part-*.csv")
    lines = open(part).read().strip().splitlines()
    assert lines[0] == '"site_id","region","n"'
    assert '"2087","ROZ","5"' in lines
    # read back through Spark: values survive the quoting
    back = spark.read.option("header", True).csv(out)
    assert {tuple(r) for r in back.collect()} == {("2087", "ROZ", "5"), ("11", "CBD", "0")}


def test_partitioned_layout_prunes_partitions(spark, tmp_path):
    # SCALE.md §2: with the date-partitioned layout, a time-range
    # predicate becomes a PartitionFilter — directories outside the
    # range are never opened.
    from scats_transis_kinesis_spark.sources.loaders import load_table, write_partitioned

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    out = str(tmp_path / "events_by_date")
    write_partitioned(events, out)

    from pyspark.sql import functions as F

    scan = spark.read.parquet(out).where(F.col("event_date") == "2024-01-02")
    jvm = spark.sparkContext._jvm
    plan = jvm.PythonSQLUtils.explainString(scan._jdf.queryExecution(), "formatted")
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1), plan
    # the filter really prunes: only matching-date rows come back
    got_dates = {str(r["event_date"]) for r in scan.select("event_date").distinct().collect()}
    assert got_dates <= {"2024-01-02"}


def test_containment_detects_excerpt(spark):
    # Doc 2 is a verbatim excerpt (first 22 words) of doc 1: symmetric
    # Jaccard is 20/22 ≈ 0.91 — comfortably above the 8×4 banding's
    # recall knee (per-band collision 0.91^4 ≈ 0.68; tiny excerpts
    # inside huge documents fall below banding recall, the caveat
    # documented on the operator) — while the excerpt's containment in
    # the parent is exactly 1.0.  Doc 3 is unrelated.
    from scats_transis_kinesis_spark.operators.dedup import (
        containment_near_dups,
    )

    parent = " ".join(f"w{i}" for i in range(24))
    excerpt = " ".join(f"w{i}" for i in range(22))
    other = " ".join(f"x{i}" for i in range(24))
    df = spark.createDataFrame(
        [(1, parent), (2, excerpt), (3, other)], "doc_id long, text string"
    )
    rows = {
        (r["id_a"], r["id_b"]): r for r in containment_near_dups(df).collect()
    }
    assert (1, 2) in rows
    r = rows[(1, 2)]
    # every shingle of the excerpt occurs in the parent
    assert r["containment_b_in_a"] == 1.0
    assert r["containment_a_in_b"] < 1.0
    assert not any(3 in k for k in rows)


def test_containment_prefix_catches_tiny_excerpt_banding_misses(spark):
    """The tiny-excerpt-in-huge-doc case: a 12-word excerpt of a
    300-word parent has symmetric Jaccard ≈ 10/298 ≈ 0.03 — far below
    any banding recall — but small-side containment 1.0.  The lossless
    prefix-probe variant MUST find it; the Jaccard-banded variant's
    miss here is the documented recall gap it exists to close."""
    from scats_transis_kinesis_spark.operators.dedup import (
        containment_near_dups,
        containment_prefix_pairs,
    )

    parent = " ".join(f"w{i}" for i in range(300))
    excerpt = " ".join(f"w{i}" for i in range(12))
    other = " ".join(f"x{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, parent), (2, excerpt), (3, other)], "doc_id long, text string"
    )
    found = {
        (r["id_a"], r["id_b"]): r
        for r in containment_prefix_pairs(df).collect()
    }
    assert (1, 2) in found
    assert found[(1, 2)]["containment_b_in_a"] == 1.0
    assert not any(3 in k for k in found)
    # And the banded variant indeed misses it (if this ever starts
    # passing, the caveat docs should be revisited, not the assert
    # blindly flipped).
    banded = {
        (r["id_a"], r["id_b"]) for r in containment_near_dups(df).collect()
    }
    assert (1, 2) not in banded


def test_containment_prefix_is_lossless_vs_bruteforce(spark):
    """Prefix probing must return EXACTLY the brute-force all-pairs
    answer (threshold on the max-direction containment) on a randomized
    corpus — the lossless claim, not a recall estimate."""
    import random as rnd

    from pyspark.sql import functions as F

    from scats_transis_kinesis_spark.operators.dedup import (
        CONTAINMENT_THRESHOLD,
        containment_prefix_pairs,
        shingle_sets,
    )

    r = rnd.Random(405)
    docs = []
    doc_id = 0
    # 12 base documents; each spawns excerpts (contiguous slices) and
    # light mutations, so true containment pairs exist at every size
    # ratio; a few unrelated docs round out the negatives.
    for fam in range(12):
        base = [f"f{fam}w{i}" for i in range(r.randint(20, 80))]
        docs.append((doc_id, " ".join(base)))
        doc_id += 1
        for _ in range(2):
            lo = r.randrange(0, max(1, len(base) - 6))
            hi = min(len(base), lo + r.randint(5, 30))
            docs.append((doc_id, " ".join(base[lo:hi])))
            doc_id += 1
        mutated = [
            (w if r.random() > 0.15 else f"m{doc_id}x{j}")
            for j, w in enumerate(base)
        ]
        docs.append((doc_id, " ".join(mutated)))
        doc_id += 1
    for _ in range(8):
        docs.append(
            (doc_id, " ".join(f"u{doc_id}w{i}" for i in range(r.randint(5, 30))))
        )
        doc_id += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r2["id_a"], r2["id_b"])
        for r2 in containment_prefix_pairs(df).collect()
    }
    sets = shingle_sets(df)
    a = sets.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("ta")
    )
    b = sets.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("tb")
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    brute = {
        (r2["id_a"], r2["id_b"])
        for r2 in (
            a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .where(
                F.greatest(
                    inter / F.size("ta"), inter / F.size("tb")
                )
                >= CONTAINMENT_THRESHOLD
            )
        ).collect()
    }
    assert got == brute and len(brute) > 0


def test_asof_join_randomized_parity_with_bruteforce(spark):
    """The union+window as-of against a plain brute-force reference on
    seeded random data, both directions — guards the frame/tie logic
    against edge cases (duplicate timestamps, keys with no right rows,
    equal left/right timestamps)."""
    import random

    rng = random.Random(42)
    left = [(rng.randrange(6), rng.randrange(50)) for _ in range(120)]
    right = [
        (rng.randrange(6), rng.randrange(50), f"v{i}") for i in range(80)
    ]
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k int, ts int, lid int"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "lid")
    rdf = spark.createDataFrame(right, "k int, ts int, rv string").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "rv"
    )

    def brute(direction):
        out = {}
        for i, (k, t) in enumerate(left):
            if direction == "backward":
                cand = [(rt, rv) for rk, rt, rv in right if rk == k and rt <= t]
                # ties on rt: the window's last() picks the right row
                # sorted last; brute mirrors by max (rt, rv-insertion) —
                # compare on the TS only, which is tie-safe.
                out[i] = max((rt for rt, _ in cand), default=None)
            else:
                cand = [rt for rk, rt, rv in right if rk == k and rt >= t]
                out[i] = min(cand, default=None)
        return out

    for direction in ("backward", "forward"):
        got_rows = asof_join(
            ldf,
            rdf,
            on="k",
            left_ts="ts",
            right_ts="ts",
            right_value_cols=["ts"],
            direction=direction,
        ).collect()
        got = {
            r["lid"]: (None if r["asof_ts"] is None else int(r["asof_ts"].timestamp()))
            for r in got_rows
        }
        assert got == brute(direction), direction


def test_hierarchical_row_number_matches_global_sort(spark):
    """The bucketed rank must equal a true global row_number over
    (value, tiebreak) on seeded random data with heavy duplicates."""
    import random

    from scats_transis_kinesis_spark.operators.relational import (
        hierarchical_row_number,
    )

    rng = random.Random(7)
    rows = [(i, rng.randrange(20)) for i in range(500)]
    df = spark.createDataFrame(rows, "id int, v int")
    out = hierarchical_row_number(
        df, F.col("v"), tiebreak="id", out="rn", num_buckets=8
    ).collect()
    got = {r["id"]: r["rn"] for r in out}
    expected = {
        rid: i + 1
        for i, (rid, _) in enumerate(sorted(rows, key=lambda x: (x[1], x[0])))
    }
    assert got == expected


def test_hierarchical_row_number_degenerate_all_ties(spark):
    """When every order value ties, the helper must still rank (by the
    tiebreak) WITHOUT an unpartitioned window: numeric tiebreaks
    re-bucket on the tiebreak; string tiebreaks bucket by first-char
    codepoint; a fully-constant frame still produces a partitioned
    plan (constant-valued but column-derived key)."""
    from scats_transis_kinesis_spark.operators.relational import (
        hierarchical_row_number,
    )

    def plan_of(df):
        jvm = spark.sparkContext._jvm
        return jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # Numeric tiebreak: recursion path.
    df = spark.createDataFrame(
        [(i, 7) for i in (5, 3, 9, 1, 12)], "id int, v int"
    )
    out = hierarchical_row_number(df, F.col("v"), tiebreak="id", out="rn")
    got = {r["id"]: r["rn"] for r in out.collect()}
    assert got == {1: 1, 3: 2, 5: 3, 9: 4, 12: 5}

    # String tiebreak: codepoint-bucket path.
    sdf = spark.createDataFrame(
        [(k, 7) for k in ("pear", "apple", "zeta", "banana")],
        "k string, v int",
    )
    sout = hierarchical_row_number(sdf, F.col("v"), tiebreak="k", out="rn")
    sgot = {r["k"]: r["rn"] for r in sout.collect()}
    assert sgot == {"apple": 1, "banana": 2, "pear": 3, "zeta": 4}
    # The window in the plan must carry a partition expression (no
    # foldable-literal key that Spark collapses to SinglePartition).
    assert "windowspecdefinition(ascii" in plan_of(sout).lower() or (
        "ascii" in plan_of(sout).lower()
    )

    # Fully-constant frame (order AND tiebreak tie): ranks are an
    # arbitrary-but-valid permutation; assert the rank SET.
    cdf = spark.createDataFrame([(1, 7)] * 4, "id int, v int")
    cout = hierarchical_row_number(cdf, F.col("v"), tiebreak="id", out="rn")
    assert sorted(r["rn"] for r in cout.collect()) == [1, 2, 3, 4]


def test_bucketed_prefix_sums_matches_global_scan(spark):
    """Running totals + row index from the bucketed prefix scan must
    equal a straight single-threaded scan in global order, on seeded
    random data with uneven bucket sizes (including an empty bucket
    range and a hot bucket)."""
    import random

    from scats_transis_kinesis_spark.operators.relational import (
        bucketed_prefix_sums,
    )

    rng = random.Random(13)
    # Keys cluster: bucket 3 hot, bucket 1 empty (key range skipped).
    keys = [rng.choice([0, 2, 3, 3, 3, 4]) * 100 + rng.randrange(100) for _ in range(400)]
    keys = sorted(set(keys))  # distinct order keys, like a CDF frame
    rows = [(k, rng.randrange(1, 50), rng.randrange(1, 9)) for k in keys]
    df = spark.createDataFrame(rows, "k long, a long, b long").withColumn(
        "bkt", (F.col("k") / 100).cast("long")
    )
    out = bucketed_prefix_sums(
        df, "bkt", [F.col("k")], {"a": "cum_a", "b": "cum_b"}, row_index="i"
    ).collect()
    got = {r["k"]: (r["i"], r["cum_a"], r["cum_b"]) for r in out}
    ca = cb = 0
    for i, (k, a, b) in enumerate(sorted(rows), start=1):
        ca, cb = ca + a, cb + b
        assert got[k] == (i, ca, cb), k
