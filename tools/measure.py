#!/usr/bin/env python
"""Isolated per-query measurement (optimization-round harness).

Times each named registry query min-of-N with the noop sink (guide
S1.4) in a fresh tuned session, optionally dumping
``.explain("formatted")`` per query, and prints one JSON line.

Usage:
    python tools/measure.py q1 q2 ... [--passes 3] [--explain-dir plans/r10]
        [--suffix _before] [--sf-dir DIR] [--json OUT]

The timing methodology matches bench.py (noop sink, clearCache between
passes, min-of-N as the spike-robust estimator on this bursty host) so
isolated numbers are comparable to suite numbers.

The JSON line carries, per query, the Spark jobs of its first pass
(build plus noop run), counted under a job group.  The formatted plans
written to ``--explain-dir`` have their expression ids (``#123``), RDD
ids and call sites, and exchange ``plan_id`` numbers stripped, so the
plans of two checkouts compare with ``diff -r``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# What differs between two builds of one plan: expression ids
# (``u#35L``), exchange plan ids, and RDD ids with their call site
# (``MapPartitionsRDD[19] at localCheckpoint at <file>:0``; the JVM
# names the reflection frame differently once it has compiled an
# accessor for the call).
_EXPR_IDS = re.compile(r"(?<=#)\d+|(?<=plan_id=)\d+")
_RDD_IDS = re.compile(r"RDD\[\d+\](?P<op> at \w+)?(?: at \S+:\d+)?")


def strip_plan_ids(plan: str) -> str:
    return _RDD_IDS.sub(r"RDD[]\g<op>", _EXPR_IDS.sub("", plan))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    from scats_transis_kinesis_spark.plans.registry import REGISTRY
    from scats_transis_kinesis_spark.session import get_session

    spark = get_session(
        app_name="measure",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    # Warm JVM/parquet footers the way bench.py does.
    REGISTRY["q1_pricing_summary"].fn(spark, args.sf_dir).write.mode(
        "overwrite"
    ).format("noop").save()

    times: dict[str, float] = {}
    jobs: dict[str, int] = {}
    for name in args.queries:
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = REGISTRY[name].fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(
                os.path.join(args.explain_dir, f"{name}{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(strip_plan_ids(plan))
            spark.catalog.clearCache()
        best = None
        for i in range(args.passes):
            group = f"measure:{name}:{i}"
            sc.setJobGroup(group, f"measure:{name}")
            t0 = time.time()
            REGISTRY[name].fn(spark, args.sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            dt = time.time() - t0
            if i == 0:
                jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
            best = dt if best is None else min(best, dt)
            spark.catalog.clearCache()
        times[name] = round(best, 3)
        print(f"== {name}: {times[name]}s, {jobs[name]} jobs", flush=True)

    out = {
        "sf_dir": args.sf_dir,
        "passes": args.passes,
        "queries": times,
        "jobs": jobs,
    }
    line = json.dumps(out)
    if args.json:
        with open(args.json, "w") as fh:
            fh.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
