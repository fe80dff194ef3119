"""Readings taken from Spark from the outside: executed plans, the status
tracker, streaming progress and the event log."""

from __future__ import annotations

import json
import os
import re

from perfbench.stats import median

_FROM_XML = re.compile(r"\bfrom_xml\(")


def count_from_xml(plan_text: str) -> int:
    """Number of ``from_xml`` expressions in a plan's text."""
    return len(_FROM_XML.findall(plan_text))


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def group_jobs_tasks(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            sinfo = tracker.getStageInfo(stage)
            tasks += sinfo.numTasks if sinfo else 0
    return len(jobs), tasks


PROGRESS_KEYS = {
    "trigger_ms_p50": "triggerExecution",
    "add_batch_ms_p50": "addBatch",
    "query_planning_ms_p50": "queryPlanning",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
    "latest_offset_ms_p50": "latestOffset",
}


def progress_summary(progress: list[dict]) -> dict[str, float]:
    """Medians of the ``durationMs`` breakdown over batches that read data."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    out: dict[str, float] = {"batches": float(len(batches))}
    if not batches:
        return out
    for name, key in PROGRESS_KEYS.items():
        out[name] = median([float(p["durationMs"].get(key, 0)) for p in batches])
    out["rows_per_batch"] = median([float(p["numInputRows"]) for p in batches])
    return out


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job intervals (ms), task run time (ms), shuffle
    bytes written and bytes spilled, from an uncompressed event log."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def grp(name: str) -> dict:
        return groups.setdefault(
            name, {"jobs": {}, "tasks": 0, "run_ms": 0, "shuffle_write": 0, "spill": 0}
        )

    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    job_group[ev["Job ID"]] = g
                    for s in ev.get("Stage IDs", ()):
                        stage_group[s] = g
                    grp(g)["jobs"][ev["Job ID"]] = [ev["Submission Time"], None]
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(ev["Job ID"])
                    if g is not None:
                        grp(g)["jobs"][ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    rec = grp(g)
                    rec["tasks"] += 1
                    rec["run_ms"] += m.get("Executor Run Time", 0)
                    rec["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rec["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return groups


def busy_ms(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(i for i in intervals if i[1] is not None):
        lo = max(lo, reach)
        if hi > lo:
            total += hi - lo
            reach = hi
    return total
