"""Run the benchmark over several seeds and report how steady it is.

    python3 perfbench/steady.py --workload capture_replay --seeds 1-10 [--trace 1]

For each metric: the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the quartile spread as a share
of the median, set against the metric's bound in ``BENCHMARK.json``.
Runs one at a time, from the checkout root; each run's result line is
kept in ``.perfbench_out/steady-<workload>-trace<t>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(".perfbench_out", exist_ok=True)
    log = f".perfbench_out/steady-{a.workload}-trace{a.trace}.jsonl"
    values: dict[str, list[float]] = {}
    with open(log, "a") as out:
        for s in seeds(a.seeds):
            cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                      "--seconds", str(seconds), "--trace", str(a.trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                  text=True, timeout=600)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            out.write(last + "\n")
            result = json.loads(last)
            if proc.returncode != 0 or not result.get("correct"):
                print(f"seed {s}: exit {proc.returncode}, result {last[:300]}", file=sys.stderr)
                continue
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"seed {s}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    print(f"{'metric':45s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} bound")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:45s} {len(vs):3d} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
              f"{bounds.get(k, '')}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
