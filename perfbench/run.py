"""Benchmark of the SCATS path and the analytics suite.

    python3 perfbench/run.py --workload capture_replay --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Workloads: ``capture_replay`` and
``analytics_mix`` (see ``BENCHMARK.json``).  The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, where ``metrics`` holds the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``.
The line before it gives sample counts and host diagnostics; the full
record and the spans are written under ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
PACKAGE = "scats_transis_kinesis_spark"


def _percentiles(latencies_s: list[float]) -> tuple[dict[str, float], dict[str, int]]:
    from perfbench.stats import percentile

    out, tails = {}, {}
    # 40 requests per run put ten samples beyond p75 (the tail rule);
    # p90 would rest on four.
    for q, name in ((0.5, "latency_p50_ms"), (0.75, "latency_p75_ms")):
        try:
            out[name] = percentile(latencies_s, q) * 1000
        except ValueError:
            # fewer samples than the tail rule wants: report the value
            # and say how many samples lie beyond it
            out[name] = percentile(latencies_s, q, min_tail=0) * 1000
        tails[name] = int(len(latencies_s) * (1 - q))
    return out, tails


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {ROOT}; run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.stats import cpu_times, host_diagnostics
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # One run at a time per checkout: runs share the work directory.
    lock = open(os.path.join(ROOT, harness.LOCK), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    cpu0 = cpu_times()
    work = harness.prepare_dirs(ROOT)
    harness.prepare_env(ROOT, work)
    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, args.seconds, work, tracer)

    t = time.monotonic()
    wl.generate()
    gen_s = time.monotonic() - t

    # Set-up runs from process start (imports, JVM launch, session) to
    # the end of warm-up, less the time spent making the inputs.
    spark = harness.build_session(work, wl.session_conf())
    session_s = time.monotonic() - T0 - gen_s
    try:
        with harness.RssSampler(harness.jvm_pid(spark)) as rss:
            t = time.monotonic()
            wl.warm_up(spark)
            warm_s = time.monotonic() - t
            res = wl.run(spark)
            wl.check(res, spark)
            layers = {}
            if tracer.enabled:
                layers = wl.layers(spark, res)
            harness.stop_jvm(spark)
        if tracer.enabled:
            layers.update(wl.layers_after_stop())
    finally:
        harness.stop_jvm(spark)

    setup_s = session_s + warm_s
    lat, tails = _percentiles(res.latencies_s)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": res.units / res.window_s if res.window_s > 0 else 0.0,
        "latency_p50_ms": lat["latency_p50_ms"],
        "latency_p75_ms": lat["latency_p75_ms"],
        "peak_rss_mb": rss.peak / 2**20,
    }
    per_layer = {
        "session.get_session_s": session_s,
        "session.warmup_s": warm_s,
        "jvm.peak_rss_mb": rss.root_peak / 2**20,
        "failed_share": res.failed / res.attempted if res.attempted else 1.0,
        "trace.throughput_per_s": e2e["throughput_per_s"],
        "trace.latency_p50_ms": e2e["latency_p50_ms"],
        **layers,
    }
    correct = res.failed == 0
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "samples": len(res.latencies_s),
        "samples_beyond": tails,
        "attempted": res.attempted,
        "failed": res.failed,
        "notes": res.notes,
        "latencies_ms": [round(x * 1000, 3) for x in res.latencies_s],
        "host": host_diagnostics(cpu0),
        "end_to_end": e2e,
        "per_layer": per_layer,
    }
    stem = os.path.join(ROOT, harness.OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    if tracer.enabled:
        tracer.dump(stem + ".spans.json")
    print(json.dumps({k: report[k] for k in (
        "workload", "seed", "samples", "samples_beyond", "notes", "host")}, default=str))
    # Every run prints the full metric list of BENCHMARK.json; a layer
    # this workload does not exercise reads 0.
    values, listed = (per_layer, spec["per_layer"]) if args.trace else (e2e, spec["end_to_end"])
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in listed},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
