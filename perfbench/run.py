#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {import,table} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Each run starts one SparkSession, and with
it one JVM, on ``local[nproc]``, sets the workload up ``harness.SETUPS``
times (``setup_s`` is the cold start plus their median), runs the
workload's warm-up rounds untimed, then runs rounds of ops in a closed loop
with one client until ``--seconds`` have passed, and checks every op's
output against a reference outside the op's timing. Warm-up ops count as
attempted, and fail the run when wrong, but are not in the metrics.

Standard output ends with two JSON lines: a detail line (environment pins,
the workload's own metrics, every op's latency, any errors) and the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, and the spans go to ``.perfbench_runs/``. The exit code is 0 when
every output was correct, 1 when one was not, 2 when the run could not
start (for instance, the program is missing).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("import", "table")
RUNS_DIR = ".perfbench_runs"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dp_dimension_importer_spark")):
        print("perfbench: dp_dimension_importer_spark is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    pins = harness.pin_env(ROOT)
    try:
        from perfbench import report, wl_import, wl_table
        from perfbench.spans import Tracer
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    module = {"import": wl_import, "table": wl_table}[args.workload]
    tracer = Tracer(enabled=args.trace == 1, run_id=f"{args.workload}-{args.seed}")
    h = harness.Harness(pins, tracer)
    t0 = time.perf_counter()
    try:
        res = module.run(h, args.seed, args.seconds)
        rss = h.peak_rss_mb()
    finally:
        h.shutdown()
        shutil.rmtree(pins["work"], ignore_errors=True)
    wall = time.perf_counter() - t0

    ops = res["ops"]
    attempted = ops + res["warmup"]
    failed = sum(1 for o in attempted if not o["ok"])
    correct = bool(ops) and failed == 0
    e2e = report.end_to_end(args.workload, res, h.setup_s, rss)
    if args.trace:
        values = report.per_layer(args.workload, res, tracer)
        units = report.metrics.PER_LAYER_UNITS
        os.makedirs(os.path.join(ROOT, RUNS_DIR), exist_ok=True)
        tracer.write(os.path.join(ROOT, RUNS_DIR,
                                  f"spans-{args.workload}-{args.seed}.jsonl"), t0)
    else:
        values, units = e2e, report.metrics.END_TO_END_UNITS
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": pins["nproc"],
        "mem_total_mb": pins["mem_total_mb"],
        "env": {k: v for k, v in pins["env"].items()},
        "conf": pins["conf"],
        "cold_start_s": h.cold_start_s,
        "setup_runs_s": h.setup_runs,
        "seconds": args.seconds,
        "window_s": h.window_s,
        "wall_s": wall,
        "ops": [[o["op"], o["kind"], o["latency"]] for o in ops],
        "warmup_ops": [[o["op"], o["kind"], o["latency"]] for o in res["warmup"]],
        "workload_metrics": report.workload_view(
            args.workload, res, e2e, failed / len(attempted)),
        "errors": [{"op": o["op"], "errors": o["errors"]}
                   for o in attempted if not o["ok"]][:10],
    }
    if args.trace:
        detail["self_time"] = report.self_time_by_layer(res, tracer)
    print(json.dumps(detail, sort_keys=True), flush=True)
    print(json.dumps({
        "correct": correct,
        "attempted": len(attempted),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
