#!/usr/bin/env python3
"""Summarize benchmark runs: per workload and metric, the median, the
quartiles and their spread ((q3 - q1) / median), as the acceptance rule
computes them; and, pooled over the runs, the latency views a single run
has too few ops for (p50 and the tail percentile of import batches, table
writes and table reads).

    python3 perfbench/summarize.py RUN_OUTPUT...

Each argument is a file holding one run's standard output; the workload is
read from its detail line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.stats import median, tail  # noqa: E402

#: pooled view -> (workload, op kinds it takes)
POOLED = {
    "import_batch": ("import", None),
    "table_write": ("table", gen.WRITE_VERBS),
    "table_read": ("table", gen.READ_VERBS),
}


def load(paths: list[str]) -> dict[str, list[tuple[dict, dict]]]:
    runs: dict[str, list[tuple[dict, dict]]] = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        runs.setdefault(detail["workload"], []).append((detail, result))
    return runs


def _pooled(workload: str, details: list[dict]) -> dict:
    out = {}
    for view, (wl, kinds) in POOLED.items():
        if wl != workload:
            continue
        xs = [lat for d in details for _op, kind, lat in d["ops"]
              if kinds is None or kind in kinds]
        p, v = tail(xs)
        out[view] = {"n": len(xs), "p50_s": median(xs), "tail_pct": p, "tail_s": v}
    return out


def summarize(runs: dict[str, list[tuple[dict, dict]]]) -> dict:
    out = {}
    for workload, pairs in sorted(runs.items()):
        results = [r for _d, r in pairs]
        metrics = {}
        for name in results[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(values)
            q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                         else (med, med, med))
            metrics[name] = {"median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med if med else 0.0,
                             "unit": results[0]["metrics"][name]["unit"],
                             "n": len(values)}
        out[workload] = {"runs": len(results),
                         "seeds": [d["seed"] for d, _r in pairs],
                         "all_correct": all(r["correct"] for r in results),
                         "metrics": metrics,
                         "pooled": _pooled(workload, [d for d, _r in pairs])}
    return out


if __name__ == "__main__":
    print(json.dumps(summarize(load(sys.argv[1:])), indent=2, sort_keys=True))
