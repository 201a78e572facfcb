"""Spans and counts recorded around the benchmark's calls into each layer.

A span records its name, start, end, parent span and op id. Each span gets
its own Spark job group while it is the innermost span, so every Spark job
is attributed to exactly one span; after the run, ``statusTracker`` turns
each group into job, stage and task counts. Other counters (stub requests,
files and bytes under a directory) are sampled at span entry and exit and
stored as deltas. Spans stay in memory until ``write`` is called.

A disabled tracer yields from ``span`` without recording anything, so the
untraced run pays one context-manager call per wrapped function.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections.abc import Callable
from contextlib import contextmanager

_GROUP_PROP = "spark.jobGroup.id"


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
            except FileNotFoundError:
                continue
            files += 1
    return files, size


class Tracer:
    def __init__(self, enabled: bool, run_id: str = "run"):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.probes: dict[str, Callable[[], float]] = {}
        self._stack: list[dict] = []
        self._sc = None
        self._run_id = run_id

    def bind(self, spark) -> None:
        """Attach to the current SparkContext (again after a restart);
        ``None`` detaches before the context stops."""
        self._sc = spark.sparkContext if spark is not None else None

    def probe(self, name: str, fn: Callable[[], float]) -> None:
        """Sample ``fn`` at every span boundary; spans store the delta."""
        self.probes[name] = fn

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{self._run_id}-{len(self.spans)}",
            "counts": {k: -fn() for k, fn in self.probes.items()},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setLocalProperty(_GROUP_PROP, rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            t_out = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(
                    _GROUP_PROP, parent["group"] if parent else None)
            for k, fn in self.probes.items():
                rec["counts"][k] += fn()
            rec["bookkeeping_s"] = rec["start"] - t_in + time.perf_counter() - t_out

    def wrap(self, fn: Callable, name: str, op: Callable[[], str]) -> Callable:
        """``fn`` inside a span named ``name``; ``op`` gives the op id."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, op()):
                return fn(*args, **kwargs)

        return traced

    def resolve_jobs(self) -> None:
        """Fill each span's own Spark job, stage and task counts. Call once
        per SparkContext, after its last traced action and before it
        stops."""
        if not self.enabled or self._sc is None:
            return
        sc = self._sc
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # the counts below are then a lower bound
            pass
        tracker = sc.statusTracker()
        for rec in self.spans:
            if "jobs" in rec:
                continue
            jobs = stages = tasks = failed = 0
            for job_id in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                jobs += 1
                for stage_id in info.stageIds:
                    st = tracker.getStageInfo(stage_id)
                    if st is None or st.numCompletedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
            rec["own"] = {"jobs": jobs, "stages": stages, "tasks": tasks,
                          "failed_tasks": failed}
            rec["jobs"] = jobs

    # ------------------------------------------------------------------
    # views over the recorded spans

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                out.setdefault(rec["parent"], []).append(rec)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover."""
        kids = self.children()
        return {
            rec["id"]: (rec["end"] - rec["start"])
            - sum(c["end"] - c["start"] for c in kids.get(rec["id"], []))
            for rec in self.spans
        }

    def inclusive(self, key: str) -> dict[int, float]:
        """A Spark count summed over each span and its descendants."""
        kids = self.children()
        memo: dict[int, float] = {}

        def total(rec: dict) -> float:
            if rec["id"] not in memo:
                memo[rec["id"]] = rec.get("own", {}).get(key, 0) + sum(
                    total(c) for c in kids.get(rec["id"], []))
            return memo[rec["id"]]

        return {rec["id"]: total(rec) for rec in self.spans}

    def write(self, path: str, t0: float) -> None:
        """Dump the spans as JSON lines, times relative to ``t0``."""
        with open(path, "w", encoding="utf-8") as f:
            for rec in self.spans:
                out = dict(rec)
                out["start"] = round(rec["start"] - t0, 6)
                out["end"] = round(rec["end"] - t0, 6)
                f.write(json.dumps(out, sort_keys=True) + "\n")
