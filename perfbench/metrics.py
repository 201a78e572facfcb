"""The benchmark's definition: its workloads, and every metric it reports
with name, unit, direction, and for each per-layer metric the end-to-end
metric and workload it should move.

``BENCHMARK.json`` is generated from this module
(``python3 perfbench/metrics.py`` rewrites it); a test keeps the two in
step.

End-to-end metrics are reported on every workload under the same names, by
what an op is there: one import batch (``import``), one storage verb call or
one query (``table``). They cover the window's ops, not the warm-up's.
Workload-specific views (write vs read latency, tails, space amplification,
query time) are printed on the detail line before the result line, under
``workload_metrics``.

Per-layer metrics come from the traced run. A layer a workload does not
exercise reports 0 there. ``.s`` metrics are seconds of the layer's self
time per op (median over ops); ``.jobs`` are Spark jobs started while the
layer was the innermost span, per op (median).
"""

from __future__ import annotations

import json
import os

#: The window runs whole rounds (one import batch; one table cycle and its
#: query) until this many seconds have passed. A warm round takes 9-26 s on
#: 4 shared vCPUs, so every run there times exactly one round.
RUN_SECONDS = 5
WORKLOADS = [
    ("import", "NewInstance batches with bad payloads, a redelivery and paged "
               "fetches through the pipeline into a graph store of 40+ "
               "instances: the pipeline and its sinks do the work"),
    ("table", "skewed writes, point, latest, time-travel and change reads, "
              "compaction and vacuum on one snapshot table, then an analytics "
              "query on fresh data: storage and operators do the work"),
]

#: The operator modules of ``queries.SAMPLE``.
MODULES = ("analytics",)
VERBS = (
    "upsert_delta", "merge_into", "delete_where", "update_where",
    "compact_mor", "vacuum", "read_latest", "read_point", "read_asof",
    "version_delta",
)

# name, unit, better, bound
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_geomean_s", "s", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

#: (name, unit, better, moves: end-to-end metric -> workload)
PER_LAYER: list[tuple[str, str, str, str]] = [
    ("session.get_spark.s", "s", "lower", "setup_s: all"),
    ("spark.jobs_per_op", "count", "lower", "op_geomean_s: all"),
    ("spark.stages_per_op", "count", "lower", "op_geomean_s: all"),
    ("spark.tasks_per_op", "count", "lower", "op_geomean_s: all"),
    ("spark.failed_tasks", "count", "lower", "op_geomean_s: all"),
    ("trace.op_geomean_s", "s", "lower", "op_geomean_s with tracing on: all"),
    ("trace.overhead_frac", "ratio", "lower", "tracer bookkeeping / op time: all"),
    # pipeline.http_client (stub-side busy time: the fetch runs in workers)
    ("pipeline.fetch_instances.s", "s", "lower", "throughput_per_s, op_geomean_s: import"),
    ("pipeline.fetch_dimensions.s", "s", "lower", "throughput_per_s, op_geomean_s: import"),
    ("pipeline.http.requests", "count", "lower", "throughput_per_s, op_geomean_s: import"),
    ("pipeline.http.requests_per_needed", "ratio", "lower", "throughput_per_s, op_geomean_s: import"),
    # pipeline.sources / importer
    ("pipeline.decode_events.s", "s", "lower", "op_geomean_s: import"),
    ("pipeline.run_import.s", "s", "lower", "op_geomean_s: import"),
    # pipeline.runner and pipeline.sinks
    ("pipeline.import_batch.self_s", "s", "lower", "op_geomean_s: import"),
    ("pipeline.import_batch.self_jobs", "count", "lower", "op_geomean_s: import"),
    ("pipeline.read_nodes.s", "s", "lower", "op_geomean_s (history size): import"),
    ("pipeline.write_nodes.s", "s", "lower", "op_geomean_s (history size): import"),
    ("pipeline.write_nodes.jobs", "count", "lower", "op_geomean_s: import"),
    ("pipeline.write_edges.s", "s", "lower", "op_geomean_s (history size): import"),
    ("pipeline.write_edges.jobs", "count", "lower", "op_geomean_s: import"),
    ("pipeline.patch_sink.s", "s", "lower", "op_geomean_s: import"),
    ("pipeline.patch_sink.jobs", "count", "lower", "op_geomean_s: import"),
    ("pipeline.event_sink.s", "s", "lower", "op_geomean_s: import"),
    ("pipeline.event_sink.jobs", "count", "lower", "op_geomean_s: import"),
    ("pipeline.patch.calls_per_instance", "ratio", "lower", "op_geomean_s: import"),
    ("pipeline.graph.files_per_batch", "count", "lower", "op_geomean_s (history size): import"),
    ("pipeline.graph.bytes_per_batch", "B", "lower", "op_geomean_s (history size): import"),
    ("pipeline.graph.partitions", "count", "lower", "op_geomean_s (history size): import"),
    ("pipeline.graph.space_amp", "ratio", "lower", "peak disk use: import"),
]
for _v in VERBS:
    _moves = ("op_geomean_s (reads): table" if _v.startswith(("read", "version"))
              else "op_geomean_s (writes): table")
    PER_LAYER.append((f"storage.{_v}.p50_s", "s", "lower", _moves))
    PER_LAYER.append((f"storage.{_v}.jobs", "count", "lower", _moves))
PER_LAYER += [
    ("storage.bytes_written_per_user_byte", "ratio", "lower", "op_geomean_s (writes), space: table"),
    ("storage.files_per_commit", "count", "lower", "op_geomean_s (reads): table"),
    ("storage.live_files", "count", "lower", "op_geomean_s (reads): table"),
    ("storage.delta_groups_at_read", "count", "lower", "op_geomean_s (reads), the compaction trade: table"),
    ("storage.space_amp", "ratio", "lower", "space: table"),
]
for _m in MODULES:
    _moves = "op_geomean_s, throughput_per_s (queries): table"
    PER_LAYER.append((f"operators.{_m}.s", "s", "lower", _moves))
    PER_LAYER.append((f"operators.{_m}.jobs", "count", "lower", _moves))
PER_LAYER += [
    ("query.fixture_s", "s", "lower", "op_geomean_s (queries): table"),
    ("query.exec_s", "s", "lower", "op_geomean_s (queries): table"),
]

PER_LAYER_UNITS = {name: unit for name, unit, _b, _m in PER_LAYER}
END_TO_END_UNITS = {name: unit for name, unit, _b, _bound in END_TO_END}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, u, b, bound in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b, _m in PER_LAYER],
    }


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), "w", encoding="utf-8") as f:
        f.write(json.dumps(benchmark_json(), indent=2) + "\n")
