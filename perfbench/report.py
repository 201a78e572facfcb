"""Turn a workload's op records and the tracer's spans into metrics."""

from __future__ import annotations

from collections import defaultdict

from perfbench import gen, metrics
from perfbench.stats import geomean, median, tail

#: The spans each workload opens around one op.
OP_SPAN = {"import": ("pipeline.import_batch",), "table": ("storage.", "operators.")}


def kind_geomean(ops: list[dict]) -> float:
    """Geometric mean over op kinds of each kind's median latency: every
    verb or query counts the same, however long it takes and however often
    the window ran it."""
    by_kind: dict[str, list[float]] = defaultdict(list)
    for o in ops:
        by_kind[o["kind"]].append(o["latency"])
    return geomean([median(xs) for xs in by_kind.values()])


def end_to_end(workload: str, res: dict, setup_s: float, rss_mb: float) -> dict:
    """Over the window's ops: ``op_geomean_s`` by ``kind_geomean``, and
    ``throughput_per_s`` as work done (import: instances imported; table:
    ops) per second of op time."""
    ops = res["ops"]
    busy = sum(o["latency"] for o in ops)
    if workload == "import":
        work = sum(o["instances"] for o in ops)
    else:
        work = len(ops)
    return {
        "setup_s": setup_s,
        "op_geomean_s": kind_geomean(ops),
        "throughput_per_s": work / busy if busy else 0.0,
        "peak_rss_mb": rss_mb,
    }


def _tail_view(prefix: str, xs: list[float], out: dict) -> None:
    p, v = tail(xs)
    out[f"{prefix}_p50_s"] = (median(xs), "s")
    out[f"{prefix}_tail_s"] = (v, "s")
    out[f"{prefix}_tail_pct"] = (p, "percentile")
    out[f"{prefix}_n"] = (len(xs), "count")


def workload_view(workload: str, res: dict, e2e: dict, failed_frac: float) -> dict:
    """The workload's own metrics, under the names of the benchmark's
    definition; a tail is null when fewer than ``stats.TAIL_BEYOND``
    samples lie beyond the median."""
    ops = res["ops"]
    out = {"setup_s": (e2e["setup_s"], "s"),
           "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
           "failed_frac": (failed_frac, "ratio")}
    if workload == "import":
        out["import_instances_per_s"] = (e2e["throughput_per_s"], "1/s")
        _tail_view("import_batch", [o["latency"] for o in ops], out)
    else:
        out["table_ops_per_s"] = (e2e["throughput_per_s"], "1/s")
        _tail_view("table_write", [o["latency"] for o in ops
                                   if o["kind"] in gen.WRITE_VERBS], out)
        _tail_view("table_read", [o["latency"] for o in ops
                                  if o["kind"] in gen.READ_VERBS], out)
        out["table_space_amp"] = (res["space_amp"], "ratio")
        rounds = len({o["op"].split("-")[0] for o in ops})
        query_ops = [o for o in ops if "query" in o]
        out["query_total_s"] = (sum(o["latency"] for o in query_ops) / rounds, "s")
        out["query_geomean_s"] = (kind_geomean(query_ops), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def self_time_by_layer(res: dict, tracer) -> dict:
    """Self time per span name summed over the timed ops, next to the
    summed op latency: the layers' self times add up to the op time."""
    op_ids = {o["op"] for o in res["ops"]}
    selfs = tracer.self_times()
    out: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        if s["op"] in op_ids:
            out[s["name"]] += selfs[s["id"]]
    return {"self_s": dict(sorted(out.items())),
            "self_sum_s": sum(out.values()),
            "op_latency_sum_s": sum(o["latency"] for o in res["ops"]),
            "tracer_bookkeeping_s": sum(s["bookkeeping_s"] for s in tracer.spans
                                        if s["op"] in op_ids)}


def per_layer(workload: str, res: dict, tracer) -> dict:
    """Every ``metrics.PER_LAYER`` metric; 0 for layers this workload does
    not run."""
    out = {name: 0.0 for name, *_ in metrics.PER_LAYER}
    selfs = tracer.self_times()
    jobs = tracer.inclusive("jobs")
    stages = tracer.inclusive("stages")
    tasks = tracer.inclusive("tasks")
    failed = tracer.inclusive("failed_tasks")
    op_ids = {o["op"] for o in res["ops"]}
    roots = [s for s in tracer.spans if s["parent"] is None and s["op"] in op_ids
             and s["name"].startswith(OP_SPAN[workload])]
    span_of = {s["op"]: s for s in roots}
    by_op: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        if s["op"] in op_ids:
            by_op[s["op"]].append(s)

    def per_op(name: str, value) -> float:
        """Median over ops of ``value(span)`` summed over the op's spans
        named ``name``."""
        return median([sum(value(s) for s in spans if s["name"] == name)
                       for spans in by_op.values()])

    own_jobs = lambda s: s.get("own", {}).get("jobs", 0)  # noqa: E731
    lat = [o["latency"] for o in res["ops"]]
    # the cold start: the run's one session, which launches the JVM
    cold = next(s for s in tracer.spans if s["name"] == "session.get_spark")
    out["session.get_spark.s"] = cold["end"] - cold["start"]
    out["spark.jobs_per_op"] = median([jobs[s["id"]] for s in roots])
    out["spark.stages_per_op"] = median([stages[s["id"]] for s in roots])
    out["spark.tasks_per_op"] = median([tasks[s["id"]] for s in roots])
    out["spark.failed_tasks"] = sum(failed[s["id"]] for s in roots)
    out["trace.op_geomean_s"] = kind_geomean(res["ops"])
    out["trace.overhead_frac"] = sum(
        s["bookkeeping_s"] for spans in by_op.values() for s in spans) / sum(lat)

    if workload == "import":
        counts = [s["counts"] for s in roots]
        reqs = [c["http_instance"] + c["http_dimensions"] for c in counts]
        out["pipeline.fetch_instances.s"] = median([c["http_instance_s"] for c in counts])
        out["pipeline.fetch_dimensions.s"] = median([c["http_dimensions_s"] for c in counts])
        out["pipeline.http.requests"] = median(reqs)
        out["pipeline.http.requests_per_needed"] = (
            sum(reqs) / sum(o["needed"] for o in res["ops"]))
        for layer in ("decode_events", "run_import", "read_nodes", "write_nodes",
                      "write_edges", "patch_sink", "event_sink"):
            name = f"pipeline.{layer}"
            out[f"{name}.s"] = per_op(name, lambda s: selfs[s["id"]])
            if f"{name}.jobs" in out:
                out[f"{name}.jobs"] = per_op(name, own_jobs)
        out["pipeline.import_batch.self_s"] = median([selfs[s["id"]] for s in roots])
        out["pipeline.import_batch.self_jobs"] = median([own_jobs(s) for s in roots])
        out["pipeline.patch.calls_per_instance"] = (
            res["patch_calls"] / sum(o["instances"] for o in res["ops"] + res["warmup"]))
        out["pipeline.graph.files_per_batch"] = median([c["graph_files"] for c in counts])
        out["pipeline.graph.bytes_per_batch"] = median([c["graph_bytes"] for c in counts])
        out["pipeline.graph.partitions"] = res["graph_partitions"]
        out["pipeline.graph.space_amp"] = res["graph_usage"][1] / res["space_once"]
    else:
        for verb in metrics.VERBS:
            mine = [o for o in res["ops"] if o["kind"] == verb]
            out[f"storage.{verb}.p50_s"] = median([o["latency"] for o in mine])
            out[f"storage.{verb}.jobs"] = median([jobs[span_of[o["op"]]["id"]]
                                                  for o in mine])
        writes = [o for o in res["ops"] if o["kind"] in gen.WRITE_VERBS]
        written = sum(max(0, span_of[o["op"]]["counts"]["table_bytes"])
                      for o in res["ops"] if o["kind"] in gen.WRITE_VERBS + ("compact_mor",))
        user = sum(o.get("user_bytes", 0) for o in writes)
        out["storage.bytes_written_per_user_byte"] = written / user if user else 0.0
        out["storage.files_per_commit"] = median(
            [span_of[o["op"]]["counts"]["table_files"] for o in writes])
        out["storage.live_files"] = res["live_files"]
        out["storage.delta_groups_at_read"] = median(
            [o["delta_groups"] for o in res["ops"] if o["kind"] in gen.READ_VERBS])
        out["storage.space_amp"] = res["space_amp"]
        for mod in metrics.MODULES:
            mine = [o for o in res["ops"] if o["kind"] == mod]
            out[f"operators.{mod}.s"] = median([o["latency"] for o in mine])
            out[f"operators.{mod}.jobs"] = median([jobs[span_of[o["op"]]["id"]]
                                                   for o in mine])
        query_ops = [o for o in res["ops"] if "query" in o]
        out["query.fixture_s"] = median([o["fixture_s"] for o in query_ops])
        out["query.exec_s"] = median([o["exec_s"] for o in query_ops])
    return out
