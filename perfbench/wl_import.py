"""``import`` workload: batches of ``NewInstance`` payloads through one
import pipeline into one graph store that already holds ``gen.HISTORY``
imported instances, written in set-up.

One op is one batch: build the batch's event and fetch DataFrames and call
``runner.import_batch``. Instances and dimension pages come over HTTP from
the in-process stub, with ``partitions x max_workers`` at most ``nproc``.
``WARMUP`` batches go into the store untimed, then the window imports one
batch after another until ``--seconds`` have passed; the store grows over
the run. After each op, outside its timing, the store and the sinks are
compared with the reference model.
"""

from __future__ import annotations

import glob
import io
import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import adapter, gen
from perfbench.model import ImportModel, check_import
from perfbench.harness import SETUPS, nproc
from perfbench.stub_api import StubDatasetAPI
from perfbench.spans import dir_usage

#: Batches imported before the window, untimed. The first batch in a fresh
#: JVM takes about twice as long as the next ones (30 against 17 s on 4
#: shared cores) and varies far more from run to run.
WARMUP = 1
#: Batches generated per run, more than the window can import.
MAX_BATCHES = 8
#: The fetchers read one partition of instance ids with this many client
#: threads, so client concurrency (partitions x threads) is ``nproc``.
FETCH_WORKERS = nproc()


class ImportState:
    def __init__(self, h, inputs: dict, stub: StubDatasetAPI, name: str):
        from dp_dimension_importer_spark.pipeline.models import CODE_LIST_SCHEMA

        base = h.path(name)
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        self.inputs = inputs
        self.stub = stub
        self.graph_dir = os.path.join(base, "graph")
        self.completed_dir = os.path.join(base, "completed")
        self.dead_dir = os.path.join(base, "dead_letter")
        self.store = adapter.call("pipeline.graph_store", h.spark, self.graph_dir)
        self.sender = adapter.call("pipeline.patch_sender",
                                   os.path.join(base, "patches.jsonl"))
        self.code_lists = h.spark.createDataFrame(inputs["code_lists"],
                                                  CODE_LIST_SCHEMA)
        self.model = ImportModel(inputs["instances"], inputs["code_lists"])
        self.model.load_history(inputs["history"])
        nodes = [n[:4] + (list(n[4]) if n[4] is not None else None,)
                 for n in sorted(self.model.nodes, key=str)]
        adapter.call("pipeline.seed_store", self.store, nodes,
                     sorted(self.model.edges, key=str))


def _import(h, st: ImportState, batch: dict, op: str) -> None:
    spark = h.spark
    with h.tracer.span("pipeline.import_batch", op):
        raw = adapter.call("pipeline.read_event_batch", spark, batch["payloads"])
        ids = spark.createDataFrame([(i,) for i in batch["fetch"]],
                                    "instance_id string").coalesce(1)
        instances = adapter.call("pipeline.fetch_instances", ids, st.stub.url,
                                 FETCH_WORKERS)
        dims = adapter.call("pipeline.fetch_dimensions", ids, st.stub.url,
                            gen.PAGE_SIZE, FETCH_WORKERS)
        adapter.call("pipeline.import_batch", raw, instances, dims,
                     st.code_lists, st.store, st.sender, st.completed_dir,
                     st.dead_dir)


def _needed_gets(inputs: dict, batch: dict) -> int:
    """GETs one fetch of the batch needs: per instance, its entity plus one
    per dimension page."""
    pages = (-(-len(inputs["instances"][i]["dimensions"]) // gen.PAGE_SIZE)
             for i in batch["fetch"])
    return sum(1 + max(1, p) for p in pages)


def _jsonl_rows(path: str) -> list[dict]:
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f, encoding="utf-8") as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def _table_rows(path: str, cols: list[str]) -> list[tuple]:
    if not os.path.isdir(path):
        return []
    part = ds.partitioning(pa.schema([("instance_id", pa.string())]), flavor="hive")
    t = ds.dataset(path, format="parquet", partitioning=part).to_table(columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def check(st: ImportState) -> list[str]:
    nodes = _table_rows(os.path.join(st.graph_dir, "nodes"),
                        ["node_kind", "instance_id", "dimension_name", "option",
                         "csv_header"])
    edges = _table_rows(os.path.join(st.graph_dir, "edges"),
                        ["instance_id", "code_list_id", "code"])
    completed = [(r.get("file_url"), r.get("instance_id"))
                 for r in _jsonl_rows(st.completed_dir)]
    dead = [(r.get("payload"), r.get("reason")) for r in _jsonl_rows(st.dead_dir)]
    return check_import(st.model, nodes, edges, st.sender.calls(), completed, dead)


def _wrap_layers(h, st: ImportState, current_op: list[str]) -> list:
    """Trace the runner's inner calls; returns the undo list."""
    undo = []
    op = lambda: current_op[0]  # noqa: E731
    for mod, attr, name in adapter.IMPORT_INNER:
        orig = getattr(mod, attr)
        setattr(mod, attr, h.tracer.wrap(orig, name, op))
        undo.append((mod, attr, orig))
    for meth, name in adapter.STORE_METHODS:
        setattr(st.store, meth, h.tracer.wrap(getattr(st.store, meth), name, op))
    return undo


def _step(h, st: ImportState, batch: dict, op: str) -> dict:
    """Import one batch, then check the sinks against the model."""
    t = time.perf_counter()
    error = None
    try:
        _import(h, st, batch, op)
    except Exception as e:  # an op that raises counts as failed
        error = repr(e)[:300]
    latency = time.perf_counter() - t
    h.tracer.resolve_jobs()
    new = st.model.apply(batch)
    bad = [error] if error else check(st)
    return {"op": op, "kind": "import_batch", "latency": latency, "ok": not bad,
            "errors": bad, "instances": len(new),
            "needed": _needed_gets(st.inputs, batch)}


def run(h, seed: int, seconds: float) -> dict:
    """``WARMUP`` batches, then the window's batches, into one store."""
    inputs = gen.import_inputs(seed, WARMUP + MAX_BATCHES)
    stub = StubDatasetAPI(inputs["instances"])
    try:
        st = h.setup(lambda i: ImportState(h, inputs, stub, f"import{i}"))
        for i in range(SETUPS - 1):
            shutil.rmtree(h.path(f"import{i}"))
        current_op = ["start"]
        undo = _wrap_layers(h, st, current_op) if h.tracer.enabled else []
        h.tracer.probe("http_instance", lambda: stub.snapshot()["instance"])
        h.tracer.probe("http_dimensions", lambda: stub.snapshot()["dimensions"])
        h.tracer.probe("http_instance_s", lambda: stub.snapshot()["instance_s"])
        h.tracer.probe("http_dimensions_s", lambda: stub.snapshot()["dimensions_s"])
        h.tracer.probe("graph_files", lambda: dir_usage(st.graph_dir)[0])
        h.tracer.probe("graph_bytes", lambda: dir_usage(st.graph_dir)[1])

        def step(op: str, batch: dict):
            def go() -> dict:
                current_op[0] = op
                return _step(h, st, batch, op)
            return go

        batches = st.inputs["batches"]
        try:
            warmup = [step(f"warmup-{i}", b)() for i, b in enumerate(batches[:WARMUP])]
            ops = h.window(seconds, (step(f"batch-{i}", b)
                                     for i, b in enumerate(batches[WARMUP:])))
        finally:
            for mod, attr, orig in undo:
                setattr(mod, attr, orig)
        return {
            "ops": ops,
            "warmup": warmup,
            "patch_calls": len(st.sender.calls()),
            "graph_partitions": len(glob.glob(os.path.join(st.graph_dir, "nodes",
                                                           "instance_id=*"))),
            "graph_usage": dir_usage(st.graph_dir),
            "space_once": _space_once(st),
        }
    finally:
        stub.close()


def _space_once(st: ImportState) -> int:
    """Bytes of the store's live rows written once, unpartitioned, with
    the table codec."""
    total = 0
    for sub in ("nodes", "edges"):
        path = os.path.join(st.graph_dir, sub)
        if not os.path.isdir(path):
            continue
        part = ds.partitioning(pa.schema([("instance_id", pa.string())]), flavor="hive")
        t = ds.dataset(path, format="parquet", partitioning=part).to_table()
        buf = io.BytesIO()
        pq.write_table(t, buf, compression=adapter.CODEC)
        total += buf.tell()
    return total
