"""The only place the benchmark names the program's functions.

Each entry of ``CALLS`` maps a layer call name (the span name the traced run
records) to a one-line function calling the public function behind it, with
the benchmark's fixed arguments. When a verb is renamed or folded into
another, edit its line here; no workload changes.

``IMPORT_INNER`` and ``STORE_METHODS`` list the functions the import runner
calls, wrapped in the traced run where the runner looks them up.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from dp_dimension_importer_spark import registry, session, storage
from dp_dimension_importer_spark.pipeline import (
    http_client,
    importer,
    models,
    runner,
    sinks,
    sources,
)

KEY = ["k"]
SEQ = "seq"
#: The table format's parquet codec, for "written once" size baselines.
CODEC = storage.PARQUET_CODEC

CALLS = {
    # session
    "session.get_spark": lambda **conf: session.get_spark(
        app_name="perfbench", extra_conf=conf),
    # pipeline
    "pipeline.read_event_batch": sources.read_event_batch,
    "pipeline.fetch_instances": lambda ids, url, workers: http_client.fetch_instances_http(
        ids, url, max_workers=workers),
    "pipeline.fetch_dimensions": lambda ids, url, page, workers: http_client.fetch_dimensions_http(
        ids, url, page_size=page, max_workers=workers),
    "pipeline.graph_store": sinks.ParquetGraphStore,
    "pipeline.seed_store": lambda store, nodes, edges: (
        _write_partitioned(store.nodes_dir, nodes, models.NODE_SCHEMA),
        _write_partitioned(store.edges_dir, edges, models.EDGE_SCHEMA)),
    "pipeline.patch_sender": sinks.RecordingPatchSender,
    "pipeline.import_batch": runner.import_batch,
    # storage
    "storage.write": lambda spark, path, df: storage.write_snapshot(
        spark, df, path, stats_cols=KEY),
    "storage.index_bloom": lambda spark, path: storage.index_bloom_snapshot(
        spark, path, "k"),
    "storage.upsert_delta": lambda spark, path, df: storage.upsert_delta_snapshot(
        spark, path, df, key_cols=KEY, seq_col=SEQ),
    "storage.merge_into": lambda spark, path, df: storage.merge_into_snapshot(
        spark, path, df, KEY, update_set={"val": "src_val", "seq": "src_seq"},
        insert=True),
    "storage.delete_where": lambda spark, path, pred: storage.delete_where_snapshot(
        spark, path, pred)["version"],
    "storage.update_where": lambda spark, path, sets, pred: storage.update_where_snapshot(
        spark, path, sets, pred)["version"],
    "storage.compact_mor": lambda spark, path: storage.compact_mor(spark, path),
    "storage.vacuum": lambda spark, path, keep: storage.vacuum_snapshots(
        path, keep_last=keep),
    "storage.read_latest": lambda spark, path: storage.read_snapshot(spark, path),
    "storage.read_point": lambda spark, path, keys: storage.read_snapshot_point(
        spark, path, "k", keys),
    "storage.read_asof": lambda spark, path, v: storage.read_snapshot(
        spark, path, version=v),
    "storage.version_delta": lambda spark, path, v, base: storage.version_delta(
        spark, path, v, KEY, base_version=base),
    # operators
    "registry.queries": lambda: registry.QUERIES,
    "registry.oracle_sql": lambda: registry.ORACLE_SQL,
}

#: (module, attribute, span name): the runner calls ``sources.decode_events``
#: and ``importer.run_import`` through their modules, and the sinks through
#: names bound in ``runner``.
IMPORT_INNER = [
    (sources, "decode_events", "pipeline.decode_events"),
    (importer, "run_import", "pipeline.run_import"),
    (runner, "patch_sink", "pipeline.patch_sink"),
    (runner, "jsonl_event_sink", "pipeline.event_sink"),
]

#: Graph-store methods the runner calls: (method, span name).
STORE_METHODS = [
    ("nodes", "pipeline.read_nodes"),
    ("write_nodes", "pipeline.write_nodes"),
    ("write_edges", "pipeline.write_edges"),
]


def _write_partitioned(path: str, rows: list[tuple], schema) -> None:
    """Rows in the graph store's layout (parquet, hive-partitioned by
    ``instance_id``), written with pyarrow so that set-up pays no Spark
    job for the store's history."""
    names = [f.name for f in schema.fields]
    table = pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)},
                     schema=to_arrow_schema(schema))
    pq.write_to_dataset(table, path, partition_cols=["instance_id"])


def call(name: str, *args, **kwargs):
    return CALLS[name](*args, **kwargs)
