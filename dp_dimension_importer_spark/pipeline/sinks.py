"""Sinks: graph tables, buffered patch calls, completion + dead-letter
topics (reference R10/R12/R16/R17/R19/R20).

The reference's ``Storer`` (store/store.go:14-25) talks Gremlin/bolt; the
Spark-native sink is a property graph as two tables (nodes, edges) written
idempotently — the uniqueness constraint (R18) becomes dedup-on-write +
anti-join against what exists. The patch-back collects a batch's few patch
rows to the driver and sends one call per instance (the reference's
mongo-lock amortization, handler:269-271); here the HTTP PATCH is a
recording stub.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from dp_dimension_importer_spark.pipeline.models import EDGE_SCHEMA, NODE_SCHEMA
from dp_dimension_importer_spark.session import local_frame


#: Characters Spark percent-escapes in a hive partition directory name
#: (``ExternalCatalogUtils.escapePathName``): ASCII controls and these.
_ESCAPED_IN_PATH = frozenset(map(chr, range(1, 32))) | frozenset(
    "\"#%'*/:=?[\\]^{\x7f"
)
#: Directory value Spark writes for a NULL or empty partition value.
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def partition_dir(column: str, value: str | None) -> str:
    """The directory name Spark gives the hive partition ``column=value``."""
    if value is None or value == "":
        return f"{column}={_DEFAULT_PARTITION}"
    escaped = "".join(f"%{ord(c):02X}" if c in _ESCAPED_IN_PATH else c for c in value)
    return f"{column}={escaped}"


class ParquetGraphStore:
    """Nodes/edges as parquet tables (GraphFrames-compatible layout:
    vertices + edges), hive-partitioned by ``instance_id``. Idempotent
    append: re-delivered rows are dropped by a NULL-SAFE anti-join on the
    row identity before write (dimension_name/option are NULL for instance
    nodes and code_list_id/code may be NULL on edges, so plain ``=`` would
    never match a re-delivered row — eqNullSafe makes the sink idempotent
    standalone, not only behind the importer's upstream gate).

    Scale: a micro-batch carries a bounded set of instance_ids, and both
    the instance-exists probe (``nodes(ids)``) and the write anti-join read
    ONLY those ids' partition directories: each id is escaped into the
    directory name Spark wrote it under (``partition_dir``, NULL and empty
    ids → the hive default partition) and the read lists just the ones that
    exist. The writers take those ids from the caller, and skip the
    anti-join when none of their directories exists yet (a new instance's
    first write). Nothing lists the table's other partitions, so per-batch
    sink work is O(batch instances), not O(accumulated history)."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.nodes_dir = os.path.join(base_dir, "nodes")
        self.edges_dir = os.path.join(base_dir, "edges")

    @staticmethod
    def _paths(
        path: str, instance_ids: Iterable[str | None] | None = None
    ) -> list[str]:
        """The directories to read that exist: the table at ``path``, or
        only the partitions of ``instance_ids`` when given."""
        if instance_ids is None:
            paths = [path]
        else:
            dirs = {partition_dir("instance_id", i) for i in instance_ids}
            paths = [os.path.join(path, d) for d in sorted(dirs)]
        return [p for p in paths if os.path.exists(p)]

    def _read(self, path: str, schema, paths: list[str]) -> DataFrame:
        """``paths`` of the table at ``path``; no path reads as an empty
        local frame, which collects without a Spark job."""
        if not paths:
            return local_frame(self.spark, [], schema)
        df = self.spark.read.schema(schema).option("basePath", path).parquet(*paths)
        return df.select([f.name for f in schema.fields])

    def nodes(self, instance_ids=None) -> DataFrame:
        """Every node, or only the nodes of ``instance_ids``."""
        return self._read(
            self.nodes_dir, NODE_SCHEMA, self._paths(self.nodes_dir, instance_ids)
        )

    def edges(self) -> DataFrame:
        return self._read(self.edges_dir, EDGE_SCHEMA, self._paths(self.edges_dir))

    def _append(
        self, rows: DataFrame, instance_ids, path: str, schema, key: list[str]
    ) -> None:
        paths = self._paths(path, instance_ids)
        if paths:
            existing = self._read(path, schema, paths)
            cond = [rows[k].eqNullSafe(existing[k]) for k in key]
            rows = rows.join(existing, cond, "left_anti")
        rows.write.mode("append").partitionBy("instance_id").parquet(path)

    def write_nodes(self, nodes: DataFrame, instance_ids: Iterable[str | None]) -> None:
        """Append the ``nodes`` not stored yet. ``instance_ids`` must
        cover every ``instance_id`` in ``nodes``: the anti-join reads only
        their partitions, so a row of any other instance would escape it.
        The import runner builds every frame it writes from its batch's new
        ids, so those ids cover the frame by construction."""
        key = ["node_kind", "instance_id", "dimension_name", "option"]
        self._append(nodes, instance_ids, self.nodes_dir, NODE_SCHEMA, key)

    def write_edges(self, edges: DataFrame, instance_ids: Iterable[str | None]) -> None:
        """Append the ``edges`` not stored yet; ``instance_ids`` as for
        ``write_nodes``."""
        key = list(edges.columns)
        self._append(edges, instance_ids, self.edges_dir, EDGE_SCHEMA, key)


def patch_sink(
    patches: DataFrame,
    send: Callable[[str, list[dict]], None],
) -> None:
    """Buffered patch-back: ONE ``send`` call per instance — the shape of
    'one PATCH per batch so the mongo lock is paid once'
    (handler:269-278). A batch's patch rows are bounded by its instances,
    so one collect brings them to the driver, where they are grouped by
    instance; no Python worker starts. ``send`` is the pluggable HTTP
    PATCH."""
    by_instance: dict[str, list[dict]] = {}
    for r in patches.collect():
        d = r.asDict()
        by_instance.setdefault(d.pop("instance_id"), []).append(
            {k: v for k, v in d.items() if v is not None}
        )
    for instance_id, updates in by_instance.items():
        send(instance_id, updates)


def jsonl_event_sink(events: DataFrame, path: str) -> None:
    """Completion / dead-letter topic stand-in: JSON-lines files (the
    contract is to_json → producer; swap for writeStream.format('kafka')
    at deployment — R19/R20)."""
    events.write.mode("append").json(path)


def kafka_writer_options(brokers: list[str], topic: str) -> dict[str, str]:
    """Reference producer config → spark-sql-kafka writer options
    (config/config.go:45 DIMENSIONS_INSERTED_TOPIC; producer
    message/producer.go:26-34). Pure mapping, testable without a broker."""
    return {"kafka.bootstrap.servers": ",".join(brokers), "topic": topic}


def kafka_event_sink(
    events: DataFrame, brokers: list[str], topic: str = "dimensions-inserted"
) -> None:
    """R19 as one ``.format()`` swap for ``jsonl_event_sink``: completion
    events leave as Avro-binary ``value`` bytes — the reference's exact
    wire format (avro_codec encodes the InstanceCompleted schema,
    schema/schema.go:28-47). Requires spark-sql-kafka at deployment."""
    from dp_dimension_importer_spark.pipeline.avro_codec import encode_events_avro

    (
        encode_events_avro(events)
        .select("value")
        .write.format("kafka")
        .options(**kafka_writer_options(brokers, topic))
        .save()
    )


def read_jsonl_events(spark: SparkSession, path: str, schema) -> DataFrame:
    """The events under ``path``; a missing directory reads as an empty
    local frame."""
    if not os.path.isdir(path):
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).json(path)


class RecordingPatchSender:
    """Test double for the Dataset-API PATCH endpoint: appends each call
    as one JSON line to a file (``patch_sink`` sends from the driver)."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self, instance_id: str, updates: list[dict]) -> None:
        with open(self.path, "a", encoding="utf-8") as f:
            f.write(json.dumps({"instance_id": instance_id, "updates": updates}) + "\n")

    def calls(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path, encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]
