"""Pipeline runners: batch and Structured Streaming (reference §3.1 flow).

Streaming shape: ``readStream(events) → strict decode → foreachBatch {
run_import → ordered sink writes }`` with checkpointing. foreachBatch gives
the reference's batch-scoped staging (SURVEY.md §1.4): within a micro-batch
the sink order is nodes → edges → patches → completion, and a failure
aborts the batch before later stages run; checkpoint + idempotent writes
turn redelivery into a no-op (at-least-once + idempotent ≥ the reference's
at-most-once).

Each batch does its work once, like the reference's single fetch per
instance. The instance-exists probe reads only the batch's own partitions
of the graph store and is collected (at most one row per batch id). After
the dead-letter sink and before the first graph write, ``import_batch``
persists and computes the batch's two bases (the new instances and their
code-ordered dimensions, see ``importer.ImportResult``), so the HTTP fetch
runs one time and every sink reads the cached rows; a fetch failure
raises there, after the dead letters and before any graph row. The bases
are unpersisted when the batch ends, on failure too, so a long stream
holds no earlier batch's rows."""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from dp_dimension_importer_spark.pipeline import importer, sources
from dp_dimension_importer_spark.pipeline.models import NODE_SCHEMA
from dp_dimension_importer_spark.pipeline.sinks import (
    ParquetGraphStore,
    jsonl_event_sink,
    patch_sink,
)


@contextmanager
def _materialized(*bases: DataFrame) -> Iterator[None]:
    """Persist and compute ``bases`` for the block, then release them.
    Plans built on a base read its cached rows."""
    cached = []
    try:
        for df in bases:
            cached.append(df.persist())
            df.count()
        yield
    finally:
        for df in cached:
            df.unpersist()


def import_batch(
    raw_events: DataFrame,
    instances: DataFrame,
    dimensions: DataFrame,
    code_lists: DataFrame,
    store: ParquetGraphStore,
    patch_send: Callable[[str, list[dict]], None],
    completed_dir: str,
    dead_letter_dir: str,
    enable_patch_node_id: bool = True,
) -> importer.ImportResult:
    """One micro-batch end to end, sinks applied in the reference's stage
    order (fail-fast between stages — a sink error leaves later stages
    unexecuted, mirroring handler tests :247-304)."""
    events, dead = sources.decode_events(raw_events)
    # The instance-exists probe: only the partitions of the batch's valid
    # ids (one per event), collected — at most one instance node per id.
    # Collecting keeps the store out of the bases persisted below: Spark
    # re-caches a cached plan that reads a path after each write to that
    # path, which would re-run the batch's fetch at the next sink.
    batch_ids = {r[0] for r in events.select("instance_id").collect()} - {None, ""}
    existing = store.nodes(batch_ids).filter(F.col("node_kind") == "instance")
    result = importer.run_import(
        events,
        instances,
        dimensions,
        code_lists,
        existing_nodes=store.spark.createDataFrame(existing.collect(), NODE_SCHEMA),
        enable_patch_node_id=enable_patch_node_id,
    )
    # Stage order: dead letters first (bad payloads are never lost), then
    # dimension nodes → edges → patches → completed, and the INSTANCE node
    # LAST — it is the batch's COMMIT RECORD. The instance-exists skip
    # (R9, handler test :939-968) keys on that node, so writing it first
    # (the reference's call order) would turn a crash between it and the
    # later sinks into a permanently half-imported instance that every
    # redelivery then skips. Writing it last makes redelivery semantics
    # exact: node absent → reprocess (row-idempotent sinks swallow any
    # partial writes); node present → every prior stage provably ran, so
    # the skip is safe. Net guarantee: graph store exactly-once
    # OBSERVABLE, completion events at-least-once (only a crash inside
    # the completed→instance-node window can duplicate one — the same
    # contract a Kafka producer gives). Fail-fast between stages is
    # unchanged (handler tests :247-304).
    dead_all = dead.unionByName(
        result.rejected_events.select(
            result.rejected_events.instance_id.alias("payload"), "reason"
        )
    )
    if dead_all.take(1):
        jsonl_event_sink(dead_all, dead_letter_dir)
    # Fetch failures surface here: after the dead letters, before any
    # graph row.
    with _materialized(result.new_instances, result.enriched):
        store.write_nodes(result.dimension_nodes)
        store.write_edges(result.edges)
        patch_sink(result.patches, patch_send)
        if result.completed.take(1):
            jsonl_event_sink(result.completed, completed_dir)
        store.write_nodes(result.instance_nodes)
    return result


def run_stream(
    spark: SparkSession,
    event_dir: str,
    instances: DataFrame,
    dimensions: DataFrame,
    code_lists: DataFrame,
    out_dir: str,
    patch_send: Callable[[str, list[dict]], None],
    checkpoint_dir: str | None = None,
):
    """The service loop as a streaming query over a growing event dir.
    Returns the started StreamingQuery (caller awaits/stops — graceful
    shutdown = query.stop() + checkpoint recovery, R23)."""
    store = ParquetGraphStore(spark, os.path.join(out_dir, "graph"))
    completed_dir = os.path.join(out_dir, "completed")
    dead_dir = os.path.join(out_dir, "dead_letter")
    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix="import_ckpt_")

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        import_batch(
            batch_df,
            instances,
            dimensions,
            code_lists,
            store,
            patch_send,
            completed_dir,
            dead_dir,
        )

    return (
        sources.read_event_stream(spark, event_dir)
        .writeStream.foreachBatch(_handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
