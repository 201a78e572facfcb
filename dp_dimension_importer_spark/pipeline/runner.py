"""Pipeline runners: batch and Structured Streaming (reference §3.1 flow).

Streaming shape: ``readStream(events) → foreachBatch { strict decode →
run_import → ordered sink writes }`` with checkpointing. foreachBatch gives
the reference's batch-scoped staging (SURVEY.md §1.4): within a micro-batch
the sink order is nodes → edges → patches → completion, and a failure
aborts the batch before later stages run; checkpoint + idempotent writes
turn redelivery into a no-op (at-least-once + idempotent ≥ the reference's
at-most-once).

Each batch does its work once, like the reference's single fetch per
instance, and decides its instances on the driver. ``import_batch``
collects the raw payloads once and decodes them as a local frame, so the
dead letters and the events come from that one pass. ``importer.run_import``
then collects the events, the existing instance nodes among them (read
from only the batch's own partitions of the graph store) and the new
instances' fetched rows, so the instance gate and the completion events
are set operations and literal filters, not Spark joins. Only the
dimension rows stay in Spark, and they are not lazy: their one base is
persisted and counted in a second thread while the instance fetch runs,
so the two fetches overlap (the client's peak concurrency is the sum of
the two fetchers' bounds), the dimension fetch runs one time, and every
sink reads the cached rows. A failing fetch raises after the dead letters
and before any graph row, and the base is unpersisted when the batch
ends, on failure too, so a long stream holds no earlier batch's rows.
Each batch logs one JSON progress record (``import_batch``)."""

from __future__ import annotations

import json
import logging
import os
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from dp_dimension_importer_spark.pipeline import importer, sources
from dp_dimension_importer_spark.pipeline.models import DEAD_LETTER_SCHEMA
from dp_dimension_importer_spark.pipeline.sinks import (
    ParquetGraphStore,
    jsonl_event_sink,
    patch_sink,
)
from dp_dimension_importer_spark.session import local_frame

log = logging.getLogger(__name__)


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
    batch_id: int | None = None,
) -> importer.ImportResult:
    """One micro-batch end to end, sinks applied in the reference's stage
    order (fail-fast between stages — a sink error leaves later stages
    unexecuted, mirroring handler tests :247-304).

    Logs one progress record per batch at INFO, a JSON object with
    ``events`` (decoded events), ``dead_letters`` (undecodable payloads and
    events without an instance id), ``new_instances``,
    ``skipped_instances``, ``dimension_rows`` (the new instances'
    code-ordered dimensions) and ``latency_ms``, plus ``batch_id`` when
    one is given (the streaming runner passes its micro-batch id). Every
    count comes from a collect or count the batch runs anyway."""
    start = time.perf_counter()
    # one bounded collect of the raw payloads (at most one row per
    # message); decoding their local frame runs no Spark job
    raw = raw_events.select(F.col("value").cast("string")).collect()
    events, dead = sources.decode_events(
        sources.read_event_batch(raw_events.sparkSession, [r[0] for r in raw])
    )
    # Stage order: dead letters first (bad payloads are never lost), then
    # the instance and dimension fetches (side by side, in run_import),
    # dimension nodes → edges → patches → completed,
    # and the INSTANCE node LAST — it is the batch's COMMIT RECORD. The
    # instance-exists skip (R9, handler test :939-968) keys on that node,
    # so writing it first (the reference's call order) would turn a crash
    # between it and the later sinks into a permanently half-imported
    # instance that every redelivery then skips. Writing it last makes
    # redelivery semantics exact: node absent → reprocess (row-idempotent
    # sinks swallow any partial writes); node present → every prior stage
    # provably ran, so the skip is safe. Net guarantee: graph store
    # exactly-once OBSERVABLE, completion events at-least-once (only a
    # crash inside the completed→instance-node window can duplicate one —
    # the same contract a Kafka producer gives). Fail-fast between stages
    # is unchanged (handler tests :247-304).
    _, rejected = importer.validate_events(events)
    dead_rows = dead.collect() + rejected.select(
        rejected.instance_id.alias("payload"), "reason"
    ).collect()
    if dead_rows:
        jsonl_event_sink(
            local_frame(events.sparkSession, dead_rows, DEAD_LETTER_SCHEMA),
            dead_letter_dir,
        )
    result = importer.run_import(
        events,
        instances,
        dimensions,
        code_lists,
        existing_nodes=store.nodes,
        enable_patch_node_id=enable_patch_node_id,
    )
    try:
        if result.new_ids:
            ids = result.new_ids
            store.write_nodes(result.dimension_nodes, ids)
            store.write_edges(result.edges, ids)
            patch_sink(result.patches, patch_send)
            jsonl_event_sink(result.completed, completed_dir)
            store.write_nodes(result.instance_nodes, ids)
    finally:
        result.release()
    progress = {} if batch_id is None else {"batch_id": batch_id}
    progress.update(
        events=result.decoded,
        dead_letters=len(dead_rows),
        new_instances=len(result.new_ids),
        skipped_instances=len(result.skipped_ids),
        dimension_rows=result.dimension_rows,
        latency_ms=round((time.perf_counter() - start) * 1000),
    )
    log.info(json.dumps(progress))
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
            batch_id=batch_id,
        )

    return (
        sources.read_event_stream(spark, event_dir)
        .writeStream.foreachBatch(_handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
