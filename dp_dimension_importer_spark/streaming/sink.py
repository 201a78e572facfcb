"""Exactly-once streaming sinks: ``foreachBatch`` handlers that commit
each micro-batch to a snapshot table with ``txn=(APP_ID, batch_id)``.

Structured Streaming's checkpoint gives at-least-once micro-batch
delivery (a batch whose offsets were not committed is redelivered with
the SAME batch_id after restart). Every sink here closes that gap the
same way: the batch commits through the snapshot manifest
(storage.py's one commit protocol), whose cumulative ``txn`` map
({app_id: highest committed batch id}) is written by the same hard-link
that publishes the batch's data. A redelivered batch is skipped before
any data is written, and a crash before the hard-link leaves the table
at its previous version: at-least-once delivery + transactional skip =
exactly-once table state, with no side file beside the table.

The family: :func:`make_merge_batch_handler` (latest-wins upserts,
:func:`storage.merge_upsert_snapshot`), :func:`make_agg_state_handler`
(mergeable aggregate state, one overwrite per batch),
:func:`make_snapshot_append_handler`, :func:`make_mor_upsert_handler`
(merge-on-read deltas) and :func:`make_cdc_apply_handler` (deletes).

Reference parity: the reference consumes Kafka, upserts graph nodes
idempotently, and only then commits the message offset
(`handler/incoming_instance_handler.go:52-118`, `store/store.go:16-20`,
`message/consumer.go:24-56` — commit-after-sink ordering); this module
is that contract on Spark's micro-batch checkpoint instead of Kafka
offsets, at table scale.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession

from dp_dimension_importer_spark import storage

#: the ``txn`` app id of every sink whose caller names none
APP_ID = "stream"


def _drive(spark: SparkSession, replay_dir: str, schema, handler,
           checkpoint: str | None) -> None:
    """Run a file-source stream (one file per micro-batch, see replay.py)
    through ``handler`` with availableNow, under a pinned shuffle width
    of 4 for the stream's lifetime (small replay tables; the same
    rationale as replay.run_replay). Pass the same ``checkpoint`` across
    calls to model a restart: Spark redelivers only uncommitted
    batches."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(replay_dir)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        query = (
            stream.writeStream.foreachBatch(handler)
            .option(
                "checkpointLocation",
                checkpoint or tempfile.mkdtemp(prefix="ckpt_sink_"),
            )
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def make_merge_batch_handler(
    table_path: str,
    key_cols: list[str],
    seq_col: str,
):
    """Build a ``foreachBatch`` handler that upserts each micro-batch
    into the snapshot table at ``table_path`` exactly once, latest-wins
    by ``seq_col`` (the greatest seq per key survives, whatever order
    the batches arrive in). The first batch bootstraps the table with
    its latest row per key (:func:`storage.compact_latest`); later
    batches go through :func:`storage.merge_upsert_snapshot`, which
    rewrites only the files holding a changed key. Both commit with
    ``txn=(APP_ID, batch_id)``."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        txn = (APP_ID, int(batch_id))
        if not storage.snapshot_versions(table_path):
            storage.write_snapshot(
                spark, storage.compact_latest(batch_df, key_cols, seq_col),
                table_path, txn=txn,
            )
        else:
            storage.merge_upsert_snapshot(
                spark, table_path, batch_df, key_cols, seq_col, txn=txn
            )

    return handle


def run_stream_merge(
    spark: SparkSession,
    replay_dir: str,
    schema,
    table_path: str,
    key_cols: list[str],
    seq_col: str,
    checkpoint: str | None = None,
) -> DataFrame:
    """Drive a file-source stream through the exactly-once merge sink
    (:func:`_drive`), then read the table's latest version back."""
    _drive(
        spark, replay_dir, schema,
        make_merge_batch_handler(table_path, key_cols, seq_col), checkpoint,
    )
    return storage.read_snapshot(spark, table_path)


# ---------------------------------------------------------------------------
# Exactly-once streaming AGGREGATE-STATE maintenance (incremental MV)
# ---------------------------------------------------------------------------

def make_agg_state_handler(state_path: str, keys: list[str], partial_fn):
    """Build a ``foreachBatch`` handler that maintains a MERGEABLE
    aggregate state table (the streaming twin of ``mv_incremental_agg``)
    with exactly-once state, even though sums — unlike the merge sink's
    latest-wins upserts — are NOT naturally idempotent under redelivery.

    Each batch merges its partial state into the latest state version
    and commits the result as the next version
    (``storage.write_snapshot`` with ``txn=(APP_ID, batch_id)``): the
    data and the batch's mark land in one hard-link. A redelivered batch
    (id at or below the state's mark) is skipped before anything is
    written; a crash before the hard-link leaves the state at its
    previous version, against which the redelivered batch re-merges, so
    nothing double-counts.

    ``partial_fn(batch_df) -> DataFrame`` maps a micro-batch to its
    mergeable partial state (columns named by merge_agg_state's prefix
    contract: sum_* / cnt_* / min_* / max_*, plus ``keys``)."""
    from dp_dimension_importer_spark.operators.aggregates import (
        merge_agg_state,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        merged = partial_fn(batch_df)
        if storage.snapshot_versions(state_path):
            merged = merge_agg_state(
                storage.read_snapshot(spark, state_path), merged, keys
            )
        storage.write_snapshot(
            spark, merged, state_path, txn=(APP_ID, int(batch_id))
        )

    return handle


def run_stream_agg(
    spark: SparkSession,
    replay_dir: str,
    schema,
    state_path: str,
    keys: list[str],
    partial_fn,
    checkpoint: str | None = None,
) -> DataFrame:
    """Drive a file-source stream through the exactly-once aggregate
    sink (:func:`_drive`), then read the state's latest version back."""
    _drive(
        spark, replay_dir, schema,
        make_agg_state_handler(state_path, keys, partial_fn), checkpoint,
    )
    return storage.read_snapshot(spark, state_path)


# ---------------------------------------------------------------------------
# Exactly-once streaming APPEND into the snapshot/manifest table layer
# ---------------------------------------------------------------------------

def make_snapshot_append_handler(table_path: str, app_id: str = APP_ID):
    """foreachBatch handler appending each micro-batch to a SNAPSHOT table
    (storage.write_snapshot ``mode='append'``) with ``txn=(app_id,
    batch_id)``. A redelivered batch (same batch_id after restart) is
    skipped inside write_snapshot before any data is written."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        storage.write_snapshot(
            batch_df.sparkSession, batch_df, table_path,
            mode="append", txn=(app_id, int(batch_id)),
        )

    return handle


def run_stream_snapshot_append(
    spark: SparkSession,
    replay_dir: str,
    schema,
    table_path: str,
    checkpoint: str | None = None,
    app_id: str = APP_ID,
) -> DataFrame:
    """Drive a file-source stream (1 file per micro-batch) through the
    snapshot-append sink with availableNow, then read the table's latest
    version back. Each micro-batch is one table version — time travel
    reaches any prefix of the stream, and `snapshot_changes` between two
    versions is exactly the micro-batches in between."""
    handler = make_snapshot_append_handler(table_path, app_id=app_id)
    _drive(spark, replay_dir, schema, handler, checkpoint)
    return storage.read_snapshot(spark, table_path)


def make_mor_upsert_handler(
    table_path: str,
    key_cols: list[str],
    seq_col: str,
    app_id: str = APP_ID,
    branch: str | None = None,
    merge_mode: str = "latest",
    agg_spec: dict | None = None,
):
    """foreachBatch handler landing each micro-batch as a MERGE-ON-READ
    delta commit (storage.upsert_delta_snapshot) with ``txn=(app_id,
    batch_id)`` — the streaming CDC upsert sink: O(batch) per trigger
    regardless of table size, no base file touched, the manifest
    hard-link the single commit point (idempotence marker and data in
    one atomic op, same protocol as :func:`make_snapshot_append_handler`).

    The MOR contract wants ONE row per key per commit, so the handler
    collapses the batch to its highest-``seq_col`` row per key first —
    exactly what a CDC feed's per-batch compaction does. The FIRST batch
    bootstraps the table (write_snapshot, same txn); later batches land
    as deltas. Reads resolve latest-wins across the whole chain;
    storage.compact_mor is the maintenance valve.

    ``branch`` (r14): the stream STAGES its delta chain on a branch —
    streaming write-audit-publish. The table must already exist (the
    branch forks from a committed main version; the bootstrap write
    cannot target a branch of nothing), every micro-batch lands as the
    next branch commit with the same txn idempotence, and
    :func:`storage.fast_forward` publishes the audited chain — whose
    per-app-max txn merge keeps the staged watermarks, so a redelivery
    after the publish still skips on main.

    ``merge_mode``/``agg_spec`` (r14): on a partial/aggregate table the
    per-batch compaction must match the TABLE's merge engine, not
    latest-wins — under "aggregate" a newest-row collapse would DROP
    every other increment in the batch, so the handler pre-folds the
    batch with the same per-column functions (sum of the batch's
    increments, max, last non-null in seq order) and keeps the newest
    seq; under "partial" it takes each column's newest non-NULL. The
    fold is exactly one delta row per key, and resolution composes it
    with the chain by associativity (the minor-fold argument)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        if merge_mode in ("partial", "aggregate"):
            aggs = agg_spec or {}
            val_cols = [
                c for c in batch_df.columns
                if c not in key_cols and c != seq_col
            ]

            def fold(c):
                if merge_mode == "aggregate" and aggs.get(c) == "sum":
                    t = batch_df.schema[c].dataType.simpleString()
                    return F.sum(c).cast(t).alias(c)
                if merge_mode == "aggregate" and aggs.get(c) == "max":
                    return F.max(c).alias(c)
                if merge_mode == "aggregate" and aggs.get(c) == "min":
                    return F.min(c).alias(c)
                # 'last': newest non-NULL in seq order
                return F.max_by(
                    c, F.when(F.col(c).isNotNull(), F.col(seq_col))
                ).alias(c)

            one_per_key = batch_df.groupBy(*key_cols).agg(
                F.max(seq_col).alias(seq_col),
                *(fold(c) for c in val_cols),
            ).select(*batch_df.columns)
        else:
            w = W.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
            one_per_key = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        spark = batch_df.sparkSession
        if not storage.snapshot_versions(table_path):
            if branch is not None:
                raise ValueError(
                    "streaming MOR upsert to a branch needs an existing "
                    "table — a branch forks from a committed main "
                    "version (write a base snapshot, create_branch, "
                    "then start the staged stream)"
                )
            storage.write_snapshot(
                spark, one_per_key, table_path,
                txn=(app_id, int(batch_id)),
            )
        else:
            storage.upsert_delta_snapshot(
                spark, table_path, one_per_key, key_cols, seq_col,
                txn=(app_id, int(batch_id)), branch=branch,
                merge_mode=merge_mode, agg_spec=agg_spec,
            )

    return handle


def run_stream_mor_upsert(
    spark: SparkSession,
    replay_dir: str,
    schema,
    table_path: str,
    key_cols: list[str],
    seq_col: str,
    checkpoint: str | None = None,
    app_id: str = APP_ID,
    branch: str | None = None,
    merge_mode: str = "latest",
    agg_spec: dict | None = None,
) -> DataFrame:
    """Drive a file-source stream (1 file per micro-batch) through the
    MOR upsert sink with availableNow, then read the resolved table
    back (the BRANCH head when ``branch`` is given — the audit read of
    a staged stream). Each micro-batch is one delta commit, so time
    travel reaches the upsert state after any stream prefix.
    ``merge_mode``/``agg_spec`` select the table's merge engine (see
    :func:`make_mor_upsert_handler` — the per-batch fold matches it)."""
    handler = make_mor_upsert_handler(
        table_path, key_cols, seq_col, app_id=app_id, branch=branch,
        merge_mode=merge_mode, agg_spec=agg_spec,
    )
    _drive(spark, replay_dir, schema, handler, checkpoint)
    if branch is not None:
        return storage.read_branch(spark, table_path, branch)
    return storage.read_snapshot(spark, table_path)


def make_cdc_apply_handler(
    table_path: str,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    app_id: str = APP_ID,
):
    """foreachBatch handler applying an insert/update/DELETE CDC feed to a
    snapshot table exactly once (:func:`storage.merge_apply_changes` with
    ``txn=(app_id, batch_id)`` — the delete-capable member of the sink
    family: q60 merges latest-wins upserts, q87 lands MOR deltas, this
    one honors delete markers). The manifest hard-link is the single
    commit point; a redelivered batch is skipped inside the verb before
    any compute. The FIRST batch bootstraps the table from its compacted
    non-delete rows (applying a feed to an empty table), with the same
    txn watermark."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        if not storage.snapshot_versions(table_path):
            w = W.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
            boot = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .filter(F.col(op_col) != delete_op)
                .drop("_rn", op_col)
            )
            storage.write_snapshot(
                spark, boot, table_path, txn=(app_id, int(batch_id))
            )
        else:
            storage.merge_apply_changes(
                spark, table_path, batch_df, key_cols, seq_col,
                op_col=op_col, delete_op=delete_op,
                txn=(app_id, int(batch_id)),
            )

    return handle


def run_stream_cdc_apply(
    spark: SparkSession,
    replay_dir: str,
    schema,
    table_path: str,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    checkpoint: str | None = None,
    app_id: str = APP_ID,
) -> DataFrame:
    """Drive a file-source stream (1 file per micro-batch) through the
    CDC apply sink with availableNow, then read the final table back.
    With a seq that increases along the replay order, sequential
    per-batch application equals a one-shot global latest-wins-with-
    deletes — which is what the q88b oracle states."""
    handler = make_cdc_apply_handler(
        table_path, key_cols, seq_col, op_col=op_col, app_id=app_id
    )
    _drive(spark, replay_dir, schema, handler, checkpoint)
    return storage.read_snapshot(spark, table_path)
