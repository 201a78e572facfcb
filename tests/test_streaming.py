"""Streaming behavior tests (SURVEY.md §2.3 Q46–Q50, §5.3):

* streaming tumbling window == batch oracle on ordered replay (Q46/Q49)
* late rows beyond the watermark are DROPPED on shuffled replay (Q49)
* stateful dedup under duplicate redelivery == batch DISTINCT (Q50)
* the import pipeline runs as a real writeStream with checkpoint, and
  re-delivering the same events is a no-op (idempotent sinks)
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from dp_dimension_importer_spark.catalog import table
from dp_dimension_importer_spark.pipeline.models import (
    CODE_LIST_SCHEMA,
    DIMENSION_SCHEMA,
    INSTANCE_SCHEMA,
)
from dp_dimension_importer_spark.pipeline.runner import run_stream
from dp_dimension_importer_spark.pipeline.sinks import (
    ParquetGraphStore,
    RecordingPatchSender,
)
from dp_dimension_importer_spark.streaming.replay import (
    SENTINEL_TYPE,
    run_replay,
    write_replay_dir,
)
from tests.conftest import SF_SMOKE


def test_watermark_drops_late_rows_for_finalized_windows(spark):
    """Spark's watermark guarantee (verified empirically — the late-input
    filter is best-effort): once a window is finalized and emitted in
    append mode, late rows for it are DROPPED and the window is never
    re-emitted or updated. Replay: newer half first (watermark jumps),
    older half (aggregated late, flushed once), then the SAME older rows
    re-delivered — the redelivery must change nothing."""
    events = table(spark, SF_SMOKE, "events")
    # split by event TIME so the two halves are disjoint in event time
    tmid = events.selectExpr("percentile(cast(ts as long), 0.5)").collect()[0][0]
    newer = events.filter(F.col("ts").cast("long") >= tmid)
    older = events.filter(F.col("ts").cast("long") < tmid)

    base = tempfile.mkdtemp(prefix="late_")
    d1 = write_replay_dir(newer, n_files=1, sentinel=False)
    d2 = write_replay_dir(older, n_files=1, sentinel=False)
    # re-delivery; sentinel anchored to FULL table max so the newest real
    # windows (in the `newer` half) also finalize and flush
    d3 = write_replay_dir(older, n_files=1, sentinel=True, sentinel_base=events)
    os.rename(os.path.join(d1, "chunk_00000.parquet"), os.path.join(base, "a.parquet"))
    os.rename(os.path.join(d2, "chunk_00000.parquet"), os.path.join(base, "b.parquet"))
    os.rename(os.path.join(d3, "chunk_00000.parquet"), os.path.join(base, "c.parquet"))
    for j in range(2):
        os.rename(
            os.path.join(d3, f"zz_sentinel_{j}.parquet"),
            os.path.join(base, f"zz_{j}.parquet"),
        )
    now = __import__("time").time()
    for i, f in enumerate(sorted(os.listdir(base))):
        os.utime(os.path.join(base, f), (now - 100 + i, now - 100 + i))

    def transform(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("c"))
            .select(F.col("window.start").cast("long").alias("w"), "event_type", "c")
        )

    out = (
        run_replay(spark, base, events.schema, transform, "append")
        .filter(F.col("event_type") != SENTINEL_TYPE)
    )
    rows = out.collect()
    got = {}
    for r in rows:
        assert (r.w, r.event_type) not in got, "window re-emitted!"
        got[(r.w, r.event_type)] = r.c

    # every window appears exactly once with single-delivery counts —
    # i.e. the re-delivered late rows were dropped, not double-counted
    expected_df = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("c"))
        .select(F.col("window.start").cast("long").alias("w"), "event_type", "c")
    )
    expected = {(r.w, r.event_type): r.c for r in expected_df.collect()}
    assert got == expected


def test_streaming_session_window_matches_batch(spark):
    """session_window in a stream (ordered replay, big watermark) equals the
    batch session_window aggregation."""
    events = table(spark, SF_SMOKE, "events")
    replay_dir = write_replay_dir(events, n_files=3, sentinel=True)

    def transform(stream):
        # 1h watermark: ordered replay drops nothing, and the +10d sentinel
        # pushes the watermark past every session end so append mode emits
        # all sessions before the query drains.
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count("*").alias("c"))
            .select(
                "user_id",
                F.col("session_window.start").cast("long").alias("s"),
                "c",
            )
        )

    out = run_replay(spark, replay_dir, events.schema, transform, "append")
    got = {(r.user_id, r.s): r.c for r in out.collect() if r.user_id >= 0}
    batch = (
        events.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("c"))
        .select("user_id", F.col("session_window.start").cast("long").alias("s"), "c")
    )
    expected = {(r.user_id, r.s): r.c for r in batch.collect()}
    assert got == expected


def test_stateful_running_accumulator_matches_batch(spark):
    """Custom applyInPandasWithState operator (the reference's per-instance
    accumulate-then-bulk-emit, R17, generalized): per-user state evolves
    across micro-batches; the last emission per user equals the batch
    aggregate."""
    import uuid

    from dp_dimension_importer_spark.streaming.stateful import running_user_stats

    events = table(spark, SF_SMOKE, "events")
    rd = write_replay_dir(events, n_files=3, sentinel=False)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(rd)
    )
    name = "stateful_" + uuid.uuid4().hex[:8]
    q = (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_state_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    # one emission per (user, touching batch); state accumulates across them
    assert out.count() > out.select("user_id").distinct().count()
    final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n"), F.max("n_types").alias("nt")
    )
    batch = events.groupBy("user_id").agg(
        F.count("*").alias("n"), F.countDistinct("event_type").alias("nt")
    )
    got = {r.user_id: (r.n, r.nt) for r in final.collect()}
    exp = {r.user_id: (r.n, r.nt) for r in batch.collect()}
    assert got == exp


def test_import_pipeline_streaming_idempotent(spark):
    """The import pipeline as a real writeStream: events arrive as files,
    foreachBatch imports them; re-delivering the same events (new files,
    fresh checkpoint) writes nothing new — idempotent sinks."""
    out_dir = tempfile.mkdtemp(prefix="pipe_out_")
    event_dir = tempfile.mkdtemp(prefix="pipe_events_")
    patch_log = os.path.join(out_dir, "patches.jsonl")

    instances = spark.createDataFrame(
        [("i1", ["h1", "h2"]), ("i2", ["h"])], INSTANCE_SCHEMA
    )
    dimensions = spark.createDataFrame(
        [
            ("i1", "i1_Geo", "England", "1", "cl"),
            ("i1", "time", "2024", "2", "tcl"),
            ("i2", "i2_Sex", "Male", "", "scl"),
        ],
        DIMENSION_SCHEMA,
    )
    code_lists = spark.createDataFrame(
        [("cl", "England", 7), ("scl", "Male", None)], CODE_LIST_SCHEMA
    )

    def deliver(payloads, name):
        with open(os.path.join(event_dir, name), "w") as f:
            f.write("\n".join(payloads) + "\n")

    deliver(
        [
            json.dumps({"file_url": "/f1", "instance_id": "i1"}),
            json.dumps({"file_url": "/f2", "instance_id": "i2"}),
            "garbage payload",
        ],
        "batch1.jsonl",
    )
    sender = RecordingPatchSender(patch_log)
    q = run_stream(
        spark, event_dir, instances, dimensions, code_lists, out_dir, sender
    )
    q.awaitTermination(120)

    store = ParquetGraphStore(spark, os.path.join(out_dir, "graph"))
    nodes1 = store.nodes().count()
    edges1 = store.edges().count()
    assert nodes1 == 2 + 3  # 2 instance nodes + 3 dimension nodes
    assert edges1 == 2  # time-dimension edge excluded
    patch_calls = sender.calls()
    # i1: England(node 1, order 7) + time(node 2); i2: Male(no node, no order) omitted
    patched = {u["option"] for c in patch_calls for u in c["updates"]}
    assert patched == {"England", "2024"}
    completed = spark.read.json(os.path.join(out_dir, "completed"))
    assert {r.instance_id for r in completed.collect()} == {"i1", "i2"}
    dead = spark.read.json(os.path.join(out_dir, "dead_letter"))
    assert dead.count() == 1

    # redelivery: same events again (availableNow query already stopped;
    # run a new one over a fresh checkpoint to simulate at-least-once)
    deliver(
        [json.dumps({"file_url": "/f1", "instance_id": "i1"})], "batch2.jsonl"
    )
    q2 = run_stream(
        spark, event_dir, instances, dimensions, code_lists, out_dir, sender
    )
    q2.awaitTermination(120)
    assert store.nodes().count() == nodes1  # no duplicate nodes
    assert store.edges().count() == edges1  # no duplicate edges


def test_import_stream_progress_records_carry_batch_id(spark, caplog):
    """Each micro-batch of the import stream logs one progress record that
    carries the stream's batch id; a restart from the same checkpoint goes
    on with the next id."""
    import logging

    out_dir = tempfile.mkdtemp(prefix="pipe_out_")
    event_dir = tempfile.mkdtemp(prefix="pipe_events_")
    ckpt = tempfile.mkdtemp(prefix="pipe_ckpt_")
    instances = spark.createDataFrame([("b1", ["h"]), ("b2", ["h"])], INSTANCE_SCHEMA)
    dimensions = spark.createDataFrame(
        [("b1", "b1_Geo", "England", "1", "cl"), ("b2", "b2_Geo", "Wales", "2", "cl")],
        DIMENSION_SCHEMA,
    )
    code_lists = spark.createDataFrame([("cl", "England", 1)], CODE_LIST_SCHEMA)
    sender = RecordingPatchSender(os.path.join(out_dir, "patches.jsonl"))
    progress = []
    for k, iid in enumerate(["b1", "b2"]):
        with open(os.path.join(event_dir, f"batch{k}.jsonl"), "w") as f:
            f.write(json.dumps({"file_url": f"/{iid}", "instance_id": iid}) + "\n")
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="dp_dimension_importer_spark"):
            run_stream(
                spark, event_dir, instances, dimensions, code_lists, out_dir,
                sender, checkpoint_dir=ckpt,
            ).awaitTermination(120)
        progress += [
            json.loads(r.getMessage()) for r in caplog.records
            if r.name == "dp_dimension_importer_spark.pipeline.runner"
        ]
    got = [(p["batch_id"], p["new_instances"], p["dimension_rows"]) for p in progress]
    assert got == [(0, 1, 1), (1, 1, 1)]


def test_stream_stream_join_matches_batch(spark, duck):
    """Stream-stream inner join (click→purchase attribution, 1h bound,
    watermarks both sides) must emit exactly the batch join's pairs."""
    from dp_dimension_importer_spark.registry import ORACLE_SQL, QUERIES

    got = [
        (r.click_id, r.purchase_id, r.user_id)
        for r in QUERIES["q52_stream_stream_join"](spark, SF_SMOKE).collect()
    ]
    exp = [tuple(r) for r in duck.execute(ORACLE_SQL["q52_stream_stream_join"]).fetchall()]
    assert got == exp and len(got) > 0


def test_outer_join_unmatched_tail_emits(spark, duck):
    """Left-outer stream-stream join: the unmatched clicks in the stream's
    FINAL watermark-delay window must still emit null rows. Pins the
    pushdown hazard found building q52b: a sentinel filter INSIDE the
    streaming plan pushes below the click-side watermark node, stalls that
    watermark at (last real click - 1h), and silently swallows the tail.
    The operator filters the materialized result instead."""
    from dp_dimension_importer_spark.registry import ORACLE_SQL, QUERIES

    got = {
        (r.click_id, r.purchase_id)
        for r in QUERIES["q52b_stream_stream_left_join"](spark, SF_SMOKE).collect()
    }
    exp = {
        (r[0], r[1])
        for r in duck.execute(
            ORACLE_SQL["q52b_stream_stream_left_join"]
        ).fetchall()
    }
    assert got == exp
    # the regression's signature: the latest unmatched click is present
    events = table(spark, SF_SMOKE, "events")
    last_unmatched = (
        duck.execute(
            ORACLE_SQL["q52b_stream_stream_left_join"]
            .replace("ORDER BY click_id, purchase_id", "")
            + " QUALIFY ROW_NUMBER() OVER (ORDER BY c.ts DESC) = 1"
        ).fetchall()
    )
    assert events.count() > 0 and len(last_unmatched) == 1
    assert (last_unmatched[0][0], last_unmatched[0][1]) in got


def test_checkpoint_restart_recovers_exactly_once(spark):
    """R23 crash/graceful-shutdown semantics as a test: a stream dies
    MID-BATCH — after the node sink wrote but before later stages ran or
    the offset committed — then restarts from the SAME checkpoint. The
    restart must (a) NOT reprocess the earlier, committed batch, (b)
    reprocess the crashed batch, and (c) leave the graph store identical
    to a never-crashed run — the partial write is invisible because the
    sinks are idempotent (at-least-once + idempotent = exactly-once
    OBSERVABLE)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from dp_dimension_importer_spark.pipeline import importer, sources
    from dp_dimension_importer_spark.pipeline.runner import import_batch

    out_dir = tempfile.mkdtemp(prefix="ckptr_out_")
    event_dir = tempfile.mkdtemp(prefix="ckptr_events_")
    ckpt = tempfile.mkdtemp(prefix="ckptr_state_")
    patch_log = os.path.join(out_dir, "patches.jsonl")

    instances = spark.createDataFrame(
        [("i1", ["h1"]), ("i2", ["h2"]), ("i3", ["h3"])], INSTANCE_SCHEMA
    )
    dimensions = spark.createDataFrame(
        [
            ("i1", "i1_Geo", "England", "1", "cl"),
            ("i2", "i2_Sex", "Male", "3", "scl"),
            ("i3", "i3_Age", "0-15", "9", "acl"),
        ],
        DIMENSION_SCHEMA,
    )
    code_lists = spark.createDataFrame(
        [("cl", "England", 7), ("scl", "Male", 2), ("acl", "0-15", 1)],
        CODE_LIST_SCHEMA,
    )

    def deliver(payloads, name):
        with open(os.path.join(event_dir, name), "w") as f:
            f.write("\n".join(payloads) + "\n")

    def crashing_stream(handle):
        return (
            sources.read_event_stream(spark, event_dir)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    sender = RecordingPatchSender(patch_log)
    store = ParquetGraphStore(spark, os.path.join(out_dir, "graph"))

    # batch 1 commits cleanly
    deliver([json.dumps({"file_url": "/f1", "instance_id": "i1"})], "b1.jsonl")
    q1 = run_stream(
        spark, event_dir, instances, dimensions, code_lists, out_dir,
        sender, checkpoint_dir=ckpt,
    )
    q1.awaitTermination(120)
    assert store.nodes().count() == 2  # i1 instance + 1 dimension node

    # batch 2 crashes after the FIRST sink stage (dimension nodes) — the
    # commit record (instance node) is never written
    deliver([json.dumps({"file_url": "/f2", "instance_id": "i2"})], "b2.jsonl")

    def crash_early(batch_df, batch_id):
        events, _dead = sources.decode_events(batch_df)
        result = importer.run_import(
            events, instances, dimensions, code_lists,
            existing_nodes=store.nodes(),
        )
        store.write_nodes(result.dimension_nodes, result.new_ids)  # partial sink write...
        raise RuntimeError("simulated crash mid-batch")  # ...then die

    with pytest.raises(StreamingQueryException):
        crashing_stream(crash_early).awaitTermination(120)
    # partial state on disk: i2's dimension node, NO instance node
    i2 = store.nodes().filter(F.col("instance_id") == "i2")
    assert i2.count() == 1
    assert i2.filter(F.col("node_kind") == "instance").count() == 0

    # restart from the SAME checkpoint: batch 1 is not replayed (committed
    # offset), batch 2 reprocesses — the absent commit record marks it
    # incomplete — and the row-idempotent sinks swallow the partial write
    q2 = run_stream(
        spark, event_dir, instances, dimensions, code_lists, out_dir,
        sender, checkpoint_dir=ckpt,
    )
    q2.awaitTermination(120)
    assert store.nodes().count() == 4  # == a never-crashed run
    assert store.edges().count() == 2
    assert store.nodes().filter(F.col("instance_id") == "i2").count() == 2

    # batch 3 crashes AFTER every sink ran but BEFORE the offset commits —
    # the worst redelivery case: the restart replays the batch, sees the
    # commit record, and must skip without duplicating anything (including
    # the already-emitted completion event, which gates on new instances)
    deliver([json.dumps({"file_url": "/f3", "instance_id": "i3"})], "b3.jsonl")

    def crash_after_commit(batch_df, batch_id):
        import_batch(
            batch_df, instances, dimensions, code_lists, store, sender,
            os.path.join(out_dir, "completed"),
            os.path.join(out_dir, "dead_letter"),
        )
        raise RuntimeError("simulated crash after sinks, before offset")

    with pytest.raises(StreamingQueryException):
        crashing_stream(crash_after_commit).awaitTermination(120)
    q3 = run_stream(
        spark, event_dir, instances, dimensions, code_lists, out_dir,
        sender, checkpoint_dir=ckpt,
    )
    q3.awaitTermination(120)

    assert store.nodes().count() == 6
    assert store.edges().count() == 3
    completed = spark.read.json(os.path.join(out_dir, "completed"))
    got = {
        r.instance_id: r["count"]
        for r in completed.groupBy("instance_id").count().collect()
    }
    # every instance completed EXACTLY once across both crash modes
    assert got == {"i1": 1, "i2": 1, "i3": 1}


def test_transform_with_state_processor_semantics():
    """The q51b StatefulProcessor's SEMANTICS, driven directly with fake
    state objects (the protobuf state protocol is unavailable in this
    sandbox, so the streaming runner can't host it here — the logic is
    what we own, and it must match q51's accumulator exactly): running
    totals accumulate across calls, the types ListState receives only
    DELTA appends, and null values count toward n_events but add 0."""
    import pandas as pd

    from dp_dimension_importer_spark.streaming.stateful import (
        make_user_stats_processor,
    )

    class FakeValue:
        def __init__(self):
            self.v = None
        def exists(self):
            return self.v is not None
        def get(self):
            return self.v
        def update(self, new):
            self.v = new

    class FakeList:
        def __init__(self):
            self.rows = []
            self.appends = []
        def exists(self):
            return bool(self.rows)
        def get(self):
            return iter(self.rows)
        def appendList(self, rows):
            self.rows.extend(rows)
            self.appends.append(list(rows))

    class FakeHandle:
        def __init__(self):
            self.value = FakeValue()
            self.list = FakeList()
        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.value
        def getListState(self, name, schema, ttlDurationMs=None):
            return self.list

    proc = make_user_stats_processor()
    h = FakeHandle()
    proc.init(h)

    b1 = pd.DataFrame({"value": [1.5, None, 2.0], "event_type": ["a", "b", "a"]})
    (out1,) = proc.handleInputRows((7,), iter([b1]), None)
    assert out1.iloc[0].tolist() == [7, 3, 3.5, 2]

    b2 = pd.DataFrame({"value": [0.5], "event_type": ["a"]})  # no new type
    b3 = pd.DataFrame({"value": [1.0], "event_type": ["c"]})  # one new type
    (out2,) = proc.handleInputRows((7,), iter([b2, b3]), None)
    assert out2.iloc[0].tolist() == [7, 5, 5.0, 3]
    # delta appends: first call shipped {a, b}, second ONLY {c}
    assert h.list.appends == [[("a",), ("b",)], [("c",)]]
    assert h.value.get() == (5, 5.0)
    proc.close()


# ---------------------------------------------------------------------------
# exactly-once streaming MERGE sink (streaming/sink.py)
# ---------------------------------------------------------------------------

def _sink_events(spark):
    return table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def _latest_per_user(events):
    from dp_dimension_importer_spark import storage

    return {
        r.user_id: (r.event_id, r.event_type)
        for r in storage.compact_latest(
            events, ["user_id"], "event_id"
        ).collect()
    }


def _txn_marks(tbl):
    from dp_dimension_importer_spark import storage

    head = storage.snapshot_versions(tbl)[-1]
    return storage._load_manifest(tbl, head).get("txn")


def test_stream_merge_sink_matches_batch_and_restart_is_noop(spark):
    """Happy path == batch latest-wins compaction, one snapshot version
    per micro-batch, and re-running the drained stream against the SAME
    checkpoint redelivers nothing (Spark has committed every offset):
    no version is committed and the manifest's txn marks are
    unchanged."""
    import shutil

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.streaming import sink as merge_sink

    events = _sink_events(spark)
    replay_dir = write_replay_dir(events, n_files=3, sentinel=False)
    scratch = tempfile.mkdtemp(prefix="sink_t1_")
    tbl = os.path.join(scratch, "table")
    ckpt = os.path.join(scratch, "ckpt")
    try:
        out = merge_sink.run_stream_merge(
            spark, replay_dir, events.schema, tbl,
            key_cols=["user_id"], seq_col="event_id", checkpoint=ckpt,
        )
        got = {r.user_id: (r.event_id, r.event_type) for r in out.collect()}
        assert got == _latest_per_user(events)
        versions1 = storage.snapshot_versions(tbl)
        assert versions1 == [1, 2, 3]
        assert _txn_marks(tbl) == {merge_sink.APP_ID: 2}
        # restart against the drained checkpoint: nothing redelivered
        merge_sink.run_stream_merge(
            spark, replay_dir, events.schema, tbl,
            key_cols=["user_id"], seq_col="event_id", checkpoint=ckpt,
        )
        assert storage.snapshot_versions(tbl) == versions1
        assert _txn_marks(tbl) == {merge_sink.APP_ID: 2}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(replay_dir, ignore_errors=True)


def test_stream_merge_sink_commit_log_skips_redelivered_batch(spark):
    """A redelivered (df, batch_id) pair — Spark's at-least-once contract
    after a crash between the table commit and the offset commit — must
    not land a second time: the manifest's txn mark skips it before any
    data file is written. Even event ids arrive before odd ones, so the
    table is latest-wins by seq, not by commit order."""
    import shutil

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.streaming import sink as merge_sink

    events = _sink_events(spark)
    half = events.filter("event_id % 2 = 0")
    rest = events.filter("event_id % 2 = 1")
    scratch = tempfile.mkdtemp(prefix="sink_t2_")
    tbl = os.path.join(scratch, "table")
    try:
        handler = merge_sink.make_merge_batch_handler(
            tbl, key_cols=["user_id"], seq_col="event_id"
        )
        handler(half, 0)   # bootstrap write
        handler(rest, 1)   # merge
        versions = storage.snapshot_versions(tbl)
        data_dirs = sorted(os.listdir(os.path.join(tbl, "data")))
        handler(rest, 1)   # redelivery: txn mark present -> skipped
        assert storage.snapshot_versions(tbl) == versions
        assert sorted(os.listdir(os.path.join(tbl, "data"))) == data_dirs
        got = {
            r.user_id: r.event_id
            for r in storage.read_snapshot(spark, tbl).collect()
        }
        exp = {u: e for u, (e, _) in _latest_per_user(events).items()}
        assert got == exp
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@pytest.mark.parametrize(
    "make_handler", ["make_merge_batch_handler", "make_cdc_apply_handler"]
)
def test_stream_merge_sink_refuses_null_key_in_first_batch(
    spark, tmp_path, make_handler
):
    """The bootstrap batch takes its rows the way every later batch does:
    a NULL key fails it and no version is committed, in the upsert sink
    and in the CDC apply sink. (Stored, a NULL-key row would be refused
    by every later batch carrying that key again.)"""
    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.streaming import sink as merge_sink

    tbl = str(tmp_path / "table")
    handler = getattr(merge_sink, make_handler)(
        tbl, key_cols=["k"], seq_col="seq"
    )
    batch = spark.createDataFrame(
        [(None, "a", 1), (1, "b", 1)], "k bigint, val string, seq bigint"
    )
    if make_handler == "make_cdc_apply_handler":
        batch = batch.withColumn("op", F.lit("U"))
    with pytest.raises(Exception, match="NULL key 'k'"):
        handler(batch, 0)
    assert storage.snapshot_versions(tbl) == []


def test_stream_merge_sink_failed_commit_recovers(spark, monkeypatch):
    """The hard crash window: batch 1's merge wrote its data files but
    the manifest commit failed, killing the query. The table stays at
    its prior version (the failed batch is invisible, its txn mark
    absent); on restart Spark redelivers the batch (offset never
    committed), it lands exactly once, and the final table equals a
    never-crashed run. At-least-once + transactional skip =
    exactly-once observable."""
    import shutil

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.streaming import sink as merge_sink

    events = _sink_events(spark)
    replay_dir = write_replay_dir(events, n_files=3, sentinel=False)
    scratch = tempfile.mkdtemp(prefix="sink_t3_")
    tbl = os.path.join(scratch, "table")
    ckpt = os.path.join(scratch, "ckpt")

    class Boom(RuntimeError):
        pass

    real = storage._commit_manifest
    calls = []

    def failing_once(*a, **kw):
        calls.append(1)
        if len(calls) == 2:  # batch 1's commit
            raise Boom("crash before the manifest commit")
        return real(*a, **kw)

    monkeypatch.setattr(storage, "_commit_manifest", failing_once)
    try:
        try:
            merge_sink.run_stream_merge(
                spark, replay_dir, events.schema, tbl,
                key_cols=["user_id"], seq_col="event_id", checkpoint=ckpt,
            )
            raise AssertionError("expected the injected crash to surface")
        except Exception as e:  # StreamingQueryException wrapping Boom
            assert "crash before the manifest commit" in str(e)
        assert storage.snapshot_versions(tbl) == [1]
        assert _txn_marks(tbl) == {merge_sink.APP_ID: 0}
        # restart from the same checkpoint
        out = merge_sink.run_stream_merge(
            spark, replay_dir, events.schema, tbl,
            key_cols=["user_id"], seq_col="event_id", checkpoint=ckpt,
        )
        assert storage.snapshot_versions(tbl) == [1, 2, 3]
        assert _txn_marks(tbl) == {merge_sink.APP_ID: 2}
        got = {r.user_id: (r.event_id, r.event_type) for r in out.collect()}
        assert got == _latest_per_user(events)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(replay_dir, ignore_errors=True)


def test_session_flush_timeout_flushes_global_last_session(spark):
    """Regression pin for the watermark-pushdown trap: session_flush's
    sentinel rows must FLOW THROUGH the watermark operator (a pre-
    watermark event_type filter gets pushed into the scan and the
    watermark never advances past the last real event — the globally-last
    session then never times out). On a 4-row fixture where both users'
    final sessions can ONLY close via EventTimeTimeout, all four sessions
    must emit — including the one anchored at the global max event time."""
    from dp_dimension_importer_spark.streaming.replay import write_replay_dir
    from dp_dimension_importer_spark.streaming.stateful import session_flush

    rows = [
        (1, "2024-01-01 00:00:00", 10, "view", 1.0, "{}"),
        (2, "2024-01-01 00:05:00", 11, "view", 1.0, "{}"),
        (1, "2024-01-01 01:00:00", 12, "view", 1.0, "{}"),
        (2, "2024-01-01 02:00:00", 13, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "user_id long, ts string, event_id long, event_type string, "
        "value double, payload string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    replay_dir = write_replay_dir(df, n_files=2, sentinel=True)

    def transform(stream):
        return session_flush(stream.withWatermark("ts", "1 minute"), 1800000)

    out = (
        run_replay(spark, replay_dir, df.schema, transform, "append")
        .filter(F.col("user_id") >= 0)
        .collect()
    )
    got = {(r.user_id, r.start_ms, r.n_events) for r in out}
    assert got == {
        (1, 1704067200000, 1),
        (2, 1704067500000, 1),
        (1, 1704070800000, 1),
        (2, 1704074400000, 1),  # global-last: closes by timeout alone
    }


def _manual_replay_dir(spark, schema, batches):
    """Write one parquet file per batch (strictly increasing mtimes) plus
    the two-file sentinel, WITHOUT write_replay_dir's event-time re-sort —
    the point is delivering late-but-admitted rows in LATER micro-batches."""
    import time as _time

    from dp_dimension_importer_spark.streaming.replay import (
        _write_single_file,
    )

    base = tempfile.mkdtemp(prefix="replay_manual_")
    t0 = _time.time() - 1000
    max_ts = max(r[1] for b in batches for r in b)
    for i, rows in enumerate(batches):
        part = spark.createDataFrame(rows, schema=schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        _write_single_file(part, os.path.join(base, f"chunk_{i:05d}.parquet"), t0 + i)
    for j in range(2):
        sent = spark.createDataFrame(
            [(-1, max_ts, -1, SENTINEL_TYPE, None, "{}")], schema=schema
        ).withColumn(
            "ts",
            F.col("ts").cast("timestamp")
            + F.expr(f"INTERVAL 10 DAYS") + F.expr(f"INTERVAL {j} HOURS"),
        )
        _write_single_file(
            sent, os.path.join(base, f"zz_sentinel_{j}.parquet"), t0 + 100 + j
        )
    return base


_EVENTS_DDL = (
    "user_id long, ts string, event_id long, event_type string, "
    "value double, payload string"
)
_EVENTS_TS_DDL = _EVENTS_DDL.replace("ts string", "ts timestamp")


def test_session_flush_late_event_does_not_regress_last(spark):
    """ADVICE r5 (stateful.py:230): a late-but-above-watermark in-gap event
    arriving in a LATER micro-batch must not regress last_ms and split the
    session the next on-time event extends. Batch-equivalent semantics:
    events are [m, m+gap] intervals, sessions are merged overlaps —
    start=min, last=max, gap measured against max-so-far.

    u1: on-time 00:00/00:20, then batch-2 late 00:19:30 (in-span) and
    on-time 00:50 (exactly gap past the TRUE last 00:20 → in-session; the
    regressed last 00:19:30 would split). u2: late 00:19:45 extends the
    session BACKWARDS past its start."""
    from dp_dimension_importer_spark.streaming.stateful import session_flush

    b1 = [
        (1, "2024-01-01 00:00:00", 10, "view", 1.0, "{}"),
        (1, "2024-01-01 00:20:00", 11, "view", 1.0, "{}"),
        (2, "2024-01-01 00:20:00", 12, "view", 1.0, "{}"),
    ]
    b2 = [  # watermark after b1 = 00:19; all three admitted
        (1, "2024-01-01 00:19:30", 13, "view", 1.0, "{}"),
        (2, "2024-01-01 00:19:45", 14, "view", 1.0, "{}"),
        (1, "2024-01-01 00:50:00", 15, "view", 1.0, "{}"),
    ]
    schema = spark.createDataFrame(b1, _EVENTS_DDL).schema
    replay_dir = _manual_replay_dir(spark, schema, [b1, b2])
    ts_schema = spark.createDataFrame([], _EVENTS_TS_DDL).schema

    def transform(stream):
        return session_flush(stream.withWatermark("ts", "1 minute"), 1800000)

    out = (
        run_replay(spark, replay_dir, ts_schema, transform, "append")
        .filter(F.col("user_id") >= 0)
        .collect()
    )
    got = {(r.user_id, r.start_ms, r.end_ms, r.n_events) for r in out}
    assert got == {
        (1, 1704067200000, 1704070200000, 4),  # ONE session, not split
        (2, 1704068385000, 1704068400000, 2),  # backward-extended start
    }


def test_session_flush_disjoint_past_event_flushes_as_singleton(spark):
    """The documented O(1)-state approximation: an admitted event more than
    gap BEFORE the open session's start is a disjoint PAST session and
    flushes immediately as a singleton instead of corrupting the open
    session's span (or raising)."""
    from dp_dimension_importer_spark.streaming.stateful import session_flush

    b1 = [(1, "2024-01-01 01:00:00", 10, "view", 1.0, "{}")]
    # watermark after b1 with a 40-minute lag = 00:20; 00:25 is admitted
    # and sits 35 min (> 30-min gap) before the open session's start
    b2 = [(1, "2024-01-01 00:25:00", 11, "view", 1.0, "{}")]
    schema = spark.createDataFrame(b1, _EVENTS_DDL).schema
    replay_dir = _manual_replay_dir(spark, schema, [b1, b2])
    ts_schema = spark.createDataFrame([], _EVENTS_TS_DDL).schema

    def transform(stream):
        return session_flush(stream.withWatermark("ts", "40 minutes"), 1800000)

    out = (
        run_replay(spark, replay_dir, ts_schema, transform, "append")
        .filter(F.col("user_id") >= 0)
        .collect()
    )
    got = {(r.user_id, r.start_ms, r.end_ms, r.n_events) for r in out}
    assert got == {
        (1, 1704068700000, 1704068700000, 1),  # past singleton, immediate
        (1, 1704070800000, 1704070800000, 1),  # open session, via timeout
    }


def test_snapshot_append_sink_restart_and_redelivery(spark, tmp_path):
    """Exactly-once across RESTART for the snapshot-append sink: drain a
    2-file replay, add 2 more files, re-run with the SAME checkpoint —
    only the new batches commit (no duplicates); a hand-redelivered old
    batch_id is skipped by the manifest txn watermark; and the txn map
    survives an intervening non-append verb (RESTORE must carry the
    LATEST watermarks, never regress them)."""
    import time as _time

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.streaming import sink as snap_sink
    from dp_dimension_importer_spark.streaming.replay import (
        _write_single_file,
    )

    table_path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    rows = [(i, i * 10) for i in range(8)]
    schema = "k long, v long"
    t0 = _time.time() - 1000
    for i in range(2):
        part = spark.createDataFrame(rows[i * 2 : i * 2 + 2], schema)
        _write_single_file(part, os.path.join(replay, f"c{i}.parquet"), t0 + i)
    sch = spark.createDataFrame([], schema).schema
    out1 = snap_sink.run_stream_snapshot_append(
        spark, replay, sch, table_path, checkpoint=ckpt
    )
    assert {(r.k, r.v) for r in out1.collect()} == set(rows[:4])
    v2 = storage.snapshot_versions(table_path)[-1]
    # restart: two more files, same checkpoint — only new batches land
    for i in range(2, 4):
        part = spark.createDataFrame(rows[i * 2 : i * 2 + 2], schema)
        _write_single_file(part, os.path.join(replay, f"c{i}.parquet"), t0 + i)
    out2 = snap_sink.run_stream_snapshot_append(
        spark, replay, sch, table_path, checkpoint=ckpt
    )
    assert sorted((r.k, r.v) for r in out2.collect()) == rows
    assert storage.snapshot_versions(table_path)[-1] == v2 + 2
    # watermarks survive RESTORE: roll back to v2, then redeliver batch 1
    restored = storage.restore_snapshot(table_path, v2)
    snap_sink.make_snapshot_append_handler(table_path)(
        spark.createDataFrame(rows[2:4], schema), 1
    )
    assert storage.snapshot_versions(table_path)[-1] == restored
    assert storage.read_snapshot(spark, table_path).count() == 4


def test_snapshot_table_full_lifecycle(spark, tmp_path):
    """The end-to-end user journey over one snapshot table: exactly-once
    streaming APPEND (4 micro-batches) → copy-on-write DELETE → small-
    file COMPACTION → RESTORE past the delete → VACUUM — after every
    verb the latest read is exactly the model set, the txn watermark
    survives every verb (a replayed batch stays a no-op at the END of
    the journey), and vacuum leaves only retained versions readable."""
    import time as _time

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.streaming import sink as snap_sink
    from dp_dimension_importer_spark.streaming.replay import (
        _write_single_file,
    )

    table_path = str(tmp_path / "tbl")
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    rows = [(i, i % 3) for i in range(40)]
    schema = "k long, g long"
    t0 = _time.time() - 1000
    for i in range(4):
        part = spark.createDataFrame(rows[i * 10 : i * 10 + 10], schema)
        _write_single_file(part, os.path.join(replay, f"c{i}.parquet"), t0 + i)
    sch = spark.createDataFrame([], schema).schema
    snap_sink.run_stream_snapshot_append(
        spark, replay, sch, table_path, checkpoint=str(tmp_path / "ckpt")
    )
    live = set(range(40))
    assert {r.k for r in storage.read_snapshot(spark, table_path).collect()} == live

    res = storage.delete_where_snapshot(spark, table_path, "g = 1")
    live -= {k for k in range(40) if k % 3 == 1}
    assert res["rows_deleted"] == 40 - len(live)
    assert {r.k for r in storage.read_snapshot(spark, table_path).collect()} == live
    v_after_delete = res["version"]

    storage.compact_small_files_snapshot(spark, table_path, min_file_bytes=1 << 20)
    assert {r.k for r in storage.read_snapshot(spark, table_path).collect()} == live

    # restore to the pre-delete world (last append version)
    restored = storage.restore_snapshot(table_path, v_after_delete - 1)
    assert {r.k for r in storage.read_snapshot(spark, table_path).collect()} == set(range(40))

    # the replayed batch is STILL a no-op after delete/compact/restore
    snap_sink.make_snapshot_append_handler(table_path)(
        spark.createDataFrame(rows[:10], schema), 0
    )
    assert storage.snapshot_versions(table_path)[-1] == restored

    # vacuum to the last 2 versions; expired ones fail loud, data intact
    storage.vacuum_snapshots(table_path, keep_last=2)
    versions = storage.snapshot_versions(table_path)
    assert len(versions) == 2
    assert {r.k for r in storage.read_snapshot(spark, table_path).collect()} == set(range(40))
    try:
        storage.read_snapshot(spark, table_path, version=1)
        raise AssertionError("expected expired version")
    except FileNotFoundError:
        pass


def test_ewma_stream_floor_semantics_on_negative_values(spark, tmp_path):
    """The EWMA recurrence uses FLOOR division (Python //) in both the
    batch scan and the streaming state path; a stream containing
    negative values must match a pure-Python replay exactly — the case
    the all-positive fixture (and a truncating SQL //) could never
    catch."""
    import time as _time

    from dp_dimension_importer_spark.streaming.replay import (
        _write_single_file,
    )
    from dp_dimension_importer_spark.streaming.stateful import ewma_stream
    from tests.conftest import SF_SMOKE  # noqa: F401  (fixture parity)

    rows = [
        (1, "2024-01-01 00:00:00", 1, -3.517),
        (1, "2024-01-01 00:01:00", 2, 2.009),
        (1, "2024-01-01 00:02:00", 3, -0.001),
        (2, "2024-01-01 00:00:30", 4, -7.77),
        (2, "2024-01-01 00:03:00", 5, -0.03),
    ]
    schema = "user_id long, ts string, event_id long, value double"
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    t0 = _time.time() - 1000
    for i in range(2):  # split mid-user so state carries across batches
        part = spark.createDataFrame(
            rows[i * 3 : i * 3 + 3], schema
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        _write_single_file(part, os.path.join(replay, f"c{i}.parquet"), t0 + i)
    ts_schema = spark.createDataFrame(
        [], schema.replace("ts string", "ts timestamp")
    ).schema
    out = run_replay(spark, replay, ts_schema, ewma_stream, "append")
    got = {r.event_id: r.ewma_micro for r in out.collect()}

    import math
    exp = {}
    acc = {}
    for uid, _, eid, v in rows:
        m = math.floor(v * 1_000_000 + 0.5)
        acc[uid] = m if uid not in acc else (20 * m + 80 * acc[uid] + 50) // 100
        exp[eid] = acc[uid]
    assert got == exp, (got, exp)


def test_stream_merge_sink_commit_log_retention(spark):
    """The merge sink's commit log is the manifest's txn map: after 9
    batches it holds ONE entry (the app's highest committed batch id),
    nothing but the table is written beside it, and a redelivered old
    batch is still skipped — the log's size never grows with the
    stream's length."""
    import shutil

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.streaming import sink as merge_sink

    events = _sink_events(spark)
    batches = [events.filter(f"event_id % 9 = {i}") for i in range(9)]
    scratch = tempfile.mkdtemp(prefix="sink_t5_")
    tbl = os.path.join(scratch, "table")
    try:
        handler = merge_sink.make_merge_batch_handler(
            tbl, key_cols=["user_id"], seq_col="event_id"
        )
        for i, b in enumerate(batches):
            handler(b, i)
        assert _txn_marks(tbl) == {merge_sink.APP_ID: 8}
        assert os.listdir(scratch) == ["table"]
        versions = storage.snapshot_versions(tbl)
        handler(batches[0], 0)  # an old batch redelivered
        assert storage.snapshot_versions(tbl) == versions
        got = {
            r.user_id: r.event_id
            for r in storage.read_snapshot(spark, tbl).collect()
        }
        exp = {u: e for u, (e, _) in _latest_per_user(events).items()}
        assert got == exp
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
