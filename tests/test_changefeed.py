"""Pins for the incremental change-feed source
(streaming/changefeed.py) and its storage verbs
(storage.classify_transition / storage.version_delta), plus the r10
ADVICE hardening in storage (publish rollback, tag atomicity).

The fixture tables are tiny and hand-built — every test states its
exact expected change log, so a wrong classification, a replayed
version after restart, or a lost commit-order rank fails loudly.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dp_dimension_importer_spark import storage
from dp_dimension_importer_spark.streaming import changefeed


def _mkpath():
    scratch = tempfile.mkdtemp(prefix="cf_test_")
    return scratch, os.path.join(scratch, "t")


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, val=v, seq=s) for k, v, s in rows],
        "k bigint, val string, seq bigint",
    )


def _drain(spark, path, name, **kw):
    """availableNow replay of the feed into a memory sink; returns the
    collected change-log rows as a list of dicts."""
    ckpt = kw.pop("checkpoint", None) or tempfile.mkdtemp(prefix="cf_ck_")
    feed = changefeed.read_changes_stream(spark, path, ["k"], **kw)
    q = (
        feed.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return [r.asDict() for r in spark.table(name).collect()]


def _drain_files(spark, path, out, ckpt, **kw):
    """Checkpoint-recoverable drain: foreachBatch → parquet append (the
    memory sink can't recover from a checkpoint). Returns ONLY the rows
    this run appended."""
    import glob as _glob

    before = set(_glob.glob(os.path.join(out, "*.parquet")))
    feed = changefeed.read_changes_stream(spark, path, ["k"], **kw)
    q = (
        feed.writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    new = [
        p for p in _glob.glob(os.path.join(out, "*.parquet"))
        if p not in before
    ]
    if not new:
        return []
    return [r.asDict() for r in spark.read.parquet(*new).collect()]


def _history(spark, path):
    """v1 initial(k=1,2) → v2 append(k=3) → v3 MOR upsert(k=2 val=b2,
    seq=2) — the common fixture several tests replay."""
    storage.write_snapshot(
        spark, _df(spark, [(1, "a", 1), (2, "b", 1)]), path
    )
    storage.write_snapshot(
        spark, _df(spark, [(3, "c", 1)]), path, mode="append"
    )
    storage.upsert_delta_snapshot(
        spark, path, _df(spark, [(2, "b2", 2)]),
        key_cols=["k"], seq_col="seq",
    )


def test_feed_basic_kinds_and_versions(spark):
    scratch, path = _mkpath()
    try:
        _history(spark, path)
        name = "cf_basic_" + uuid.uuid4().hex[:8]
        rows = _drain(spark, path, name)
        got = sorted(
            (r["k"], r["val"], r["change_type"], r["_version"], r["_group"])
            for r in rows
        )
        assert got == [
            (1, "a", "insert", 1, 0),
            (2, "b", "insert", 1, 0),
            (2, "b2", "upsert", 3, 0),
            (3, "c", "insert", 2, 0),
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_arrow_and_row_paths_agree(spark):
    scratch, path = _mkpath()
    try:
        _history(spark, path)
        a = _drain(spark, path, "cf_ar_" + uuid.uuid4().hex[:8],
                   arrow="true")
        b = _drain(spark, path, "cf_ro_" + uuid.uuid4().hex[:8],
                   arrow="false")
        key = lambda r: sorted(map(repr, map(sorted, map(dict.items, r))))
        assert key(a) == key(b) and len(a) == 4
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_restart_from_checkpoint_no_redelivery(spark):
    """ADVICE r10 (high): after a restart with max_versions>0,
    latestOffset must never propose an offset below the checkpointed
    start — the second run must emit ONLY the post-restart versions,
    zero replays, even though from_version=0 and max_versions=1."""
    scratch, path = _mkpath()
    try:
        _history(spark, path)
        ckpt = os.path.join(scratch, "ckpt")
        out = os.path.join(scratch, "out")
        first = _drain_files(spark, path, out, ckpt, max_versions=1)
        assert len(first) == 4  # caught up across 3 versions

        # new commits land while the stream is down (the table is MOR
        # after _history, so new rows arrive as delta upserts)
        storage.upsert_delta_snapshot(
            spark, path, _df(spark, [(4, "d", 1)]),
            key_cols=["k"], seq_col="seq",
        )
        storage.upsert_delta_snapshot(
            spark, path, _df(spark, [(5, "e", 1)]),
            key_cols=["k"], seq_col="seq",
        )
        # the Python-source availableNow fallback runs ONE trigger per
        # start, so with max_versions=1 each run advances one version —
        # what matters is that NOTHING before the checkpoint replays
        second = _drain_files(spark, path, out, ckpt, max_versions=1)
        third = _drain_files(spark, path, out, ckpt, max_versions=1)
        got = sorted((r["k"], r["change_type"], r["_version"])
                     for r in second + third)
        assert got == [(4, "upsert", 4), (5, "upsert", 5)], (
            "restart must resume from the checkpointed version — "
            f"got {got}"
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_latest_offset_restart_unclamped():
    """Unit pin of the latestOffset fix: with no learned position the
    true latest is returned unclamped; after partitions() teaches the
    checkpointed position, admission clamps forward from IT (never
    below), and never regresses."""
    scratch, path = _mkpath()
    try:
        os.makedirs(os.path.join(path, "_manifests"))
        for v in range(1, 8):
            with open(
                os.path.join(path, "_manifests", f"v{v}.json"), "w"
            ) as f:
                json.dump({"files": [], "schema": {"k": "bigint"}}, f)
        cls = changefeed.make_changefeed_source()
        reader = cls(
            options={
                "path": path, "keys": "k",
                "from_version": "0", "max_versions": "2",
            }
        ).streamReader(None)
        # restart shape: first call must NOT clamp against from_version
        assert reader.latestOffset() == {"v": 7}
        # checkpoint said v7; a new commit appears
        with open(
            os.path.join(path, "_manifests", "v8.json"), "w"
        ) as f:
            json.dump({"files": [], "schema": {"k": "bigint"}}, f)
        reader.partitions({"v": 7}, {"v": 7})
        off = reader.latestOffset()
        assert off == {"v": 8}  # clamped to 7+2 but only 8 exists
        assert off["v"] >= 7, "offset regressed below the checkpoint"
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_max_bytes_admission(spark):
    """Volume-based admission (r11, the maxBytesPerTrigger shape): with
    a budget smaller than two commits' files, each trigger admits
    exactly one version once the checkpointed position is learned — and
    a single commit larger than the whole budget still admits (the feed
    can't stall)."""
    scratch, path = _mkpath()
    try:
        for i in range(3):
            storage.write_snapshot(
                spark,
                _df(spark, [(i * 10 + j, f"v{j}", 1) for j in range(50)])
                .coalesce(1),
                path,
                mode="append" if i else "overwrite",
            )
        one_file = os.path.getsize(
            os.path.join(
                path,
                storage._load_manifest(path, 1)["files"][0],
            )
        )
        cls = changefeed.make_changefeed_source()
        reader = cls(
            options={
                "path": path, "keys": "k",
                "from_version": "0",
                "max_bytes": str(one_file + 16),  # < two files
            }
        ).streamReader(None)
        reader.partitions({"v": 0}, {"v": 0})  # learn position 0
        assert reader.latestOffset() == {"v": 1}
        reader.partitions({"v": 0}, {"v": 1})
        assert reader.latestOffset() == {"v": 2}
        reader.partitions({"v": 1}, {"v": 2})
        assert reader.latestOffset() == {"v": 3}
        # an oversized single commit still admits: budget of 1 byte
        tiny = cls(
            options={
                "path": path, "keys": "k",
                "from_version": "0", "max_bytes": "1",
            }
        ).streamReader(None)
        tiny.partitions({"v": 0}, {"v": 0})
        assert tiny.latestOffset() == {"v": 1}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_vacuumed_gap_raises(spark):
    scratch, path = _mkpath()
    try:
        _history(spark, path)
        # consume through v3, then vacuum everything but the head
        ckpt = os.path.join(scratch, "ckpt")
        out = os.path.join(scratch, "out")
        _drain_files(spark, path, out, ckpt)
        storage.write_snapshot(
            spark, _df(spark, [(9, "z", 1)]), path,
            enforce_schema=False,
        )  # v4 overwrite so old versions are vacuumable
        storage.write_snapshot(
            spark, _df(spark, [(10, "y", 1)]), path, mode="append"
        )  # v5
        storage.vacuum_snapshots(path, keep_last=1)
        assert storage.snapshot_versions(path) == [5]
        # checkpointed offset v3 is gone: the feed must refuse loudly
        with pytest.raises(Exception, match="expired"):
            _drain_files(spark, path, out, ckpt)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_rewrite_diff_splits_into_hash_ranges(spark):
    """ADVICE r10: the rewrite fallback plans diff_partitions key-hash
    range tasks (not ONE whole-version task), and the union of the
    ranges is exactly the generic diff."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark,
            _df(spark, [(k, f"v{k}", 1) for k in range(20)]),
            path,
        )
        # COW delete = rewrite transition with real deletes
        storage.delete_where_snapshot(spark, path, "k % 4 = 0")
        cls = changefeed.make_changefeed_source()
        reader = cls(
            options={
                "path": path, "keys": "k",
                "from_version": "1", "diff_partitions": "4",
            }
        ).streamReader(None)
        parts = reader.partitions({"v": 1}, {"v": 2})
        kinds = [p.payload[0] for p in parts]
        assert kinds == ["diff"] * 4, kinds
        # auto mode: a tiny table plans ONE range (no useless fan-out)
        auto = cls(
            options={"path": path, "keys": "k", "from_version": "1"}
        ).streamReader(None)
        auto_parts = auto.partitions({"v": 1}, {"v": 2})
        assert [p.payload[0] for p in auto_parts] == ["diff"], auto_parts
        rows = [r for p in parts for r in reader.read(p)]
        ks = sorted(r[0] for r in rows)
        assert ks == [0, 4, 8, 12, 16]
        assert {r[-3] for r in rows} == {"delete"}
        # ranges are disjoint: no key emitted twice
        assert len(ks) == len(set(ks))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_vacuum_collapsed_mor_commits_fold_in_commit_order(spark):
    """ADVICE r10 (low): two MOR commits collapsed by vacuum into one
    classified transition must fold by COMMIT ORDER, not seq — the
    later commit's row (seq=3) beats the earlier commit's higher seq
    (seq=5), matching storage._resolve_mor."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(1, "base", 1)]), path
        )
        storage.upsert_delta_snapshot(
            spark, path, _df(spark, [(1, "mid", 5)]),
            key_cols=["k"], seq_col="seq",
        )
        storage.upsert_delta_snapshot(
            spark, path, _df(spark, [(1, "last", 3)]),
            key_cols=["k"], seq_col="seq",
        )
        storage.tag_snapshot(path, "pin-v1", 1)
        storage.vacuum_snapshots(path, keep_last=1)
        assert storage.snapshot_versions(path) == [1, 3]

        name = "cf_gap_" + uuid.uuid4().hex[:8]
        feed = changefeed.read_changes_stream(spark, path, ["k"])
        q = (
            feed.writeStream.format("memory").queryName(name)
            .option(
                "checkpointLocation",
                os.path.join(scratch, "ck"),
            )
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        log = spark.table(name)
        ups = {
            (r["val"], r["_version"], r["_group"])
            for r in log.filter("change_type = 'upsert'").collect()
        }
        assert ups == {("mid", 3, 0), ("last", 3, 1)}, ups
        folded = changefeed.changefeed_fold(
            log, ["k"], seq_col="seq"
        ).collect()
        assert [(r["k"], r["val"]) for r in folded] == [(1, "last")]
        # and it matches the table's own resolution
        res = storage.read_snapshot(spark, path).collect()
        assert [(r["k"], r["val"]) for r in res] == [(1, "last")]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_schema_evolution_restart_and_null_fill(spark):
    """Additive evolution contract: a column added after stream start is
    invisible until restart (the stream schema is fixed from the latest
    manifest at start); after restart — or on a fresh feed — files
    committed BEFORE the column existed project it as typed NULL (the
    Arrow path's null-fill, exercised here because every column type is
    primitive)."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, "a", 1)]), path)
        ckpt = os.path.join(scratch, "ck")
        out = os.path.join(scratch, "out1")
        first = _drain_files(spark, path, out, ckpt)
        assert [sorted(r) for r in map(dict.keys, first)] == [
            ["_group", "_version", "change_type", "k", "seq", "val"]
        ]
        # additive evolution lands while the stream is down
        ev = spark.createDataFrame(
            [Row(k=2, val="b", seq=1, extra=42)],
            "k bigint, val string, seq bigint, extra bigint",
        )
        storage.write_snapshot(spark, ev, path, mode="append")
        second = _drain_files(
            spark, path, os.path.join(scratch, "out2"), ckpt
        )
        assert [(r["k"], r["extra"], r["_version"]) for r in second] == [
            (2, 42, 2)
        ]
        # fresh feed from v0: pre-evolution files null-fill the new column
        fresh = _drain_files(
            spark, path, os.path.join(scratch, "out3"),
            os.path.join(scratch, "ck2"),
        )
        got = sorted((r["k"], r["extra"]) for r in fresh)
        assert got == [(1, None), (2, 42)], got
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_timestamp_columns_roundtrip_both_paths(spark):
    """TIMESTAMP columns stream correctly (r11): Spark writes parquet
    instants that pyarrow reads back NAIVE; the feed must cast them to
    UTC-absolute on both the Arrow path and the row path, and the values
    must roundtrip exactly. Also covers the diff path (a COW delete's
    emitted old rows carry the timestamp)."""
    import datetime as dt

    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [
                Row(k=1, ts=dt.datetime(2024, 1, 1, 10, 0, 0)),
                Row(k=2, ts=dt.datetime(2024, 6, 15, 23, 59, 59)),
            ],
            "k bigint, ts timestamp",
        )
        storage.write_snapshot(spark, df, path)
        storage.delete_where_snapshot(spark, path, "k = 2")  # rewrite
        expected_insert = {
            (1, dt.datetime(2024, 1, 1, 10, 0, 0)),
            (2, dt.datetime(2024, 6, 15, 23, 59, 59)),
        }
        for mode in ("true", "false"):
            name = f"cf_ts_{mode}_" + uuid.uuid4().hex[:8]
            rows = _drain(spark, path, name, arrow=mode)
            ins = {
                (r["k"], r["ts"]) for r in rows
                if r["change_type"] == "insert"
            }
            dels = {
                (r["k"], r["ts"]) for r in rows
                if r["change_type"] == "delete"
            }
            assert ins == expected_insert, (mode, ins)
            assert dels == {(2, dt.datetime(2024, 6, 15, 23, 59, 59))}, (
                mode, dels,
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_reserved_column_collision(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark,
            spark.createDataFrame(
                [Row(k=1, change_type="x")],
                "k bigint, change_type string",
            ),
            path,
        )
        with pytest.raises(Exception, match="collides"):
            changefeed.read_changes_stream(spark, path, ["k"])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_version_delta_dispatch_matches_snapshot_changes(spark):
    """storage.version_delta's per-kind fast paths (append / mor / dv /
    rewrite) must each equal the generic diff-of-snapshots on the same
    version pair — the canonical-form equality the cost model must not
    change."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(k, f"v{k}", 1) for k in range(8)]), path
        )  # v1
        storage.write_snapshot(
            spark, _df(spark, [(8, "v8", 1)]), path, mode="append"
        )  # v2 append
        storage.delete_where_snapshot(
            spark, path, "k = 0", mode="dv"
        )  # v3 dv
        storage.purge_deletion_vectors(spark, path)  # v4 rewrite
        storage.upsert_delta_snapshot(
            spark, path, _df(spark, [(1, "upd", 2)]),
            key_cols=["k"], seq_col="seq",
        )  # v5 mor
        for v in (2, 3, 4, 5):
            fast = storage.version_delta(spark, path, v, ["k"])
            slow = storage.snapshot_changes(spark, path, v - 1, v, ["k"])
            canon = lambda df: sorted(
                (
                    r["k"], r["change_type"],
                    None if r["_old"] is None else tuple(r["_old"]),
                    None if r["_new"] is None else tuple(r["_new"]),
                )
                for r in df.collect()
            )
            assert canon(fast) == canon(slow), f"v{v - 1}->v{v} mismatch"
        # a MOR history on a bucket-partitioned table: every adjacent
        # pair and every two-back range equals the snapshot diff
        mpath = os.path.join(scratch, "mor")
        ddl = "k bigint, val string, seq bigint, n int"
        storage.write_snapshot_partitioned(
            spark,
            spark.createDataFrame(
                [Row(k=k, val=f"v{k}", seq=0, n=k) for k in range(8)], ddl
            ),
            mpath, [("bucket", "k", 3)],
        )  # v1
        storage.upsert_delta_snapshot(
            spark, mpath, spark.createDataFrame(
                [Row(k=1, val="u1", seq=1, n=1)], ddl
            ), ["k"], "seq",
        )  # v2 turns MOR
        storage.widen_column_type(mpath, "n", "bigint")  # v3
        wide = "k bigint, val string, seq bigint, n bigint"
        storage.upsert_delta_snapshot(
            spark, mpath, spark.createDataFrame(
                [Row(k=2, val="u2", seq=2, n=2**40)], wide
            ), ["k"], "seq",
        )  # v4 upsert after the widening
        storage.upsert_delta_snapshot(
            spark, mpath, spark.createDataFrame(
                [Row(k=3, val="u3", seq=3, n=3, extra="x")],
                wide + ", extra string",
            ), ["k"], "seq",
        )  # v5 adds a column
        storage.delete_where_snapshot(spark, mpath, "k = 4")  # v6 MOR delete
        storage.upsert_delta_snapshot(
            spark, mpath, spark.createDataFrame(
                [Row(k=20, val="tmp", seq=4, n=0, extra=None)],
                wide + ", extra string",
            ), ["k"], "seq",
        )  # v7 inserts k=20 ...
        storage.delete_where_snapshot(spark, mpath, "k = 20")  # v8 ... gone
        storage.upsert_delta_snapshot(
            spark, mpath, spark.createDataFrame(
                [Row(k=5, val=None, seq=0, n=5, extra=None),
                 Row(k=6, val="v6", seq=0, n=6, extra=None)],
                wide + ", extra string",
            ), ["k"], "seq",
        )  # v9 a NULL overwrite and a same-value upsert
        head = storage.snapshot_versions(mpath)[-1]
        assert head == 9
        for v in range(2, head + 1):
            for base in {v - 1, max(v - 2, 1)}:
                fast = storage.version_delta(
                    spark, mpath, v, ["k"], base_version=base
                )
                slow = storage.snapshot_changes(spark, mpath, base, v, ["k"])
                assert canon(fast) == canon(slow), f"v{base}->v{v} mismatch"
        d = storage.version_delta(spark, mpath, 8, ["k"], base_version=6)
        assert d.collect() == []  # k=20 inserted and deleted in range
        d = storage.version_delta(spark, mpath, 9, ["k"])
        assert [(r["k"], r["change_type"]) for r in d.collect()] == [
            (5, "update")
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_publish_race_corrective_commit_never_reuses_version(spark, monkeypatch):
    """ADVICE r10 (medium): when a vacuum races the publish and wins
    after the manifest commit, the committed version must NOT be
    unlinked (the next commit would reuse the number with different
    data) — a corrective follow-up restores the prior head and the
    dangling version number is burned forever."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, "a", 1)]), path)
        staged = storage.stage_snapshot(
            spark, _df(spark, [(1, "a", 1), (2, "b", 1)]), path
        )
        calls = {"n": 0}
        real = storage._missing_files

        def fake(p, m):
            calls["n"] += 1
            if calls["n"] == 2:  # the post-commit re-check
                return [m["files"][0]]
            return real(p, m)

        monkeypatch.setattr(storage, "_missing_files", fake)
        with pytest.raises(ValueError, match="corrective"):
            storage.publish_snapshot(path, staged)
        monkeypatch.setattr(storage, "_missing_files", real)
        vs = storage.snapshot_versions(path)
        # v2 = the dangling publish, v3 = the corrective restore
        assert vs == [1, 2, 3]
        head = storage.read_snapshot(spark, path)
        assert [(r["k"], r["val"]) for r in head.collect()] == [(1, "a")]
        # the burned number is never reused: the next commit takes v4
        v = storage.write_snapshot(
            spark, _df(spark, [(3, "c", 1)]), path, mode="append"
        )
        assert v == 4
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_publish_race_corrective_with_no_prior_version(spark, monkeypatch):
    """The prev-less variant of the publish race: the corrective commit
    restores an EMPTY head (there was nothing before), which must read
    back as a typed empty table — not a zero-path parquet error."""
    scratch, path = _mkpath()
    try:
        staged = storage.stage_snapshot(
            spark, _df(spark, [(1, "a", 1)]), path
        )
        calls = {"n": 0}
        real = storage._missing_files

        def fake(p, m):
            calls["n"] += 1
            return [m["files"][0]] if calls["n"] == 2 else real(p, m)

        monkeypatch.setattr(storage, "_missing_files", fake)
        with pytest.raises(ValueError, match="corrective"):
            storage.publish_snapshot(path, staged)
        monkeypatch.setattr(storage, "_missing_files", real)
        assert storage.snapshot_versions(path) == [1, 2]
        head = storage.read_snapshot(spark, path)
        assert head.count() == 0
        assert head.columns == ["k", "val", "seq"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_tag_corpse_from_crashed_tagger_is_recovered(spark):
    """ADVICE r10 (low): an empty tags/<name>.json (a pre-link-era
    tagger crashed mid-write) must not wedge the name — tag_snapshot
    clears the corpse and claims the tag with fully-written bytes."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, "a", 1)]), path)
        tdir = os.path.join(path, "_manifests", "tags")
        os.makedirs(tdir, exist_ok=True)
        open(os.path.join(tdir, "rc1.json"), "w").close()  # the corpse
        assert storage.list_tags(path) == {}
        assert storage.tag_snapshot(path, "rc1", 1) == 1
        assert storage.list_tags(path) == {"rc1": 1}
        # and no stray tmp files remain
        assert not [
            f for f in os.listdir(tdir) if f.startswith(".tmp-")
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_feed_over_partitioned_table_appends(spark):
    """Interplay pin (r11): hive-partitioned commits look exactly like
    appends to the feed — partition metadata is extra manifest state,
    classify must still say append, and the Arrow reader must surface
    the SOURCE columns whole (identity transforms copy, never move,
    their column into dirs)."""
    import datetime

    scratch, path = _mkpath()
    D = datetime.datetime
    try:
        def ev(lo, hi):
            return spark.createDataFrame(
                [
                    Row(k=i, ts=D(2024, 3, 1 + i % 3), typ="ab"[i % 2])
                    for i in range(lo, hi)
                ],
                "k bigint, ts timestamp, typ string",
            )

        spec = [("days", "ts"), ("identity", "typ")]
        storage.write_snapshot_partitioned(spark, ev(0, 6), path, spec)
        storage.write_snapshot_partitioned(
            spark, ev(6, 10), path, spec, mode="append"
        )
        tr = storage.classify_transition(path, 1, 2)
        assert tr["kind"] == "append"
        feed = changefeed.read_changes_stream(spark, path, ["k"])
        import tempfile as _tf

        q = (
            feed.writeStream.format("memory")
            .queryName("cf_part")
            .option("checkpointLocation", _tf.mkdtemp(prefix="cf_ck_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM cf_part").collect()
        assert len(got) == 10
        assert {r["change_type"] for r in got} == {"insert"}
        assert {r["_version"] for r in got} == {1, 2}
        # source columns intact through the hive layout + Arrow path
        by_k = {r["k"]: r for r in got}
        assert by_k[7]["typ"] == "b" and by_k[7]["ts"] == D(2024, 3, 2)
        fold = changefeed.changefeed_fold(
            spark.sql("SELECT * FROM cf_part"), ["k"]
        )
        assert sorted(r["k"] for r in fold.collect()) == list(range(10))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_feed_partition_where_admits_only_matching_files(spark):
    """r11: partition_where prunes append commits at ADMISSION — a
    consumer of one type/day-range receives only its partitions' files
    (coarse: whole partitions flow, sub-partition rows included)."""
    import datetime

    scratch, path = _mkpath()
    D = datetime.datetime
    try:
        def ev(lo, hi):
            return spark.createDataFrame(
                [
                    Row(k=i, ts=D(2024, 3, 1 + i % 3), typ="ab"[i % 2])
                    for i in range(lo, hi)
                ],
                "k bigint, ts timestamp, typ string",
            )

        spec = [("days", "ts"), ("identity", "typ")]
        storage.write_snapshot_partitioned(spark, ev(0, 12), path, spec)
        storage.write_snapshot_partitioned(
            spark, ev(12, 24), path, spec, mode="append"
        )
        import tempfile as _tf

        feed = changefeed.read_changes_stream(
            spark, path, ["k"],
            partition_where={
                "typ": ("=", "a"),
                "ts": ("between", D(2024, 3, 2), D(2024, 3, 3, 23, 59)),
            },
        )
        q = (
            feed.writeStream.format("memory")
            .queryName("cf_pw")
            .option("checkpointLocation", _tf.mkdtemp(prefix="cf_ck_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM cf_pw").collect()
        # typ='a' means even k; days 2,3 mean k%3 in (1,2): both commits
        want = [
            k for k in range(24) if k % 2 == 0 and (1 + k % 3) in (2, 3)
        ]
        assert sorted(r["k"] for r in got) == sorted(want)
        assert {r["typ"] for r in got} == {"a"}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

def test_admit_identity_date_literals_never_drop_matches():
    """ADVICE r11 (high): json default=str carries date(2024,1,10) as
    '2024-01-10'; the r11 coercion parsed it to a datetime and rendered
    the TIMESTAMP identity format ('...-00.00.00.000000'), which never
    equals a date column's stored 'yyyy-MM-dd' tuple — every matching
    file silently dropped (a missed change). Admission now tests every
    plausible rendering and admits on any match."""
    from dp_dimension_importer_spark.streaming.changefeed import (
        _admit_partition_files,
    )

    man = {
        "partition": {
            "specs": [[{"transform": "identity", "col": "d"}]],
            "current": 0,
            "values": {
                "f1": [0, ["2024-01-10"]],
                "f2": [0, ["2024-01-11"]],
                "f3": None,  # no tuple: always flows
            },
        }
    }
    rels = ["f1", "f2", "f3"]
    # the exact ADVICE scenario: a date literal after the JSON round-trip
    pw = json.loads(json.dumps({"d": ("=", "2024-01-10")}))
    assert _admit_partition_files(man, rels, pw) == ["f1", "f3"]
    # in-list and between with ISO date strings
    assert _admit_partition_files(
        man, rels, {"d": ("in", ["2024-01-10", "2024-01-11"])}
    ) == rels
    assert _admit_partition_files(
        man, rels, {"d": ("between", "2024-01-09", "2024-01-10")}
    ) == ["f1", "f3"]
    # identity on a TIMESTAMP column still admits via the ts rendering
    man_ts = {
        "partition": {
            "specs": [[{"transform": "identity", "col": "t"}]],
            "current": 0,
            "values": {
                "g1": [0, ["2024-01-10-00.00.00.000000"]],
                "g2": [0, ["2024-01-11-12.30.00.000000"]],
            },
        }
    }
    assert _admit_partition_files(
        man_ts, ["g1", "g2"], {"t": ("=", "2024-01-10")}
    ) == ["g1"]
    assert _admit_partition_files(
        man_ts, ["g1", "g2"], {"t": ("=", "2024-01-11 12:30:00")}
    ) == ["g2"]
    # a non-ISO identity string with dashes stays a plain string match
    man_s = {
        "partition": {
            "specs": [[{"transform": "identity", "col": "s"}]],
            "current": 0,
            "values": {"h1": [0, ["ab-cd"]], "h2": [0, ["xy:z"]]},
        }
    }
    assert _admit_partition_files(
        man_s, ["h1", "h2"], {"s": ("=", "ab-cd")}
    ) == ["h1"]


def test_admit_bucket_predicates_prune_driver_side():
    """r12: bucket transforms prune =/in at admission via the pure-python
    XXH64 twin of the JVM hash (no SparkSession in the stream planner)."""
    from dp_dimension_importer_spark.storage import _bucket_of
    from dp_dimension_importer_spark.streaming.changefeed import (
        _admit_partition_files,
    )

    n = 8
    b77, b78 = _bucket_of(77, n), _bucket_of(78, n)
    assert b77 != b78  # fixture sanity: distinct buckets
    man = {
        "partition": {
            "specs": [[{"transform": "bucket", "col": "k", "n": n}]],
            "current": 0,
            "values": {"f77": [0, [b77]], "f78": [0, [b78]]},
        }
    }
    assert _admit_partition_files(
        man, ["f77", "f78"], {"k": ("=", 77)}
    ) == ["f77"]
    assert _admit_partition_files(
        man, ["f77", "f78"], {"k": ("in", [78])}
    ) == ["f78"]
    # between on a bucket carries no order: both flow (conservative)
    assert _admit_partition_files(
        man, ["f77", "f78"], {"k": ("between", 1, 99)}
    ) == ["f77", "f78"]


def test_feed_partition_where_date_column_end_to_end(spark):
    """End-to-end ADVICE r11 (high) pin: identity partitioning on a DATE
    column + a date literal through read_changes_stream's JSON boundary.
    Pre-fix this streamed ZERO rows (all files dropped at admission)."""
    import datetime

    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [
                Row(k=i, d=datetime.date(2024, 1, 10 + i % 2))
                for i in range(8)
            ],
            "k bigint, d date",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("identity", "d")]
        )
        got = _drain(
            spark, path, "cf_datep",
            partition_where={"d": ("=", datetime.date(2024, 1, 10))},
        )
        assert sorted(r["k"] for r in got) == [0, 2, 4, 6]
        assert {r["change_type"] for r in got} == {"insert"}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_feed_partition_where_prunes_dv_commits(spark):
    """r11 verdict #7: a DV commit on an unmatched partition emits ZERO
    rows under partition_where (tuples are in the manifest; the feed
    intersects touched files with the predicate), while a matched
    partition's deletes flow."""
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [Row(k=i, g="ab"[i % 2], v=float(i)) for i in range(10)],
            "k bigint, g string, v double",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("identity", "g")]
        )
        # delete rows only in partition g='b'
        r = storage.delete_where_snapshot(
            spark, path, "g = 'b' and k < 4", mode="dv"
        )
        assert r["dv_files_written"] == 1
        # consumer of g='a': the v2 DV commit must contribute NOTHING
        got_a = _drain(
            spark, path, "cf_dv_a", partition_where={"g": ("=", "a")}
        )
        assert {r["change_type"] for r in got_a} == {"insert"}
        assert sorted(r["k"] for r in got_a) == [0, 2, 4, 6, 8]
        # consumer of g='b' sees its deletes
        got_b = _drain(
            spark, path, "cf_dv_b", partition_where={"g": ("=", "b")}
        )
        dels = [r for r in got_b if r["change_type"] == "delete"]
        assert sorted(r["k"] for r in dels) == [1, 3]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_feed_mapped_eras_translate_and_boundaries_refuse(spark):
    """ADVICE r11 (medium), upgraded r12: the feed TRANSLATES mapped-era
    transitions (reads physical names, emits logical — values intact,
    never NULLs) and refuses only a genuine rename boundary, including
    the post-materialize restart where the latest manifest has no map
    left to check (the era column vanished without a drop tombstone)."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark,
            spark.createDataFrame([Row(k=1, price=10.0)],
                                  "k bigint, price double"),
            path,
        )
        storage.rename_column(path, "price", "amount")          # v2
        storage.write_snapshot(                                 # v3 (mapped)
            spark,
            spark.createDataFrame([Row(k=2, amount=20.0)],
                                  "k bigint, amount double"),
            path, mode="append",
        )
        # inside the mapped era (v2 onward): VALUES stream correctly
        # under the logical name from the physical-named files
        got = _drain(spark, path, "cf_mapped_era", from_version=2)
        assert [(r["k"], r["amount"]) for r in got] == [(2, 20.0)]
        storage.materialize_column_mapping(spark, path)         # v4 (clear)
        # crossing the rename boundary refuses — BOTH while mapped and
        # after materialize (the vanished-column detector; pre-fix the
        # v1 era's price would silently stream as NULL amount)
        with pytest.raises(Exception, match="rename|vanished"):
            _drain(spark, path, "cf_cross_mat")
        # starting AFTER the boundary is fine, mapped or not
        got = _drain(spark, path, "cf_post_mat", from_version=4)
        assert got == []
        storage.write_snapshot(
            spark,
            spark.createDataFrame([Row(k=3, amount=30.0)],
                                  "k bigint, amount double"),
            path, mode="append",
        )
        got = _drain(
            spark, path, "cf_post_mat2", from_version=4,
            checkpoint=tempfile.mkdtemp(prefix="cf_ck_"),
        )
        assert [r["k"] for r in got] == [3]
        assert got[0]["amount"] == 30.0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_era_cols_translation_rules():
    """Unit pins for the per-transition translation table."""
    from dp_dimension_importer_spark.streaming.changefeed import _era_cols

    cols = [("k", "bigint"), ("amount", "double")]
    # mapped era: read physical, emit logical
    era = {
        "schema": {"k": "bigint", "amount": "double"},
        "column_mapping": {"amount": "price"},
    }
    assert _era_cols(era, cols, {"amount": "price"}, "t") == [
        ("k", "k", "bigint"), ("price", "amount", "double")
    ]
    # pre-rename era + still-mapped latest: boundary detected via the
    # physical collision
    era1 = {"schema": {"k": "bigint", "price": "double"}}
    with pytest.raises(ValueError, match="rename boundary"):
        _era_cols(era1, cols, {"amount": "price"}, "t")
    # pre-rename era + MATERIALIZED latest (no map): the vanished-column
    # detector refuses
    with pytest.raises(ValueError, match="vanished"):
        _era_cols(era1, cols, {}, "t")
    # a genuinely later-added column null-fills
    era2 = {"schema": {"k": "bigint"}}
    assert _era_cols(era2, cols, {}, "t") == [
        ("k", "k", "bigint"), ("amount", "amount", "double")
    ]
    # a tombstoned drop passes; an untombstoned vanish refuses
    era3 = {"schema": {"k": "bigint", "amount": "double",
                       "note": "string"}}
    assert _era_cols(era3, cols, {}, "t", latest_dropped=("note",)) == [
        ("k", "k", "bigint"), ("amount", "amount", "double")
    ]
    with pytest.raises(ValueError, match="vanished"):
        _era_cols(era3, cols, {}, "t")

def test_feed_partition_where_on_renamed_partition_column(spark):
    """Three-feature interplay (r12): the partition column RENAMES
    (spec re-keys to the logical name), the feed opens INSIDE the
    mapped era with partition_where on the NEW name — admission prunes
    by the re-keyed spec, the era translation emits the logical schema,
    and the physical-named files' values arrive intact."""
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [Row(k=i, g="ab"[i % 2], v=float(i)) for i in range(12)],
            "k bigint, g string, v double",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("identity", "g")]
        )                                                      # v1
        storage.rename_column(path, "g", "grp")                # v2
        more = spark.createDataFrame(
            [Row(k=100 + i, grp="ab"[i % 2], v=float(i)) for i in range(6)],
            "k bigint, grp string, v double",
        )
        storage.write_snapshot_partitioned(                    # v3 (mapped)
            spark, more, path, [("identity", "grp")], mode="append"
        )
        got = _drain(
            spark, path, "cf_map_pw", from_version=2,
            partition_where={"grp": ("=", "a")},
        )
        # only the v3 append's 'a' partition flows, values intact,
        # logical name in the output schema
        assert sorted((r["k"], r["grp"], r["v"]) for r in got) == [
            (100, "a", 0.0), (102, "a", 2.0), (104, "a", 4.0)
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_admit_between_one_sided_date_rendering():
    """ADVICE r12 (medium): BETWEEN with a midnight lower bound and a
    non-midnight upper bound (both ISO strings after the JSON boundary)
    produced a 'date' rendering only for lo — no date pair formed, and
    the boundary bare-date tuple failed both remaining pairs: a
    MATCHING file silently dropped. The missing 'date' side is now
    synthesized by truncating that bound's ts rendering (a conservative
    superset on both ends); an unsynthesizable one-sided kind skips
    pruning on the column entirely."""
    import datetime

    from dp_dimension_importer_spark.streaming.changefeed import (
        _admit_partition_files,
    )

    man = {
        "partition": {
            "specs": [[{"transform": "identity", "col": "d"}]],
            "current": 0,
            "values": {
                "f05": [0, ["2024-01-05"]],
                "f06": [0, ["2024-01-06"]],
                "f99": [0, ["2024-03-01"]],
            },
        }
    }
    rels = ["f05", "f06", "f99"]
    # the exact ADVICE scenario: datetime bounds through json default=str
    pw = json.loads(json.dumps(
        {"d": (
            "between",
            datetime.datetime(2024, 1, 5),
            datetime.datetime(2024, 1, 8, 13, 0),
        )},
        default=str,
    ))
    assert _admit_partition_files(man, rels, pw) == ["f05", "f06"]
    # reverse orientation: non-midnight lo, midnight hi — f05 is inside
    # the truncated-date superset, f99 still prunes
    pw2 = json.loads(json.dumps(
        {"d": (
            "between",
            datetime.datetime(2024, 1, 4, 11, 30),
            datetime.datetime(2024, 1, 6),
        )},
        default=str,
    ))
    assert _admit_partition_files(man, rels, pw2) == ["f05", "f06"]
    # one side unrenderable as a ts: no synthesis possible — admit all
    pw3 = {"d": ("between", "notadate", "2024-01-08 13:00:00")}
    assert _admit_partition_files(man, rels, pw3) == rels


def test_feed_diff_over_dropped_column_era(spark):
    """ADVICE r12 (medium): a rewrite transition whose BASE era schema
    contains a since-dropped, tombstoned column passed driver-side
    planning (partitions() ships latest_dropped) but crashed
    executor-side — read()'s diff branch rebuilt the era translation
    WITHOUT the tombstones and raised 'vanished without a drop
    tombstone' on legitimately-dropped-column history. The tombstones
    now ride the diff payload."""
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [
                Row(k=1, val="a", note="x", seq=1),
                Row(k=2, val="b", note="y", seq=1),
            ],
            "k bigint, val string, note string, seq bigint",
        )
        storage.write_snapshot(spark, df, path)              # v1
        storage.tag_snapshot(path, "base", 1)                # pin v1
        storage.drop_column(path, "note")                    # v2 (metadata)
        storage.delete_where_snapshot(spark, path, "k = 2")  # v3 (rewrite)
        # expire v2: the feed steps v1 -> v3 directly, a rewrite
        # transition whose base manifest still carries 'note'
        storage.vacuum_snapshots(path, keep_last=1)
        assert storage.snapshot_versions(path) == [1, 3]
        rows = _drain(spark, path, "cf_dropera_" + uuid.uuid4().hex[:8])
        got = sorted(
            (r["k"], r["change_type"], r["_version"]) for r in rows
        )
        assert got == [
            (1, "insert", 1), (2, "delete", 3), (2, "insert", 1)
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_feed_mor_delete_tombstones(spark):
    """r13 MOR DML: a delete-tombstone delta commit classifies 'mor' and
    the feed must emit its rows as change_type='delete' (key + seq, NULL
    values — the raw-log contract), never as NULL-valued upserts; plain
    upsert groups in the same stream keep the arrow hot path."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(1, "a", 0), (2, "b", 0)]), path
        )
        storage.upsert_delta_snapshot(
            spark, path, _df(spark, [(2, "b2", 1), (3, "c", 1)]),
            key_cols=["k"], seq_col="seq",
        )
        r = storage.delete_where_snapshot(spark, path, "k = 2")
        rows = _drain(spark, path, "cf_mordel_" + uuid.uuid4().hex[:8])
        got = sorted(
            ((x["k"], x["val"], x["change_type"], x["_version"])
             for x in rows),
            key=repr,
        )
        assert got == sorted([
            (1, "a", "insert", 1),
            (2, "b", "insert", 1),
            (2, None, "delete", r["version"]),
            (2, "b2", "upsert", 2),
            (3, "c", "upsert", 2),
        ], key=repr)
        # the fold over the tombstone-bearing log == the resolved table
        log = spark.createDataFrame(rows)
        folded = {
            (x["k"], x["val"])
            for x in changefeed.changefeed_fold(
                log, ["k"], seq_col="seq"
            ).collect()
        }
        live = {
            (x["k"], x["val"])
            for x in storage.read_snapshot(spark, path).collect()
        }
        assert folded == live == {(1, "a"), (3, "c")}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_feed_rewrite_admission_exact(spark):
    """r13 (r12 verdict #5): a REWRITE confined to unmatched partitions
    emits ZERO rows under partition_where — both diff endpoints are
    restricted to admitted files before the key-hash diff, so a
    one-region consumer stops diffing the other regions' files when a
    compaction/DML rewrite lands. A rewrite touching the subscribed
    partition still emits exactly its changes."""
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [Row(k=i, g="ab"[i % 2], v=float(i)) for i in range(8)],
            "k bigint, g string, v double",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("identity", "g")]
        )
        # COW update confined to partition g='b' -> rewrite transition
        storage.update_where_snapshot(
            spark, path, {"v": F.col("v") + 100}, "g = 'b'"
        )
        rows = _drain(
            spark, path, "cf_rw_" + uuid.uuid4().hex[:8],
            partition_where={"g": ("=", "a")},
        )
        got = sorted((r["k"], r["change_type"], r["_version"]) for r in rows)
        # v1 inserts for partition a only; the v2 rewrite of partition b
        # emits NOTHING to this subscriber
        assert got == [
            (0, "insert", 1), (2, "insert", 1),
            (4, "insert", 1), (6, "insert", 1),
        ]
        # the b-subscriber sees exactly the rewrite's upserts at v2
        rows_b = _drain(
            spark, path, "cf_rwb_" + uuid.uuid4().hex[:8],
            partition_where={"g": ("=", "b")},
        )
        got_b = sorted(
            (r["k"], r["change_type"], r["_version"]) for r in rows_b
        )
        assert got_b == [
            (1, "insert", 1), (1, "upsert", 2),
            (3, "insert", 1), (3, "upsert", 2),
            (5, "insert", 1), (5, "upsert", 2),
            (7, "insert", 1), (7, "upsert", 2),
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_feed_mor_group_stats_admission(spark):
    """r13 (r12 verdict #5): MOR tables carry no partition tuples, but
    their delta groups harvest footer stats — a key-range subscriber's
    feed admits only groups whose stat range can intersect; stat-less
    tables still flow everything (conservative)."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(1, "a", 0), (2, "b", 0)]), path,
            stats_cols=["k"],
        )
        storage.upsert_delta_snapshot(           # v2: k in [100, 101]
            spark, path, _df(spark, [(100, "x", 1), (101, "y", 1)]),
            key_cols=["k"], seq_col="seq",
        )
        storage.upsert_delta_snapshot(           # v3: k = 2
            spark, path, _df(spark, [(2, "b2", 2)]),
            key_cols=["k"], seq_col="seq",
        )
        rows = _drain(
            spark, path, "cf_ms_" + uuid.uuid4().hex[:8],
            partition_where={"k": ("between", 0, 9)},
        )
        got = sorted((r["k"], r["change_type"], r["_version"]) for r in rows)
        # the [100, 101] group is provably outside [0, 9]: never read
        assert got == [
            (1, "insert", 1), (2, "insert", 1), (2, "upsert", 3)
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_admit_stats_files_unit():
    from dp_dimension_importer_spark.streaming.changefeed import (
        _admit_stats_files,
    )

    man = {
        "stats": {
            "f1": {"k": [0, 9]},
            "f2": {"k": [100, 199]},
            "f3": {},            # no stats for k: always flows
            "t1": {"d": ["2024-01-01T00:00:00", "2024-01-03T00:00:00"]},
        }
    }
    rels = ["f1", "f2", "f3"]
    assert _admit_stats_files(man, rels, {"k": ("=", 5)}) == ["f1", "f3"]
    assert _admit_stats_files(
        man, rels, {"k": ("in", [150, 500])}
    ) == ["f2", "f3"]
    assert _admit_stats_files(
        man, rels, {"k": ("between", 10, 99)}
    ) == ["f3"]
    # unknown file / missing stats block: flows
    assert _admit_stats_files({}, rels, {"k": ("=", 5)}) == rels
    # temporal literal through the JSON boundary (str(datetime) = space
    # separator) still intersects the isoformat-encoded stat range
    assert _admit_stats_files(
        man, ["t1"], {"d": ("=", "2024-01-02 00:00:00")}
    ) == ["t1"]
    assert _admit_stats_files(
        man, ["t1"], {"d": ("between", "2024-02-01 00:00:00",
                            "2024-02-02 00:00:00")}
    ) == []


# ------------------------------------------------------------------ r14:
# property pin for the admission bug class (ADVICE r11 high / acb6a53):
# over every (transform kind, bound type, partition value) combination,
# admission must be a CONSERVATIVE SUPERSET of the exact row-level
# match — a file whose source value satisfies the predicate may NEVER
# be dropped, no matter how the literal rendered through the JSON
# boundary. (Over-admission is allowed by contract; under-admission is
# a missed change, the one failure mode this path must never have.)

import datetime as _dt

from hypothesis import given, settings, strategies as hst


_DTPOOL = [
    _dt.datetime(2024, 1, 1),
    _dt.datetime(2024, 1, 10),
    _dt.datetime(2024, 1, 10, 12, 30, 5),
    _dt.datetime(2024, 2, 29, 23, 59, 59, 999999),
    _dt.datetime(2025, 6, 15, 6, 0),
    _dt.datetime(2023, 12, 31),
]
_DPOOL = [
    _dt.date(2024, 1, 1), _dt.date(2024, 1, 10), _dt.date(2024, 2, 29),
    _dt.date(2025, 6, 15), _dt.date(2023, 12, 31),
]
_IPOOL = [-1000, -17, -1, 0, 1, 9, 10, 99, 100, 1024, 123456]
_SPOOL = ["", "a", "ab", "ab-cd", "abcdef", "xy:z", "2024-01-10", "zzz"]

_KINDS = [
    ({"transform": "identity", "col": "c"}, "dt"),
    ({"transform": "identity", "col": "c"}, "d"),
    ({"transform": "identity", "col": "c"}, "i"),
    ({"transform": "identity", "col": "c"}, "s"),
    ({"transform": "days", "col": "c"}, "dt"),
    ({"transform": "days", "col": "c"}, "d"),
    ({"transform": "months", "col": "c"}, "dt"),
    ({"transform": "years", "col": "c"}, "dt"),
    ({"transform": "hours", "col": "c"}, "dt"),
    ({"transform": "truncate", "col": "c", "w": 10}, "i"),
    ({"transform": "truncate", "col": "c", "w": 3}, "s"),
    ({"transform": "bucket", "col": "c", "n": 4}, "i"),
    ({"transform": "bucket", "col": "c", "n": 4}, "s"),
]
_POOLS = {"dt": _DTPOOL, "d": _DPOOL, "i": _IPOOL, "s": _SPOOL}


@settings(max_examples=250, deadline=None)
@given(data=hst.data())
def test_admission_is_conservative_superset_property(data):
    """admitted ⊇ {files whose source value satisfies the predicate},
    across transform kinds × literal types × ops × the JSON boundary."""
    import json as _json

    from dp_dimension_importer_spark.storage import _transform_literal
    from dp_dimension_importer_spark.streaming.changefeed import (
        _admit_partition_files,
    )

    spec_t, kind = data.draw(hst.sampled_from(_KINDS))
    pool = _POOLS[kind]
    n_files = data.draw(hst.integers(1, 6))
    vals = [data.draw(hst.sampled_from(pool)) for _ in range(n_files)]
    op = data.draw(hst.sampled_from(["=", "in", "between"]))
    if op == "=":
        pred = ("=", data.draw(hst.sampled_from(pool)))

        def row_ok(v):
            return v == pred[1]
    elif op == "in":
        lits = data.draw(
            hst.lists(hst.sampled_from(pool), min_size=1, max_size=3)
        )
        pred = ("in", lits)

        def row_ok(v):
            return v in lits
    else:
        a = data.draw(hst.sampled_from(pool))
        b = data.draw(hst.sampled_from(pool))
        lo, hi = (a, b) if a <= b else (b, a)
        pred = ("between", lo, hi)

        def row_ok(v):
            return lo <= v <= hi

    man = {
        "partition": {
            "specs": [[spec_t]],
            "current": 0,
            "values": {
                f"f{i}": [0, [_transform_literal(spec_t, v)]]
                for i, v in enumerate(vals)
            },
        }
    }
    rels = [f"f{i}" for i in range(n_files)]
    # the JSON boundary the streaming options cross (default=str is
    # exactly what read_changes_stream uses — space-separated datetime
    # renderings included)
    pw = _json.loads(_json.dumps({"c": pred}, default=str))
    admitted = set(_admit_partition_files(man, rels, pw))
    for i, v in enumerate(vals):
        if row_ok(v):
            assert f"f{i}" in admitted, (
                f"missed change: {spec_t} value {v!r} satisfies "
                f"{pred!r} but file was dropped (admitted {admitted})"
            )


def test_fast_forwarded_mor_branch_chain_classifies_as_mor(spark):
    """r14 interop: a branch that STAGED several MOR DML commits
    publishes them all in ONE main version (fast_forward). The feed's
    shape tests hold across the publish — base files identical, the
    delta chain grew by a prefix-preserving run of groups — so the
    transition classifies as kind='mor' and version_delta reads ONLY
    the staged groups (O(changes)), never a two-version diff."""
    from pyspark.sql import functions as F

    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(i, f"b{i}", 0) for i in range(8)]), path
        )
        storage.upsert_delta_snapshot(
            spark, path, _df(spark, [(3, "u3", 1)]), ["k"], "seq"
        )
        v_base = storage.snapshot_versions(path)[-1]
        storage.create_branch(path, "audit")
        storage.delete_where_snapshot(
            spark, path, F.col("k") == 5, branch="audit"
        )
        storage.upsert_delta_snapshot(
            spark, path, _df(spark, [(7, "u7", 2), (100, "n", 2)]),
            ["k"], "seq", branch="audit",
        )
        storage.merge_into_snapshot(
            spark, path, spark.createDataFrame(
                [Row(k=1, val="m1")], "k bigint, val string"
            ), ["k"], update_set={"val": "src_val"}, branch="audit",
        )
        v_pub = storage.fast_forward(path, "audit")
        tr = storage.classify_transition(path, v_base, v_pub)
        assert tr["kind"] == "mor", tr["kind"]
        assert len(tr["new_groups"]) == 3  # delete + upsert + merge
        changes = {
            (r["k"], r["change_type"])
            for r in storage.version_delta(
                spark, path, v_pub, ["k"], base_version=v_base
            ).collect()
        }
        # exactly the STAGED groups' keys — k=3's pre-fork delta must
        # not replay (it was already in base_version's chain)
        keys = sorted(k for k, _ in changes)
        assert keys == [1, 5, 7, 100]
        assert (5, "delete") in changes
        assert (100, "insert") in changes
        assert (1, "update") in changes and (7, "update") in changes
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
