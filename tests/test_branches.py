"""Pins for snapshot BRANCHES (storage.create_branch /
write_snapshot_to_branch / read_branch / fast_forward / drop_branch —
r10 verdict task #8): isolation, the diverged-main refusal, vacuum
interplay (fork points and branch files are retention roots while the
branch lives, reclaimable after drop), and the guard rails."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row

from dp_dimension_importer_spark import storage


def _mkpath():
    scratch = tempfile.mkdtemp(prefix="br_test_")
    return scratch, os.path.join(scratch, "t")


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, val=v) for k, v in rows], "k bigint, val string"
    )


def _world(spark, df):
    return sorted((r["k"], r["val"]) for r in df.collect())


def test_branch_isolation_and_fast_forward(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, "a"), (2, "b")]), path)
        assert storage.create_branch(path, "fix") == 1
        storage.write_snapshot_to_branch(
            spark, _df(spark, [(1, "a2"), (2, "b")]), path, "fix"
        )
        storage.write_snapshot_to_branch(
            spark, _df(spark, [(3, "c")]), path, "fix", mode="append"
        )
        # main untouched by two branch commits
        assert _world(spark, storage.read_snapshot(spark, path)) == [
            (1, "a"), (2, "b"),
        ]
        # branch head = commit 2's append on top of commit 1's overwrite
        assert _world(spark, storage.read_branch(spark, path, "fix")) == [
            (1, "a2"), (2, "b"), (3, "c"),
        ]
        assert storage.list_branches(path) == {
            "fix": {"base_version": 1, "commits": 2}
        }
        v = storage.fast_forward(path, "fix")
        assert v == 2 and storage.snapshot_versions(path) == [1, 2]
        assert _world(spark, storage.read_snapshot(spark, path)) == [
            (1, "a2"), (2, "b"), (3, "c"),
        ]
        assert storage.list_branches(path) == {}  # dropped by default
        # v1 still time-travelable
        assert _world(
            spark, storage.read_snapshot(spark, path, version=1)
        ) == [(1, "a"), (2, "b")]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_fast_forward_refuses_diverged_main(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, "a")]), path)
        storage.create_branch(path, "fix")
        storage.write_snapshot_to_branch(
            spark, _df(spark, [(1, "a2")]), path, "fix"
        )
        storage.write_snapshot(
            spark, _df(spark, [(9, "z")]), path, mode="append"
        )  # main moves to v2
        with pytest.raises(ValueError, match="moved"):
            storage.fast_forward(path, "fix")
        # the branch survives the refusal, still readable
        assert _world(spark, storage.read_branch(spark, path, "fix")) == [
            (1, "a2"),
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_vacuum_retains_live_branch_then_reclaims_after_drop(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, "a")]), path)  # v1
        storage.create_branch(path, "exp")
        storage.write_snapshot_to_branch(
            spark, _df(spark, [(1, "a2"), (2, "b")]), path, "exp"
        )
        storage.write_snapshot(spark, _df(spark, [(9, "z")]), path)  # v2
        storage.write_snapshot(spark, _df(spark, [(9, "z2")]), path)  # v3
        storage.vacuum_snapshots(path, keep_last=1)
        # fork point v1 retained (live branch), v2 expired
        assert storage.snapshot_versions(path) == [1, 3]
        # branch world fully readable after the vacuum
        assert _world(spark, storage.read_branch(spark, path, "exp")) == [
            (1, "a2"), (2, "b"),
        ]
        storage.drop_branch(path, "exp")
        storage.vacuum_snapshots(path, keep_last=1)
        assert storage.snapshot_versions(path) == [3]
        with pytest.raises(Exception):
            storage.read_branch(spark, path, "exp").collect()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_create_branch_guards(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, "a")]), path)  # v1
        storage.write_snapshot(spark, _df(spark, [(1, "b")]), path)  # v2
        assert storage.create_branch(path, "b1", version=1) == 1
        assert storage.create_branch(path, "b1", version=1) == 1  # idempotent
        with pytest.raises(ValueError, match="already exists"):
            storage.create_branch(path, "b1", version=2)
        with pytest.raises(FileNotFoundError):
            storage.create_branch(path, "b2", version=99)
        with pytest.raises(ValueError):
            storage.create_branch(path, "../evil")
        with pytest.raises(KeyError):
            storage.drop_branch(path, "nope")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_branch_write_guards(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, "a")]), path)
        storage.create_branch(path, "g")
        # retyping a committed column refuses
        with pytest.raises(ValueError, match="additive"):
            storage.write_snapshot_to_branch(
                spark,
                spark.createDataFrame([Row(k=1, val=2)], "k bigint, val int"),
                path, "g",
            )
        # empty-branch fast_forward is a no-op that still drops
        assert storage.fast_forward(path, "g") == 1
        assert storage.list_branches(path) == {}
        # r13: forking off a MOR head refuses APPEND (it would dodge
        # delta resolution) but takes an OVERWRITE (content replaced
        # wholesale, the write_snapshot-on-MOR rule) which publishes a
        # plain manifest via fast_forward
        storage.upsert_delta_snapshot(
            spark,
            path,
            spark.createDataFrame(
                [Row(k=1, val="m", seq=1)], "k bigint, val string, seq bigint"
            ),
            key_cols=["k"], seq_col="seq",
        )
        storage.create_branch(path, "h")
        with pytest.raises(ValueError, match="MOR"):
            storage.write_snapshot_to_branch(
                spark, _df(spark, [(1, "x")]), path, "h", mode="append",
            )
        storage.write_snapshot_to_branch(
            spark,
            spark.createDataFrame(
                [Row(k=9, val="ow", seq=2)],
                "k bigint, val string, seq bigint",
            ),
            path, "h",
        )
        storage.fast_forward(path, "h")
        got = storage.read_snapshot(spark, path)
        assert [(r["k"], r["val"]) for r in got.collect()] == [(9, "ow")]
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert "mor" not in man
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_vacuum_older_than_time_based_retention(spark):
    """r11: age-based retention — versions committed at/after the
    instant survive even beyond keep_last; older untagged ones expire;
    keep_last remains the floor below the instant."""
    import json

    scratch, path = _mkpath()
    try:
        for i in range(4):  # v1..v4
            storage.write_snapshot(spark, _df(spark, [(i, "x")]), path)

        def ct(v):
            with open(
                os.path.join(path, "_manifests", f"v{v}.json")
            ) as f:
                return float(json.load(f)["committed_at"])

        # retain everything committed at/after v2's instant
        storage.vacuum_snapshots(path, keep_last=1, older_than=ct(2))
        assert storage.snapshot_versions(path) == [2, 3, 4]
        # keep_last floor: instant in the future would doom all but
        # the newest keep_last
        storage.vacuum_snapshots(
            path, keep_last=2, older_than=ct(4) + 1e6
        )
        assert storage.snapshot_versions(path) == [3, 4]
        # retained versions still read
        assert _world(spark, storage.read_snapshot(spark, path, version=3)) \
            == [(2, "x")]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_fast_forward_lands_in_change_feed_as_net_delta(spark):
    """Branches × change feed: a fast-forwarded branch publishes as ONE
    main commit (a rewrite transition), so a downstream feed consumer
    sees exactly the branch's NET effect — upserts for changed keys,
    inserts for new, deletes for dropped — never the intermediate
    branch commits."""
    import tempfile
    import uuid

    from dp_dimension_importer_spark.streaming import changefeed

    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(1, "a"), (2, "b"), (3, "c")]), path
        )
        storage.create_branch(path, "fix")
        # two branch commits whose NET effect: 1 changed, 3 dropped, 4 new
        storage.write_snapshot_to_branch(
            spark, _df(spark, [(1, "a2"), (2, "b"), (3, "c2")]),
            path, "fix",
        )
        storage.write_snapshot_to_branch(
            spark, _df(spark, [(1, "a2"), (2, "b"), (4, "d")]),
            path, "fix",
        )
        storage.fast_forward(path, "fix")

        name = "cf_ff_" + uuid.uuid4().hex[:8]
        feed = changefeed.read_changes_stream(spark, path, ["k"])
        q = (
            feed.writeStream.format("memory").queryName(name)
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="cf_ff_ck_"),
            )
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        v2 = sorted(
            (r["k"], r["val"], r["change_type"])
            for r in spark.table(name).filter("_version = 2").collect()
        )
        assert v2 == [
            (1, "a2", "upsert"),
            (3, "c", "delete"),
            (4, "d", "insert"),
        ], v2  # key 2 unchanged -> absent; c2 never visible on main
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_branch_append_carries_partition_and_mapping(spark):
    """r11 interplay: a branch append on a partitioned (or renamed) main
    keeps the partition block (carried files prune, the branch's flat
    files read always) and writes files in the table's PHYSICAL schema,
    so fast_forward publishes a world whose pruned and mapped reads stay
    exact."""
    import datetime
    import os
    import shutil
    import tempfile

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    D = datetime.datetime
    scratch = tempfile.mkdtemp(prefix="br_part_")
    path = os.path.join(scratch, "t")
    try:
        rows = [
            Row(k=i, ts=D(2024, 3, 1 + i % 3), price=float(i))
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "k bigint, ts timestamp, price double")
        storage.write_snapshot_partitioned(spark, df, path, [("days", "ts")])
        storage.rename_column(path, "price", "amount")
        storage.create_branch(path, "wip")
        more = spark.createDataFrame(
            [Row(k=100, ts=D(2024, 3, 2), amount=7.0)],
            "k bigint, ts timestamp, amount double",
        )
        storage.write_snapshot_to_branch(
            spark, more.coalesce(1), path, "wip", mode="append"
        )
        storage.fast_forward(path, "wip")
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "ts", "amount"]
        assert got.count() == 31
        where = {"ts": ("between", D(2024, 3, 2), D(2024, 3, 2, 23, 59))}
        keep, total = storage.partition_pruned_files(path, where, spark=spark)
        assert total == 4 and len(keep) == 2  # day-2 file + the flat one
        got_p = storage.read_snapshot_partitioned(spark, path, where)
        want_p = got.filter(F.col("ts").between(D(2024, 3, 2), D(2024, 3, 2, 23, 59)))
        assert sorted(tuple(r) for r in got_p.collect()) == sorted(
            tuple(r) for r in want_p.collect()
        )
        assert 100 in {r["k"] for r in got_p.collect()}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# ---------------------------------------------------------------------------
# r14: DML on branches — write-audit-publish with the verbs you actually
# want to validate (delete/update/merge stage on the branch, main stays
# untouched until fast_forward; racing branch writers refuse loudly)
# ---------------------------------------------------------------------------


class TestBranchDml:
    def _seed(self, spark, path):
        storage.write_snapshot(
            spark,
            _df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]),
            path,
        )
        storage.create_branch(path, "audit")

    def test_wap_delete_update_merge_then_publish(self, spark):
        from pyspark.sql import functions as F

        scratch, path = _mkpath()
        try:
            self._seed(spark, path)
            r = storage.delete_where_snapshot(
                spark, path, F.col("k") == 2, branch="audit"
            )
            assert r["rows_deleted"] == 1 and r["version"] == 1
            r = storage.update_where_snapshot(
                spark, path, {"val": F.lit("A")}, F.col("k") == 1,
                branch="audit",
            )
            assert r["rows_updated"] == 1 and r["version"] == 2
            src = _df(spark, [(3, "c3"), (9, "new")])
            bv = storage.merge_into_snapshot(
                spark, path, src, ["k"], update_set={"val": "src_val"},
                branch="audit",
            )
            assert bv == 3
            # three staged DML commits; main byte-for-byte untouched
            assert _world(spark, storage.read_snapshot(spark, path)) == [
                (1, "a"), (2, "b"), (3, "c"), (4, "d"),
            ]
            assert _world(
                spark, storage.read_branch(spark, path, "audit")
            ) == [(1, "A"), (3, "c3"), (4, "d"), (9, "new")]
            storage.fast_forward(path, "audit")
            assert _world(spark, storage.read_snapshot(spark, path)) == [
                (1, "A"), (3, "c3"), (4, "d"), (9, "new")
            ]
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_dv_delete_on_branch(self, spark):
        from pyspark.sql import functions as F

        scratch, path = _mkpath()
        try:
            self._seed(spark, path)
            r = storage.delete_where_snapshot(
                spark, path, F.col("k") == 3, mode="dv", branch="audit"
            )
            assert r["rows_deleted"] == 1 and r["dv_files_written"] >= 1
            # DV anti-join applies on the branch read; main clean
            assert _world(
                spark, storage.read_branch(spark, path, "audit")
            ) == [(1, "a"), (2, "b"), (4, "d")]
            assert len(storage.read_snapshot(spark, path).collect()) == 4
            storage.fast_forward(path, "audit")
            assert _world(spark, storage.read_snapshot(spark, path)) == [
                (1, "a"), (2, "b"), (4, "d"),
            ]
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_racing_branch_dml_refuses(self, spark):
        scratch, path = _mkpath()
        try:
            self._seed(spark, path)
            man = storage._branch_head_manifest(path, "audit")
            # writer A claims b1 the legitimate way
            storage.write_snapshot_to_branch(
                spark, _df(spark, [(7, "x")]), path, "audit",
                mode="append",
            )
            # writer B derived its manifest from the OLD head and tries
            # to claim the same number: single-claim refusal, no silent
            # renumber (a DML manifest is a read-modify-write product)
            with pytest.raises(storage.ConcurrentCommitError,
                               match="advanced concurrently"):
                storage._commit_branch_manifest(
                    path, "audit", dict(man), "tokB", 1
                )
            # the branch still reads as writer A left it
            assert (7, "x") in _world(
                spark, storage.read_branch(spark, path, "audit")
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def _seed_mor(self, spark, path):
        storage.write_snapshot(
            spark,
            spark.createDataFrame(
                [Row(k=i, val=f"b{i}", seq=0) for i in range(10)],
                "k bigint, val string, seq bigint",
            ),
            path,
        )
        storage.upsert_delta_snapshot(
            spark, path,
            spark.createDataFrame(
                [Row(k=3, val="u3", seq=1)],
                "k bigint, val string, seq bigint",
            ),
            ["k"], "seq",
        )
        storage.create_branch(path, "audit")

    def test_mor_dml_stages_on_branch_chain(self, spark):
        """r14: the MOR verbs stage delta groups on the BRANCH chain —
        main's chain is byte-identical until fast_forward publishes."""
        from pyspark.sql import functions as F

        scratch, path = _mkpath()
        try:
            self._seed_mor(spark, path)
            main_v = storage.snapshot_versions(path)[-1]
            r = storage.delete_where_snapshot(
                spark, path, F.col("k") == 7, branch="audit"
            )
            assert r["rows_deleted"] == 1 and r["version"] == 1
            assert r["delta_files_written"] >= 1
            r = storage.update_where_snapshot(
                spark, path, {"val": F.lit("X")}, F.col("k") == 9,
                branch="audit",
            )
            assert r["rows_updated"] == 1 and r["version"] == 2
            bv = storage.merge_into_snapshot(
                spark, path,
                _df(spark, [(3, "m3"), (100, "m100")]), ["k"],
                update_set={"val": "src_val"}, branch="audit",
            )
            assert bv == 3
            got = {
                r["k"]: r["val"]
                for r in storage.read_branch(spark, path, "audit")
                .collect()
            }
            assert 7 not in got
            assert got[9] == "X" and got[3] == "m3" and got[100] == "m100"
            # main: version unmoved, chain unmoved, k=7 alive
            assert storage.snapshot_versions(path)[-1] == main_v
            assert (
                storage.read_snapshot(spark, path)
                .filter(F.col("k") == 7).count() == 1
            )
            storage.fast_forward(path, "audit")
            got = {
                r["k"]: r["val"]
                for r in storage.read_snapshot(spark, path).collect()
            }
            assert 7 not in got and got[9] == "X" and got[100] == "m100"
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_mor_branch_upsert_txn_survives_publish(self, spark):
        """Staged CDC with txn watermarks: redelivery skips ON the
        branch, and the watermark survives fast_forward (per-app max
        merge) so redelivery skips on MAIN after the publish too."""
        scratch, path = _mkpath()
        try:
            self._seed_mor(spark, path)

            def batch(val):
                return spark.createDataFrame(
                    [Row(k=5, val=val, seq=2)],
                    "k bigint, val string, seq bigint",
                )

            b1 = storage.upsert_delta_snapshot(
                spark, path, batch("u5"), ["k"], "seq",
                txn=("cdc", 1), branch="audit",
            )
            assert b1 == 1
            # redelivered batch on the branch: idempotent skip
            assert storage.upsert_delta_snapshot(
                spark, path, batch("DUP"), ["k"], "seq",
                txn=("cdc", 1), branch="audit",
            ) == 1
            v = storage.fast_forward(path, "audit")
            man = storage._load_manifest(path, v)
            assert man.get("txn", {}).get("cdc") == 1
            # post-publish redelivery on MAIN: skipped by the merged map
            assert storage.upsert_delta_snapshot(
                spark, path, batch("DUP2"), ["k"], "seq", txn=("cdc", 1)
            ) == v
            got = {
                r["k"]: r["val"]
                for r in storage.read_snapshot(spark, path).collect()
            }
            assert got[5] == "u5"
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_vacuum_retains_branch_dml_files(self, spark):
        from pyspark.sql import functions as F

        scratch, path = _mkpath()
        try:
            self._seed(spark, path)
            storage.delete_where_snapshot(
                spark, path, F.col("k") == 2, branch="audit"
            )
            # main moves on; old main versions expire — the branch's
            # rewritten files and its fork point must survive
            storage.write_snapshot(
                spark, _df(spark, [(100, "z")]), path, mode="append"
            )
            storage.vacuum_snapshots(path, keep_last=1)
            assert _world(
                spark, storage.read_branch(spark, path, "audit")
            ) == [(1, "a"), (3, "c"), (4, "d")]
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_ff_refuses_after_main_moves_past_dml_branch(self, spark):
        from pyspark.sql import functions as F

        scratch, path = _mkpath()
        try:
            self._seed(spark, path)
            storage.delete_where_snapshot(
                spark, path, F.col("k") == 2, branch="audit"
            )
            storage.write_snapshot(
                spark, _df(spark, [(100, "z")]), path, mode="append"
            )
            with pytest.raises(ValueError, match="fast_forward refused"):
                storage.fast_forward(path, "audit")
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


class TestStreamingBranchStaging:
    def test_stream_mor_upsert_stages_on_branch_then_publishes(self, spark):
        """r14: streaming write-audit-publish — a CDC stream's delta
        chain lands entirely on a branch (one commit per micro-batch),
        main byte-untouched until fast_forward."""
        from dp_dimension_importer_spark.streaming import sink as mor_sink

        scratch, path = _mkpath()
        try:
            base = spark.createDataFrame(
                [Row(k=i, val=f"b{i}", seq=0) for i in range(5)],
                "k bigint, val string, seq bigint",
            )
            storage.write_snapshot(spark, base, path)
            storage.create_branch(path, "audit")
            replay = os.path.join(scratch, "replay")
            spark.createDataFrame(
                [Row(k=1, val="u1", seq=1)],
                "k bigint, val string, seq bigint",
            ).coalesce(1).write.parquet(replay)
            spark.createDataFrame(
                [Row(k=9, val="n9", seq=2)],
                "k bigint, val string, seq bigint",
            ).coalesce(1).write.mode("append").parquet(replay)
            out = mor_sink.run_stream_mor_upsert(
                spark, replay, base.schema, path,
                key_cols=["k"], seq_col="seq",
                checkpoint=os.path.join(scratch, "ckpt"),
                branch="audit",
            )
            got = {r["k"]: r["val"] for r in out.collect()}
            assert got[1] == "u1" and got[9] == "n9" and len(got) == 6
            # one branch commit per micro-batch; main untouched
            assert len(storage.branch_versions(path, "audit")) == 2
            assert storage.read_snapshot(spark, path).count() == 5
            storage.fast_forward(path, "audit")
            got = {
                r["k"]: r["val"]
                for r in storage.read_snapshot(spark, path).collect()
            }
            assert got[1] == "u1" and got[9] == "n9" and len(got) == 6
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_branch_stream_bootstrap_refuses(self, spark):
        from dp_dimension_importer_spark.streaming import sink as mor_sink

        scratch, path = _mkpath()
        try:
            handler = mor_sink.make_mor_upsert_handler(
                path, ["k"], "seq", branch="audit"
            )
            with pytest.raises(ValueError, match="existing table"):
                handler(
                    spark.createDataFrame(
                        [Row(k=1, val="a", seq=0)],
                        "k bigint, val string, seq bigint",
                    ),
                    0,
                )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


def test_racing_branch_appends_refuse_not_renumber(spark, monkeypatch):
    """Two appends racing for one branch commit number: the loser
    refuses instead of re-claiming its stale manifest under the next
    number (which dropped the winner's rows), and its retry keeps
    both."""
    from test_concurrency import _RaceOnce

    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, "a")]), path)
        storage.create_branch(path, "audit")

        def append(k, val):
            return storage.write_snapshot_to_branch(
                spark, _df(spark, [(k, val)]), path, "audit",
                mode="append",
            )

        _RaceOnce(monkeypatch, "b1.json", lambda: append(2, "b"))
        with pytest.raises(
            storage.ConcurrentCommitError, match="advanced concurrently"
        ):
            append(3, "c")
        assert storage.branch_versions(path, "audit") == [1]
        assert _world(spark, storage.read_branch(spark, path, "audit")) == [
            (1, "a"), (2, "b"),
        ]
        assert append(3, "c") == 2
        assert _world(spark, storage.read_branch(spark, path, "audit")) == [
            (1, "a"), (2, "b"), (3, "c"),
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# ---------------------------------------------------------------------------
# Table policies on branches: every branch commit carries the CHECK
# constraints and generated columns it was built on, every branch write is
# admitted against them, and fast_forward refuses a head that lost them.
# ---------------------------------------------------------------------------

_POL_DDL = "k bigint, v double, v2 double, seq bigint"
_CONS = {"pos": "v > 0"}
_GEN = {"v2": "v * 2"}


def _pol_rows(spark, rows):
    """Rows of (k, v, seq); the generated column v2 is omitted."""
    return spark.createDataFrame(
        [Row(k=k, v=v, seq=s) for k, v, s in rows],
        "k bigint, v double, seq bigint",
    )


def _pol_table(spark, path):
    storage.write_snapshot(
        spark,
        spark.createDataFrame(
            [Row(k=k, v=float(k), v2=2.0 * k, seq=0) for k in (1, 2, 3)],
            _POL_DDL,
        ),
        path,
    )
    storage.add_check_constraint(spark, path, "pos", _CONS["pos"])
    storage.add_generated_column(spark, path, "v2", _GEN["v2"])
    storage.create_branch(path, "audit")


def _pol_write(spark, path, family, v):
    """One branch write of the verb family; it writes a row with value
    ``v`` (new key 9 for the inserting verbs, key 2 for the updating
    ones, which assign the generated column too)."""
    from pyspark.sql import functions as F

    if family == "append":
        storage.write_snapshot_to_branch(
            spark, _pol_rows(spark, [(9, v, 0)]), path, "audit",
            mode="append",
        )
    elif family == "mor_upsert":
        storage.upsert_delta_snapshot(
            spark, path, _pol_rows(spark, [(9, v, 1)]), ["k"], "seq",
            branch="audit",
        )
    elif family == "cow_delete":
        if v > 0:
            storage.delete_where_snapshot(
                spark, path, F.col("k") == 1, branch="audit"
            )
        else:  # a delete writes no new row: follow with an append
            storage.write_snapshot_to_branch(
                spark, _pol_rows(spark, [(9, v, 0)]), path, "audit",
                mode="append",
            )
    elif family == "dv_update":
        storage.update_where_snapshot(
            spark, path, {"v": F.lit(v), "v2": F.lit(2 * v)},
            F.col("k") == 2, mode="dv", branch="audit",
        )
    else:  # merge
        storage.merge_into_snapshot(
            spark, path, _pol_rows(spark, [(2, v, 1)]), ["k"],
            update_set={"v": "src_v", "v2": "src_v * 2"}, branch="audit",
        )


@pytest.mark.parametrize(
    "family", ["append", "mor_upsert", "cow_delete", "dv_update", "merge"]
)
def test_branch_commits_keep_policies(spark, family):
    """A branch commit of every verb family declares the constraint and
    the generated column of the head it was built on, so the next
    violating branch write is refused, and fast_forward publishes only
    admitted rows under main's contract."""
    scratch, path = _mkpath()
    try:
        _pol_table(spark, path)
        main_v = storage.snapshot_versions(path)[-1]
        _pol_write(spark, path, family, 5.0)
        head = storage._branch_head_manifest(path, "audit")
        assert head.get("constraints") == _CONS
        assert head.get("generated") == _GEN
        with pytest.raises(ValueError, match="pos"):
            _pol_write(spark, path, family, -5.0)
        assert storage.snapshot_versions(path)[-1] == main_v
        storage.fast_forward(path, "audit")
        assert storage.list_check_constraints(path) == _CONS
        assert storage.list_generated_columns(path) == _GEN
        rows = storage.read_snapshot(spark, path).collect()
        assert rows and all(r["v"] > 0 for r in rows)
        assert all(r["v2"] == 2 * r["v"] for r in rows)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_fast_forward_refuses_branch_without_main_policies(spark):
    """A branch head that does not declare main's constraint (written
    before branch commits carried policies) is refused: publishing it
    would strip the constraint from main."""
    import json

    scratch, path = _mkpath()
    try:
        _pol_table(spark, path)
        before = storage.snapshot_versions(path)
        legacy = {
            k: v for k, v in storage._load_manifest(path, before[-1]).items()
            if k not in ("version", "committed_at", "constraints")
        }
        bdir = os.path.join(storage._branches_dir(path), "audit")
        with open(os.path.join(bdir, "b1.json"), "w") as f:
            json.dump(legacy, f)
        with pytest.raises(ValueError, match="fast_forward refused"):
            storage.fast_forward(path, "audit")
        assert storage.snapshot_versions(path) == before
        assert storage.list_check_constraints(path) == _CONS
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
