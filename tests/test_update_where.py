"""Pins for storage.update_where_snapshot (r11 — the COW UPDATE verb):
SQL UPDATE semantics (NULL predicate untouched, RHS sees pre-update
values), guard rails, no-op commits nothing, and DV materialization on
rewrite."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dp_dimension_importer_spark import storage


def _mkpath():
    scratch = tempfile.mkdtemp(prefix="upd_test_")
    return scratch, os.path.join(scratch, "t")


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, a=a, b=b) for k, a, b in rows],
        "k bigint, a bigint, b bigint",
    )


def _rows(spark, path, **kw):
    return sorted(
        (r["k"], r["a"], r["b"])
        for r in storage.read_snapshot(spark, path, **kw).collect()
    )


def test_update_semantics_swap_and_null_predicate(spark):
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [Row(k=1, a=10, b=20, flag=True),
             Row(k=2, a=30, b=40, flag=False),
             Row(k=3, a=50, b=60, flag=None)],
            "k bigint, a bigint, b bigint, flag boolean",
        )
        storage.write_snapshot(spark, df, path)
        res = storage.update_where_snapshot(
            spark, path, {"a": "b", "b": "a"}, "flag"
        )
        assert res["rows_updated"] == 1 and res["version"] == 2
        got = sorted(
            (r["k"], r["a"], r["b"])
            for r in storage.read_snapshot(spark, path).collect()
        )
        # k=1 swapped (RHS saw PRE-update values); k=2 false and k=3
        # NULL predicate untouched
        assert got == [(1, 20, 10), (2, 30, 40), (3, 50, 60)], got
        # snapshot isolation
        v1 = sorted(
            (r["k"], r["a"])
            for r in storage.read_snapshot(spark, path, version=1).collect()
        )
        assert v1 == [(1, 10), (2, 30), (3, 50)]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_update_guards_and_noop(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, 1, 1)]), path)
        with pytest.raises(ValueError, match="non-existent"):
            storage.update_where_snapshot(
                spark, path, {"nope": F.lit(1)}, "k = 1"
            )
        # no match → no new version
        res = storage.update_where_snapshot(
            spark, path, {"a": F.lit(9)}, "k = 99"
        )
        assert res["version"] == 1 and res["rows_updated"] == 0
        assert storage.snapshot_versions(path) == [1]
        # type preserved: assigned value casts to the committed type
        storage.update_where_snapshot(
            spark, path, {"a": F.lit(2.9)}, "k = 1"
        )
        head = storage.read_snapshot(spark, path)
        assert dict(head.dtypes)["a"] == "bigint"
        assert head.first()["a"] == 2  # cast truncation, bigint kept
        # r13: UPDATE on a MOR table lands as a delta group (zero base
        # rewrites) and sees the LATEST values through the chain
        storage.upsert_delta_snapshot(
            spark, path,
            spark.createDataFrame(
                [Row(k=1, a=5, b=5, seq=1)],
                "k bigint, a bigint, b bigint, seq bigint",
            ),
            key_cols=["k"], seq_col="seq",
        )
        pre_files = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )["files"]
        r = storage.update_where_snapshot(
            spark, path, {"a": F.lit(1)}, "a = 5"
        )
        assert r["rows_updated"] == 1 and r["files_rewritten"] == 0
        man = storage._load_manifest(path, r["version"])
        assert man["files"] == pre_files, "MOR update touched base"
        assert storage.read_snapshot(spark, path).filter(
            "k = 1"
        ).first()["a"] == 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_update_materializes_dv_on_rewrite(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark,
            _df(spark, [(k, k * 10, 0) for k in range(6)]).coalesce(1),
            path,
        )
        storage.delete_where_snapshot(spark, path, "k = 0", mode="dv")
        res = storage.update_where_snapshot(
            spark, path, {"b": F.lit(7)}, "k >= 4"
        )
        assert res["rows_updated"] == 2
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        # the rewritten file's DV died with it; deleted row stays gone
        got = _rows(spark, path)
        assert (0, 0, 0) not in got
        assert {(4, 40, 7), (5, 50, 7)} <= set(got)
        assert {(1, 10, 0), (2, 20, 0), (3, 30, 0)} <= set(got)
        assert not man.get("dv"), man.get("dv")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_into_guards_and_clause_order(spark):
    """merge_into_snapshot guard rails: duplicate source keys raise (the
    SQL 'multiple source rows matched' error), a clause-less merge
    raises, MOR refuses, and a matched row satisfying BOTH delete and
    update takes DELETE (SQL clause order)."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(1, 10, 0), (2, 20, 0)]), path
        )
        src = spark.createDataFrame(
            [Row(k=1, a=99, doom=True)],
            "k bigint, a bigint, doom boolean",
        )
        # delete wins over update for the same matched row
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"],
            update_set={"a": "src_a"},
            delete_condition="src_doom",
            insert=False,
        )
        assert v == 2
        assert _rows(spark, path) == [(2, 20, 0)]
        # duplicate source keys refuse up front
        dup = spark.createDataFrame(
            [Row(k=2, a=1), Row(k=2, a=2)], "k bigint, a bigint"
        )
        with pytest.raises(ValueError, match="duplicate"):
            storage.merge_into_snapshot(
                spark, path, dup, ["k"], update_set={"a": "src_a"}
            )
        # no clauses = caller bug
        with pytest.raises(ValueError, match="no-op"):
            storage.merge_into_snapshot(
                spark, path,
                spark.createDataFrame([Row(k=2)], "k bigint"),
                ["k"], insert=False,
            )
        # unknown assignment target
        with pytest.raises(ValueError, match="non-existent"):
            storage.merge_into_snapshot(
                spark, path, src, ["k"], update_set={"zzz": "src_a"}
            )
        # r13: MERGE INTO a MOR table lands as one delta group
        storage.upsert_delta_snapshot(
            spark, path,
            spark.createDataFrame(
                [Row(k=2, a=5, b=5, seq=1)],
                "k bigint, a bigint, b bigint, seq bigint",
            ),
            key_cols=["k"], seq_col="seq",
        )
        pre = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        src2 = spark.createDataFrame(
            [Row(k=2, a=99)], "k bigint, a bigint"
        )
        v = storage.merge_into_snapshot(
            spark, path, src2, ["k"], update_set={"a": "src_a"},
            insert=False,
        )
        man = storage._load_manifest(path, v)
        assert man["files"] == pre["files"], "MOR merge touched base"
        assert len(man["mor"]["deltas"]) == len(pre["mor"]["deltas"]) + 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_into_insert_defaults_and_types(spark):
    """NOT-MATCHED inserts take same-named source columns, NULL-fill
    target columns the source lacks, honor insert_values overrides, and
    cast everything to the committed types."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, 10, 99)]), path)
        src = spark.createDataFrame(
            [Row(k=5, a=7.9)], "k bigint, a double"
        )
        storage.merge_into_snapshot(
            spark, path, src, ["k"],
            insert=True,
            insert_values={"b": F.lit(42)},
        )
        got = _rows(spark, path)
        # a cast double->bigint truncates; b from the override
        assert got == [(1, 10, 99), (5, 7, 42)], got
        head = storage.read_snapshot(spark, path)
        assert dict(head.dtypes) == {"k": "bigint", "a": "bigint",
                                     "b": "bigint"}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

def test_merge_into_file_skipping(spark):
    """r12: MERGE rewrites ONLY the files containing a matched key —
    every other file carries into the new version byte-identical (rel
    path unchanged, stats kept), inserts land as new files, and a merge
    that matches nothing with insert=False commits nothing."""
    scratch, path = _mkpath()
    try:
        # four single-file appends with disjoint key ranges
        storage.write_snapshot(
            spark,
            _df(spark, [(k, k, 0) for k in range(0, 4)]).coalesce(1),
            path, stats_cols=["k"],
        )
        for lo in (4, 8, 12):
            storage.write_snapshot(
                spark,
                _df(spark, [(k, k, 0) for k in range(lo, lo + 4)])
                .coalesce(1),
                path, mode="append", stats_cols=["k"],
            )
        man_before = storage._load_manifest(path, 4)
        assert len(man_before["files"]) >= 4
        # source touches keys 5 and 6 (one file) + inserts key 100
        src = spark.createDataFrame(
            [Row(k=5, a=50), Row(k=6, a=60), Row(k=100, a=1)],
            "k bigint, a bigint",
        )
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"], update_set={"a": "src_a"},
            insert=True,
        )
        man_after = storage._load_manifest(path, v)
        kept = set(man_before["files"]) & set(man_after["files"])
        rewritten = set(man_before["files"]) - set(man_after["files"])
        # exactly the file holding keys 4-7 was rewritten
        assert len(rewritten) == 1
        assert len(kept) == len(man_before["files"]) - 1
        # kept files keep their recorded stats verbatim
        for rel in kept:
            assert man_after["stats"][rel] == man_before["stats"][rel]
        got = _rows(spark, path)
        assert (5, 50, 0) in got and (6, 60, 0) in got
        assert (100, 1, None) in got
        assert (4, 4, 0) in got and (7, 7, 0) in got  # same-file carry
        # no-match, no-insert merge commits nothing
        v2 = storage.merge_into_snapshot(
            spark, path,
            spark.createDataFrame([Row(k=999, a=0)], "k bigint, a bigint"),
            ["k"], update_set={"a": "src_a"}, insert=False,
        )
        assert v2 == v
        assert storage.snapshot_versions(path)[-1] == v
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_into_partitioned_keeps_tuples(spark):
    """r12: MERGE on a hidden-partitioned table preserves the partition
    block — untouched files keep tuples, rewritten/inserted files get
    REAL tuples via the hive writer, pruning stays exact after MERGE."""
    import datetime

    D = datetime.datetime
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [
                Row(k=i, ts=D(2024, 3, 1 + i % 4), v=float(i))
                for i in range(40)
            ],
            "k bigint, ts timestamp, v double",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("days", "ts")]
        )
        src = spark.createDataFrame(
            [
                Row(k=1, nv=111.0),          # day 2 matched
                Row(k=200, nv=5.0),          # insert (no ts!)
            ],
            "k bigint, nv double",
        )
        storage.merge_into_snapshot(
            spark, path, src, ["k"], update_set={"v": "src_nv"},
            insert=True, insert_values={"v": "src_nv"},
        )
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        part = man.get("partition")
        assert part is not None, "MERGE dropped the partition block"
        vals = part["values"]
        assert set(man["files"]) == set(vals)
        assert all(e is not None for e in vals.values())
        # day-1 predicate still prunes to its file(s) only; the NULL-ts
        # insert landed in the hive null partition (tuple [None] -> its
        # file always survives pruning, never lies)
        where = {"ts": ("between", D(2024, 3, 1), D(2024, 3, 1, 23, 59))}
        got = storage.read_snapshot_partitioned(spark, path, where)
        want = storage.read_snapshot(spark, path).filter(
            F.col("ts").between(D(2024, 3, 1), D(2024, 3, 1, 23, 59))
        )
        assert sorted((r["k"], r["v"]) for r in got.collect()) == sorted(
            (r["k"], r["v"]) for r in want.collect()
        )
        rows = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert rows[1] == 111.0 and rows[200] == 5.0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_into_mapped_table_logical_names(spark):
    """r12: MERGE on a column-mapped table — clauses in logical names,
    files stay physical, mapping survives (merge no longer materializes
    via a full overwrite)."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(1, 10, 0), (2, 20, 0)]), path
        )
        storage.rename_column(path, "a", "amount")
        src = spark.createDataFrame(
            [Row(k=2, amount=99), Row(k=3, amount=30)],
            "k bigint, amount bigint",
        )
        storage.merge_into_snapshot(
            spark, path, src, ["k"], update_set={"amount": "src_amount"},
            insert=True,
        )
        assert storage.column_mapping(path) == {"amount": "a"}
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "amount", "b"]
        assert sorted(
            (r["k"], r["amount"]) for r in got.collect()
        ) == [(1, 10), (2, 99), (3, 30)]
        import pyarrow.parquet as pq

        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        for rel in man["files"]:
            assert pq.ParquetFile(
                os.path.join(path, rel)
            ).schema_arrow.names == ["k", "a", "b"], rel
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

def test_update_dv_mode_appends_and_masks(spark):
    """r12 DV-backed UPDATE: no existing file rewrites — matched rows'
    positions land in deletion vectors and their updated images append;
    reads resolve via the anti-join; purge materializes."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark,
            _df(spark, [(k, k, 0) for k in range(8)]).coalesce(2),
            path,
        )
        files_v1 = list(storage._load_manifest(path, 1)["files"])
        r = storage.update_where_snapshot(
            spark, path, {"a": F.col("a") + 100}, "k in (1, 5)",
            mode="dv",
        )
        assert r["files_rewritten"] == 0
        assert r["rows_updated"] == 2
        assert r["dv_files_written"] >= 1
        man = storage._load_manifest(path, r["version"])
        # every original file still referenced, plus appended updates
        assert set(files_v1) < set(man["files"])
        assert man.get("dv")
        got = _rows(spark, path)
        assert got == sorted(
            [(k, k, 0) for k in range(8) if k not in (1, 5)]
            + [(1, 101, 0), (5, 105, 0)]
        )
        # time travel: v1 pristine
        assert _rows(spark, path, version=1) == [
            (k, k, 0) for k in range(8)
        ]
        # RHS sees pre-update values; chained DV update on an appended
        # row works (the appended file is probed like any other)
        storage.update_where_snapshot(
            spark, path, {"a": F.col("a") + 1}, "k = 1", mode="dv"
        )
        assert (1, 102, 0) in _rows(spark, path)
        # purge materializes all vectors; rows unchanged
        storage.purge_deletion_vectors(spark, path)
        man2 = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert not man2.get("dv")
        assert (1, 102, 0) in _rows(spark, path)
        assert len(_rows(spark, path)) == 8
        # no-match DV update commits nothing
        v_before = storage.snapshot_versions(path)[-1]
        r2 = storage.update_where_snapshot(
            spark, path, {"a": F.lit(0)}, "k = 999", mode="dv"
        )
        assert r2["version"] == v_before
        assert r2["dv_files_written"] == 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_update_dv_mode_partitioned_keeps_tuples(spark):
    import datetime

    D = datetime.datetime
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [
                Row(k=i, ts=D(2024, 3, 1 + i % 3), v=float(i))
                for i in range(30)
            ],
            "k bigint, ts timestamp, v double",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("days", "ts")]
        )
        r = storage.update_where_snapshot(
            spark, path, {"v": F.col("v") * 10}, "k < 3", mode="dv"
        )
        assert r["files_rewritten"] == 0
        man = storage._load_manifest(path, r["version"])
        vals = man["partition"]["values"]
        # appended update files carry REAL tuples too
        assert all(e is not None for e in vals.values())
        where = {"ts": ("between", D(2024, 3, 2), D(2024, 3, 2, 23, 59))}
        got = storage.read_snapshot_partitioned(spark, path, where)
        want = storage.read_snapshot(spark, path).filter(
            F.col("ts").between(D(2024, 3, 2), D(2024, 3, 2, 23, 59))
        )
        assert sorted((r["k"], r["v"]) for r in got.collect()) == sorted(
            (r["k"], r["v"]) for r in want.collect()
        )
        assert {r["v"] for r in
                storage.read_snapshot(spark, path)
                .filter("k < 3").collect()} == {0.0, 10.0, 20.0}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_probe_stats_pruning(spark):
    """r12: the MERGE probe skips files whose recorded key-range cannot
    intersect the source's — zero footer reads for them, and they carry
    untouched even without being probed."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark,
            _df(spark, [(k, k, 0) for k in range(0, 4)]).coalesce(1),
            path, stats_cols=["k"],
        )
        for lo in (100, 200):
            storage.write_snapshot(
                spark,
                _df(spark, [(k, k, 0) for k in range(lo, lo + 4)])
                .coalesce(1),
                path, mode="append", stats_cols=["k"],
            )
        src = spark.createDataFrame(
            [Row(k=101, a=7)], "k bigint, a bigint"
        )
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"], update_set={"a": "src_a"},
            insert=False,
        )
        man_b = storage._load_manifest(path, v - 1)
        man_a = storage._load_manifest(path, v)
        rewritten = set(man_b["files"]) - set(man_a["files"])
        assert len(rewritten) == 1  # only the 100-range file
        got = _rows(spark, path)
        assert (101, 7, 0) in got and len(got) == 12
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@pytest.mark.parametrize("table", ["cow", "dv", "mor"])
def test_noop_results_keep_their_keys(spark, table):
    """Every no-op DELETE/UPDATE — scoped to zero files by ``prune`` or
    matching no row — returns the same keys as a committing call of that
    verb and mode, and commits nothing."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(k, k, k) for k in range(6)]), path,
            stats_cols=["k"],
        )
        if table == "mor":
            storage.upsert_delta_snapshot(
                spark, path,
                spark.createDataFrame(
                    [Row(k=5, a=50, b=5, s=1)],
                    "k bigint, a bigint, b bigint, s bigint",
                ),
                ["k"], "s",
            )
        mode = "dv" if table == "dv" else "cow"
        head = storage.snapshot_versions(path)[-1]
        base = {"version", "files_rewritten", "files_kept", "files_probed"}
        written = {
            "cow": "dv_files_written", "dv": "dv_files_written",
            "mor": "delta_files_written",
        }[table]
        expect = {
            "delete": base | {"rows_deleted", written},
            "update": base | {"rows_updated"}
            | ({written} if table != "cow" else set()),
        }
        for scope in ({"prune": ("k", 100, 100)}, {}):
            got = storage.delete_where_snapshot(
                spark, path, "k = 100", mode=mode, **scope
            )
            assert set(got) == expect["delete"], (scope, got)
            assert got["version"] == head and got["rows_deleted"] == 0
            got = storage.update_where_snapshot(
                spark, path, {"a": F.lit(0)}, "k = 100", mode=mode, **scope
            )
            assert set(got) == expect["update"], (scope, got)
            assert got["version"] == head and got["rows_updated"] == 0
        assert storage.snapshot_versions(path)[-1] == head
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
