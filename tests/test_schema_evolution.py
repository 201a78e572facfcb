"""Pins for r12 schema evolution beyond additive: TYPE WIDENING
(storage.widen_column_type) and DROP COLUMN (storage.drop_column) as
metadata-only commits. The committed schema outranks file footers:
readers force the scan schema (Spark 4's parquet reader upcasts
int32->bigint / float->double in the vectorized scan; omitted columns
are never read), writers speak the evolved schema, rewrites materialize
it, full overwrites clear the markers."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dp_dimension_importer_spark import storage


def _mkpath():
    scratch = tempfile.mkdtemp(prefix="sev_test_")
    return scratch, os.path.join(scratch, "t")


def _df(spark, rows, ddl="k int, v float"):
    return spark.createDataFrame([Row(*r) for r in rows], ddl)


def test_widen_is_metadata_only_and_reads_upcast(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, 1.5), (2, 2.5)]), path)
        files_before = sorted(storage._load_manifest(path, 1)["files"])
        v = storage.widen_column_type(path, "k", "bigint")
        storage.widen_column_type(path, "v", "double")
        assert v == 2
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert sorted(man["files"]) == files_before  # zero data movement
        got = storage.read_snapshot(spark, path)
        assert dict(got.dtypes) == {"k": "bigint", "v": "double"}
        assert sorted((r["k"], r["v"]) for r in got.collect()) == [
            (1, 1.5), (2, 2.5)
        ]
        # time travel still reads the narrow era with its own types
        old = storage.read_snapshot(spark, path, version=1)
        assert dict(old.dtypes) == {"k": "int", "v": "float"}
        # append in the WIDENED type — including a value > int32 range
        storage.write_snapshot(
            spark,
            _df(spark, [(2**40, 9.5)], "k bigint, v double"),
            path, mode="append",
        )
        got = storage.read_snapshot(spark, path)
        assert sorted(r["k"] for r in got.collect()) == [1, 2, 2**40]
        # a narrow append is refused by the additive check
        with pytest.raises(ValueError, match="additive"):
            storage.write_snapshot(
                spark, _df(spark, [(9, 9.0)]), path, mode="append"
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_widen_refusals(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(1, 1.5)], "k bigint, v double"), path
        )
        with pytest.raises(ValueError, match="only widenings"):
            storage.widen_column_type(path, "k", "int")  # narrowing
        with pytest.raises(ValueError, match="only widenings"):
            storage.widen_column_type(path, "v", "string")
        with pytest.raises(ValueError, match="no column"):
            storage.widen_column_type(path, "nope", "bigint")
        # idempotent: widening to the current type is a no-op, no commit
        assert storage.widen_column_type(path, "k", "bigint") == 1
        assert storage.snapshot_versions(path) == [1]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_widen_then_dml_materializes_and_dv_read(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(i, float(i)) for i in range(8)]), path,
            stats_cols=["k"],
        )
        storage.widen_column_type(path, "k", "bigint")
        # DV delete: positions only, forced-schema read honors vectors
        storage.delete_where_snapshot(spark, path, "k = 7", mode="dv")
        assert storage.read_snapshot(spark, path).count() == 7
        # COW delete rewrites touched files IN THE WIDENED TYPE
        r = storage.delete_where_snapshot(spark, path, "k < 2")
        assert r["rows_deleted"] == 2
        import pyarrow.parquet as pq

        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        rewritten = [
            rel for rel in man["files"]
            if rel not in storage._load_manifest(path, 1)["files"]
        ]
        assert rewritten
        for rel in rewritten:
            sch = pq.ParquetFile(os.path.join(path, rel)).schema_arrow
            assert str(sch.field("k").type) == "int64"
        got = storage.read_snapshot(spark, path)
        assert sorted(r["k"] for r in got.collect()) == [2, 3, 4, 5, 6]
        # stats pruning still works across mixed-width files
        pruned = storage.read_snapshot_pruned(spark, path, "k", 3, 4)
        assert sorted(r["k"] for r in pruned.collect()) == [3, 4]
        # full overwrite clears the marker
        storage.write_snapshot(
            spark, storage.read_snapshot(spark, path), path
        )
        man2 = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert not man2.get("widened")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_widen_on_mapped_table_keys_physical(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, 1.5)]), path)
        storage.rename_column(path, "k", "id")
        storage.widen_column_type(path, "id", "bigint")
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert man["widened"] == {"k": "bigint"}  # physical key
        got = storage.read_snapshot(spark, path)
        assert dict(got.dtypes)["id"] == "bigint"
        # logical-name DML on the widened+mapped table
        storage.update_where_snapshot(
            spark, path, {"id": F.lit(2**40).cast("bigint")}, "id = 1"
        )
        assert [r["id"] for r in
                storage.read_snapshot(spark, path).collect()] == [2**40]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_drop_column_lifecycle(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark,
            _df(spark, [(1, 1.0, "x"), (2, 2.0, "y")],
                "k bigint, v double, note string"),
            path,
        )
        v = storage.drop_column(path, "note")
        assert v == 2
        # metadata-only: same files, column gone from every read
        assert sorted(storage._load_manifest(path, 2)["files"]) == sorted(
            storage._load_manifest(path, 1)["files"]
        )
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "v"]
        # time travel resurrects the pre-drop era
        assert storage.read_snapshot(spark, path, version=1).columns == [
            "k", "v", "note"
        ]
        # appends no longer carry the column
        storage.write_snapshot(
            spark, _df(spark, [(3, 3.0)], "k bigint, v double"),
            path, mode="append",
        )
        assert storage.read_snapshot(spark, path).count() == 3
        # DML on the dropped-column table never touches the dead bytes
        storage.delete_where_snapshot(spark, path, "k = 1")
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "v"]
        assert sorted(r["k"] for r in got.collect()) == [2, 3]
        # reusing the dropped name refuses until a full rewrite
        with pytest.raises(ValueError, match="DROPPED"):
            storage.write_snapshot(
                spark,
                _df(spark, [(4, 4.0, "z")],
                    "k bigint, v double, note string"),
                path, mode="append",
            )
        storage.write_snapshot(
            spark, storage.read_snapshot(spark, path), path
        )  # overwrite clears the tombstone
        storage.write_snapshot(
            spark,
            _df(spark, [(4, 4.0, "z")],
                "k bigint, v double, note string"),
            path, mode="append",
        )
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "v", "note"]
        notes = {r["k"]: r["note"] for r in got.collect()}
        assert notes == {2: None, 3: None, 4: "z"}  # no resurrection
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_drop_column_refusals(spark):
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [Row(k=1, g="a", v=1.0)], "k bigint, g string, v double"
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("identity", "g")]
        )
        with pytest.raises(ValueError, match="partition spec"):
            storage.drop_column(path, "g")
        storage.add_check_constraint(spark, path, "pos", "v > 0")
        with pytest.raises(ValueError, match="CHECK constraint"):
            storage.drop_column(path, "v")
        storage.drop_check_constraint(path, "pos")
        storage.drop_column(path, "v")
        with pytest.raises(ValueError, match="no column"):
            storage.drop_column(path, "v")
        storage.drop_column(path, "k")
        with pytest.raises(ValueError, match="last column"):
            storage.drop_column(path, "g")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_drop_on_mapped_table_and_restore_markers(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(1, 1.5)], "k bigint, v double"), path
        )
        storage.rename_column(path, "v", "amount")          # v2
        storage.drop_column(path, "amount")                 # v3
        man = storage._load_manifest(path, 3)
        assert man["dropped"] == ["v"]  # PHYSICAL tombstone
        assert man.get("column_mapping") == {}
        assert storage.read_snapshot(spark, path).columns == ["k"]
        # restore to the pre-drop version restores column AND markers
        storage.restore_snapshot(path, 2)                   # v4
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "amount"]
        assert storage._load_manifest(path, 4)["dropped"] == []
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_additive_evolution_reads_force_manifest_schema(spark):
    """Latent-bug regression (found when test_drop_column_lifecycle
    flaked in the r12 full-suite run): on a MIXED-schema file set (an
    additive append next to older files) schema INFERENCE samples one
    footer, nondeterministic in uuid-directory order — a read could
    lose the newer column and a DML rewrite could silently drop its
    values. Every read now forces the COMMITTED manifest schema."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark,
            _df(spark, [(1, 1.0), (2, 2.0)], "k bigint, v double")
            .coalesce(1),
            path,
        )
        # additive append introduces a new column -> mixed file schemas
        storage.write_snapshot(
            spark,
            spark.createDataFrame(
                [Row(k=3, v=3.0, tag="x"), Row(k=4, v=4.0, tag="y")],
                "k bigint, v double, tag string",
            ).coalesce(1),
            path, mode="append",
        )
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "v", "tag"]  # never footer-sampled
        tags = {r["k"]: r["tag"] for r in got.collect()}
        assert tags == {1: None, 2: None, 3: "x", 4: "y"}
        # a COW delete touching BOTH generations keeps the new column's
        # values in its rewrite (pre-fix: lost when inference sampled
        # the old file's footer)
        r = storage.delete_where_snapshot(spark, path, "k in (1, 3)")
        assert r["rows_deleted"] == 2
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "v", "tag"]
        assert {(r["k"], r["tag"]) for r in got.collect()} == {
            (2, None), (4, "y")
        }
        # UPDATE across the boundary preserves it too
        storage.update_where_snapshot(
            spark, path, {"v": F.col("v") + 10}, "k = 4"
        )
        rows = {
            r["k"]: (r["v"], r["tag"])
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert rows == {2: (2.0, None), 4: (14.0, "y")}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_compact_and_incremental_optimize_across_schema_boundary(spark):
    """Same latent-bug class as the forced read: compaction and
    incremental OPTIMIZE ingest mixed-generation files directly — they
    must force the committed schema too, or a stale sampled footer
    silently drops the newer column from the rewritten files."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark,
            _df(spark, [(1, 1.0), (2, 2.0)], "k bigint, v double")
            .coalesce(1),
            path, stats_cols=["k"],
        )
        storage.write_snapshot(
            spark,
            spark.createDataFrame(
                [Row(k=3, v=3.0, tag="x")],
                "k bigint, v double, tag string",
            ).coalesce(1),
            path, mode="append", stats_cols=["k"],
        )
        r = storage.compact_small_files_snapshot(
            spark, path, min_file_bytes=1 << 30
        )
        assert r["files_compacted"] == 2
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "v", "tag"]
        assert {(x["k"], x["tag"]) for x in got.collect()} == {
            (1, None), (2, None), (3, "x")
        }
        # incremental optimize over a mixed tail
        storage.write_snapshot(
            spark,
            spark.createDataFrame(
                [Row(k=4, v=4.0, tag="y"), Row(k=5, v=5.0, tag="z")],
                "k bigint, v double, tag string",
            ).coalesce(1),
            path, mode="append", stats_cols=["k"],
        )
        base_v = storage.snapshot_versions(path)[-2]
        storage.optimize_snapshot_incremental(
            spark, path, ["k"], since_version=base_v
        )
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "v", "tag"]
        tags = {x["k"]: x["tag"] for x in got.collect()}
        assert tags == {1: None, 2: None, 3: "x", 4: "y", 5: "z"}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_widen_partition_spec_column_keeps_pruning(spark):
    """Widening an identity-partitioned INT column: old tuples stay
    ints, new files' tuples are ints of the wider domain, and pruning
    stays exact across the width boundary."""
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [Row(k=i, b=i % 3, v=float(i)) for i in range(30)],
            "k bigint, b int, v double",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("identity", "b")]
        )
        storage.widen_column_type(path, "b", "bigint")
        more = spark.createDataFrame(
            [Row(k=100 + i, b=i % 3, v=float(i)) for i in range(6)],
            "k bigint, b bigint, v double",
        )
        storage.write_snapshot_partitioned(
            spark, more, path, [("identity", "b")], mode="append"
        )
        keep, total = storage.partition_pruned_files(path, {"b": ("=", 1)})
        assert total == 6 and len(keep) == 2  # one per commit
        got = storage.read_snapshot_partitioned(spark, path, {"b": ("=", 1)})
        assert dict(got.dtypes)["b"] == "bigint"
        want = sorted(
            r["k"] for r in storage.read_snapshot(spark, path)
            .filter("b = 1").collect()
        )
        assert sorted(r["k"] for r in got.collect()) == want
        # DML across the boundary keeps tuples and the widened type
        storage.delete_where_snapshot(spark, path, "b = 1 AND k < 10")
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert all(
            e is not None for e in man["partition"]["values"].values()
        )
        keep2, total2 = storage.partition_pruned_files(
            path, {"b": ("=", 2)}
        )
        assert len(keep2) == 2
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# ------------------------------------------------------------------ r14:
# MERGE schema evolution (storage._merge_evolution_cols via
# merge_into_snapshot(schema_evolution=True)) — Delta's WHEN NOT
# MATCHED ... withSchemaEvolution. The oracled end-to-end is
# q92b_merge_evolve; these pin the refusal matrix and the MOR twin.


def _kv(spark, rows, ddl="k bigint, v double"):
    return spark.createDataFrame([Row(*r) for r in rows], ddl)


def test_merge_evolution_opt_in_only(spark):
    """Without the opt-in, a source-only column is IGNORED (pre-r14
    behavior preserved) — referencing it in update_set refuses."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _kv(spark, [(1, 1.0), (2, 2.0)]), path
        )
        src = _kv(spark, [(1, 10.0, "x")], "k bigint, v double, tag string")
        with pytest.raises(ValueError, match="non-existent"):
            storage.merge_into_snapshot(
                spark, path, src, ["k"], update_set={"tag": "src_tag"}
            )
        storage.merge_into_snapshot(
            spark, path, src, ["k"], update_set={"v": "src_v"}
        )
        assert "tag" not in storage.read_snapshot(spark, path).columns
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_evolution_refusals(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _kv(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), path
        )
        # reserved physical name
        with pytest.raises(ValueError, match="reserved"):
            storage.merge_into_snapshot(
                spark, path,
                _kv(spark, [(9, 9.0, "D")],
                    "k bigint, v double, _mor_op string"),
                ["k"], insert=True, schema_evolution=True,
            )
        # all-NULL source column: no inferable type
        with pytest.raises(ValueError, match="all-NULL"):
            storage.merge_into_snapshot(
                spark, path,
                spark.sql("SELECT CAST(9 AS BIGINT) k, "
                          "CAST(9.0 AS DOUBLE) v, NULL AS ghost"),
                ["k"], insert=True, schema_evolution=True,
            )
        # dropped-name resurrection
        storage.write_snapshot(
            spark,
            _kv(spark, [(1, 1.0, "a")], "k bigint, v double, old string"),
            path, mode="overwrite",
        )
        storage.drop_column(path, "old")
        with pytest.raises(ValueError, match="DROPPED"):
            storage.merge_into_snapshot(
                spark, path,
                _kv(spark, [(9, 9.0, "z")],
                    "k bigint, v double, old string"),
                ["k"], insert=True, schema_evolution=True,
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_evolution_on_mor_table(spark):
    """The MOR twin: one delta-group commit both extends the schema and
    lands images carrying the new column; older groups and base resolve
    it as typed NULL (the q86b per-group projection)."""
    scratch, path = _mkpath()
    try:
        ddl = "k bigint, v double, seq bigint"
        storage.write_snapshot(
            spark, _kv(spark, [(1, 1.0, 0), (2, 2.0, 0)], ddl), path
        )
        storage.upsert_delta_snapshot(
            spark, path, _kv(spark, [(2, 22.0, 1)], ddl), ["k"], "seq"
        )
        src = _kv(
            spark, [(2, 222.0, 2, "t2"), (5, 5.0, 2, "t5")],
            "k bigint, v double, seq bigint, tag string",
        )
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"],
            update_set={"v": "src_v", "seq": "src_seq",
                        "tag": "src_tag"},
            insert=True, schema_evolution=True,
        )
        man = storage._load_manifest(path, v)
        assert man["schema"].get("tag") == "string"
        got = {
            r["k"]: (r["v"], r["tag"])
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got == {
            1: (1.0, None), 2: (222.0, "t2"), 5: (5.0, "t5")
        }
        # post-evolution compaction keeps the column
        storage.compact_mor(spark, path)
        assert "tag" in storage.read_snapshot(spark, path).columns
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_evolution_on_cow_table(spark):
    """The copy-on-write twin: the MERGE commit records the EVOLVED
    schema (not the pre-merge one), the rewritten file carries the new
    column, and untouched files resolve it as typed NULL."""
    scratch, path = _mkpath()
    try:
        ddl = "k bigint, v double"
        storage.write_snapshot(
            spark, _kv(spark, [(1, 1.0)], ddl).coalesce(1), path,
            stats_cols=["k"],
        )
        storage.write_snapshot(
            spark, _kv(spark, [(2, 2.0)], ddl).coalesce(1), path,
            mode="append", stats_cols=["k"],
        )
        src = _kv(
            spark, [(2, 222.0, "t2"), (5, 5.0, "t5")],
            "k bigint, v double, tag string",
        )
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"],
            update_set={"v": "src_v", "tag": "src_tag"},
            insert=True, schema_evolution=True,
        )
        man = storage._load_manifest(path, v)
        assert "mor" not in man
        assert man["schema"].get("tag") == "string"
        got = {
            r["k"]: (r["v"], r["tag"])
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got == {
            1: (1.0, None), 2: (222.0, "t2"), 5: (5.0, "t5")
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
