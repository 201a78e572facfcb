"""Pins for column mapping (r11): storage.rename_column /
column_mapping / materialize_column_mapping — rename without rewriting a
byte (the Delta column-mapping shape reduced to the name layer). Files
keep physical names; manifests and every reader speak logical names."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dp_dimension_importer_spark import storage


def _mkpath():
    scratch = tempfile.mkdtemp(prefix="cmap_test_")
    return scratch, os.path.join(scratch, "t")


def _df(spark, rows, ddl="k bigint, price double"):
    return spark.createDataFrame([Row(*r) for r in rows], ddl)


def test_rename_is_metadata_only_and_reads_logical(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(1, 10.0), (2, 20.0)]), path
        )
        files_before = sorted(storage._load_manifest(path, 1)["files"])
        v = storage.rename_column(path, "price", "amount")
        assert v == 2
        man = storage._load_manifest(path, 2)
        assert sorted(man["files"]) == files_before  # zero data movement
        assert storage.column_mapping(path) == {"amount": "price"}
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "amount"]
        assert sorted((r["k"], r["amount"]) for r in got.collect()) == [
            (1, 10.0), (2, 20.0)
        ]
        # time travel to v1 still shows the old name
        assert storage.read_snapshot(spark, path, version=1).columns == [
            "k", "price"
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_append_translates_to_physical_and_chain_collapse(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, 10.0)]), path)
        storage.rename_column(path, "price", "amount")
        # append arrives in LOGICAL names; files stay physically uniform
        storage.write_snapshot(
            spark,
            _df(spark, [(2, 20.0)], "k bigint, amount double"),
            path,
            mode="append",
        )
        got = storage.read_snapshot(spark, path)
        assert sorted((r["k"], r["amount"]) for r in got.collect()) == [
            (1, 10.0), (2, 20.0)
        ]
        # chain: amount -> cost collapses to one physical hop
        storage.rename_column(path, "amount", "cost")
        assert storage.column_mapping(path) == {"cost": "price"}
        # renaming BACK to the physical name clears the map entry
        storage.rename_column(path, "cost", "price")
        assert storage.column_mapping(path) == {}
        assert storage.read_snapshot(spark, path).columns == ["k", "price"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_rename_guards(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, 10.0)]), path)
        with pytest.raises(ValueError, match="no column"):
            storage.rename_column(path, "nope", "x")
        with pytest.raises(ValueError, match="collides"):
            storage.rename_column(path, "price", "k")
        storage.add_check_constraint(spark, path, "pos", "price > 0")
        with pytest.raises(ValueError, match="CHECK constraint"):
            storage.rename_column(path, "price", "amount")
        storage.drop_check_constraint(path, "pos")
        storage.rename_column(path, "price", "amount")
        # physical name is still occupied by the shifted column
        with pytest.raises(ValueError, match="collides"):
            storage.rename_column(path, "k", "price")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mapped_dml_keeps_rename_metadata_only(spark):
    """r12 (r11 verdict #1): the partial-rewrite DML suite works on a
    column-mapped table WITHOUT materialize — predicates speak logical
    names, rewritten files keep the ONE physical schema, the mapping
    rides every commit. r13 lifted the last refusal: the MOR conversion
    writes delta files in the physical schema and resolves logical."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(i, float(i)) for i in range(1, 9)]), path
        )
        storage.rename_column(path, "price", "amount")
        # COW delete in LOGICAL vocabulary
        r = storage.delete_where_snapshot(spark, path, "amount < 3.0")
        assert r["rows_deleted"] == 2
        assert storage.column_mapping(path) == {"amount": "price"}
        # UPDATE assigning the renamed column
        r = storage.update_where_snapshot(
            spark, path, {"amount": F.col("amount") * 10}, "k = 3"
        )
        assert r["rows_updated"] == 1
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "amount"]
        assert sorted((r["k"], r["amount"]) for r in got.collect()) == [
            (3, 30.0), (4, 4.0), (5, 5.0), (6, 6.0), (7, 7.0), (8, 8.0)
        ]
        # rewritten + untouched files all share ONE physical schema
        import pyarrow.parquet as pq

        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert man["column_mapping"] == {"amount": "price"}
        for rel in man["files"]:
            names = pq.ParquetFile(
                os.path.join(path, rel)
            ).schema_arrow.names
            assert names == ["k", "price"], rel
        # DV delete + purge on the mapped table
        r = storage.delete_where_snapshot(
            spark, path, "amount = 4.0", mode="dv"
        )
        assert r["dv_files_written"] == 1
        assert storage.read_snapshot(spark, path).count() == 5
        storage.purge_deletion_vectors(spark, path)
        assert storage.read_snapshot(spark, path).count() == 5
        assert storage.column_mapping(path) == {"amount": "price"}
        # r13: MOR conversion on a mapped table works — the delta file
        # carries the PHYSICAL name, the resolve emits logical
        storage.upsert_delta_snapshot(
            spark, path,
            _df(spark, [(1, 5.0)], "k bigint, amount double")
            .withColumn("seq", F.lit(1).cast("long")),
            key_cols=["k"], seq_col="seq",
        )
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert man["column_mapping"] == {"amount": "price"}
        grp = man["mor"]["deltas"][-1]
        for rel in grp:
            names = pq.ParquetFile(
                os.path.join(path, rel)
            ).schema_arrow.names
            assert "price" in names and "amount" not in names, rel
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["k", "amount", "seq"]
        assert (1, 5.0) in {
            (r["k"], r["amount"]) for r in got.collect()
        }
        # time travel across the whole sequence reads era names
        assert storage.read_snapshot(spark, path, version=1).columns == [
            "k", "price"
        ]
        # materialize still works and clears the map (MOR: via compact)
        storage.compact_mor(spark, path)
        storage.materialize_column_mapping(spark, path)
        assert storage.column_mapping(path) == {}
        assert storage.read_snapshot(spark, path).columns == [
            "k", "amount", "seq"
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mapped_dml_stats_rekey_and_prune(spark):
    """Mapped DML rewrites harvest stats PHYSICALLY and store them under
    LOGICAL keys, so read_snapshot_pruned keeps skipping files after a
    COW delete on a renamed table."""
    scratch, path = _mkpath()
    try:
        df = _df(spark, [(i, float(i)) for i in range(100)])
        storage.write_snapshot_with_stats(
            spark, df, path, stats_cols=["price"], range_col="price",
            n_files=4,
        )
        storage.rename_column(path, "price", "amount")
        storage.delete_where_snapshot(spark, path, "amount = 50.0")
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        # every file's stats speak the logical name
        assert all("amount" in per for per in man["stats"].values())
        assert all("price" not in per for per in man["stats"].values())
        got = storage.read_snapshot_pruned(
            spark, path, "amount", 10.0, 19.0
        )
        assert sorted(r["amount"] for r in got.collect()) == [
            float(x) for x in range(10, 20)
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mapped_stats_pruning_speaks_logical(spark):
    scratch, path = _mkpath()
    try:
        df = _df(spark, [(i, float(i)) for i in range(100)])
        storage.write_snapshot_with_stats(
            spark, df, path, stats_cols=["price"], range_col="price",
            n_files=4,
        )
        storage.rename_column(path, "price", "amount")
        got = storage.read_snapshot_pruned(spark, path, "amount", 10.0, 19.0)
        assert sorted(r["amount"] for r in got.collect()) == [
            float(x) for x in range(10, 20)
        ]
        assert got.columns == ["k", "amount"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mapped_partitioned_read_and_spec_rekey(spark):
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [Row(k=i, g="ab"[i % 2], v=float(i)) for i in range(40)],
            "k bigint, g string, v double",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("identity", "g")]
        )
        storage.rename_column(path, "g", "grp")
        # the spec re-keys: predicates arrive under the LOGICAL name
        keep, total = storage.partition_pruned_files(
            path, {"grp": ("=", "a")}, spark=spark
        )
        assert total == 2 and len(keep) == 1
        got = storage.read_snapshot_partitioned(
            spark, path, {"grp": ("=", "a")}
        )
        assert got.columns == ["k", "grp", "v"]
        assert all(r["grp"] == "a" for r in got.collect())
        # r12: partitioned append works on the mapped table — arrives
        # logical, lands physical, tuples recorded under the re-keyed spec
        more = spark.createDataFrame(
            [Row(k=100 + i, grp="ab"[i % 2], v=float(i)) for i in range(4)],
            "k bigint, grp string, v double",
        )
        storage.write_snapshot_partitioned(
            spark, more, path, [("identity", "grp")], mode="append"
        )
        assert storage.column_mapping(path) == {"grp": "g"}
        keep, total = storage.partition_pruned_files(
            path, {"grp": ("=", "a")}
        )
        assert total == 4 and len(keep) == 2  # old 'a' file + new 'a' file
        got = storage.read_snapshot_partitioned(
            spark, path, {"grp": ("=", "a")}
        )
        assert got.count() == 22 and all(
            r["grp"] == "a" for r in got.collect()
        )
        import pyarrow.parquet as pq

        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        for rel in man["files"]:  # one physical schema table-wide
            assert pq.ParquetFile(
                os.path.join(path, rel)
            ).schema_arrow.names == ["k", "g", "v"], rel
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_version_delta_and_changefeed_translate_mapped_eras(spark):
    """r12: BOTH incremental readers work through column mapping —
    version_delta translates per version (r11), and the change feed now
    translates per transition instead of refusing (Delta CDF through
    column mapping). A feed whose range CROSSES the rename boundary
    still refuses, matching snapshot_changes' rule."""
    import tempfile as _tf

    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, 10.0)]), path)
        storage.rename_column(path, "price", "amount")
        storage.write_snapshot(
            spark,
            _df(spark, [(2, 20.0)], "k bigint, amount double"),
            path, mode="append",
        )
        d = storage.version_delta(
            spark, path, 3, key_cols=["k"], base_version=2
        )
        rows = d.collect()
        assert len(rows) == 1 and rows[0]["change_type"] == "insert"
        assert rows[0]["_new"]["amount"] == 20.0
        from dp_dimension_importer_spark.streaming.changefeed import (
            read_changes_stream,
        )

        def drain(name, from_version):
            feed = read_changes_stream(
                spark, path, key_cols=["k"], from_version=from_version
            )
            q = (
                feed.writeStream.format("memory").queryName(name)
                .option(
                    "checkpointLocation",
                    _tf.mkdtemp(prefix="cmap_ck_"),
                )
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)
            return [r.asDict() for r in spark.table(name).collect()]

        # inside the mapped era: the v2->v3 append streams the renamed
        # column's VALUES under the logical name (pre-r12: refusal;
        # pre-ADVICE-fix risk: silent NULLs)
        got = drain("cmap_feed_era", from_version=2)
        assert [(r["k"], r["amount"]) for r in got] == [(2, 20.0)]
        # crossing the rename boundary (v1 era named it 'price') refuses
        with pytest.raises(Exception, match="rename"):
            drain("cmap_feed_cross", from_version=0)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_rename_on_mor_translates_every_group(spark):
    """r13 (r12 verdict #3): rename stays metadata-only on a MOR table —
    pre-rename base + delta files AND post-rename delta files all share
    the one physical schema; the resolve emits the logical name without
    compact_mor. Renaming a KEY column re-keys the mor block so later
    upserts speak the new logical name."""
    scratch, path = _mkpath()
    try:
        base = spark.createDataFrame(
            [Row(k=1, v=1.0, seq=0), Row(k=2, v=2.0, seq=0)],
            "k bigint, v double, seq bigint",
        )
        storage.write_snapshot(spark, base, path)
        storage.upsert_delta_snapshot(
            spark, path,
            spark.createDataFrame(
                [Row(k=2, v=2.5, seq=1)], "k bigint, v double, seq bigint"
            ),
            key_cols=["k"], seq_col="seq",
        )
        storage.rename_column(path, "v", "w")           # value column
        storage.rename_column(path, "k", "kid")         # KEY column
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert man["mor"]["key_cols"] == ["kid"]
        # post-rename delta commit speaks the NEW logical names
        storage.upsert_delta_snapshot(
            spark, path,
            spark.createDataFrame(
                [Row(kid=3, w=3.0, seq=2)],
                "kid bigint, w double, seq bigint",
            ),
            key_cols=["kid"], seq_col="seq",
        )
        got = storage.read_snapshot(spark, path)
        assert got.columns == ["kid", "w", "seq"]
        assert sorted((r["kid"], r["w"]) for r in got.collect()) == [
            (1, 1.0), (2, 2.5), (3, 3.0)
        ]
        # EVERY group's files — pre- and post-rename — carry the one
        # PHYSICAL schema (k, v)
        import os as _os

        import pyarrow.parquet as pq

        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        for grp in [man["files"]] + man["mor"]["deltas"]:
            for rel in grp:
                names = pq.ParquetFile(
                    _os.path.join(path, rel)
                ).schema_arrow.names
                assert "k" in names and "kid" not in names, rel
                assert "v" in names and "w" not in names, rel
        # stale logical key name refuses (the mor block re-keyed)
        with pytest.raises(ValueError, match="key/seq fixed"):
            storage.upsert_delta_snapshot(
                spark, path,
                spark.createDataFrame(
                    [Row(kid=4, w=4.0, seq=3)],
                    "kid bigint, w double, seq bigint",
                ),
                key_cols=["k"], seq_col="seq",
            )
        # DML on the renamed MOR table speaks logical names end to end
        r = storage.delete_where_snapshot(spark, path, "w = 1.0")
        assert r["rows_deleted"] == 1
        assert sorted(
            x["kid"] for x in storage.read_snapshot(spark, path).collect()
        ) == [2, 3]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_snapshot_changes_refuses_rename_boundary(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _df(spark, [(1, 10.0)]), path)
        storage.rename_column(path, "price", "amount")
        storage.write_snapshot(
            spark, _df(spark, [(2, 20.0)], "k bigint, amount double"),
            path, mode="append",
        )
        with pytest.raises(ValueError, match="rename boundary"):
            storage.snapshot_changes(spark, path, 1, 3, key_cols=["k"])
        # within one naming era the diff is fine (v2 -> v3: same mapping)
        d = storage.snapshot_changes(spark, path, 2, 3, key_cols=["k"])
        assert [r["change_type"] for r in d.collect()] == ["insert"]
        # version_delta keeps snapshot_changes' contract: an append range
        # across the rename refuses instead of emitting both names
        with pytest.raises(ValueError, match="rename boundary"):
            storage.version_delta(spark, path, 3, ["k"], base_version=1)
        # the rename commit alone is an empty delta, so stepping version
        # by version still crosses the boundary
        assert storage.version_delta(
            spark, path, 2, ["k"], base_version=1
        ).collect() == []
        d = storage.version_delta(spark, path, 3, ["k"], base_version=2)
        assert [(r["k"], tuple(r["_new"])) for r in d.collect()] == [
            (2, (20.0,))
        ]
        # the same on a MOR chain: a delta group after the rename
        path = os.path.join(scratch, "mor")
        ddl = "k bigint, v double, seq bigint"
        storage.write_snapshot(
            spark, _df(spark, [(k, float(k), 0) for k in range(6)], ddl),
            path,
        )
        storage.upsert_delta_snapshot(
            spark, path, _df(spark, [(1, 10.0, 1)], ddl), ["k"], "seq"
        )  # v2
        storage.rename_column(path, "v", "w")  # v3
        storage.upsert_delta_snapshot(
            spark, path,
            _df(spark, [(2, 20.0, 2)], "k bigint, w double, seq bigint"),
            ["k"], "seq",
        )  # v4
        with pytest.raises(ValueError, match="rename boundary"):
            storage.version_delta(spark, path, 4, ["k"], base_version=2)
        assert storage.version_delta(
            spark, path, 3, ["k"], base_version=2
        ).collect() == []
        d = storage.version_delta(spark, path, 4, ["k"], base_version=3)
        assert [
            (r["k"], r["change_type"], tuple(r["_old"]), tuple(r["_new"]))
            for r in d.collect()
        ] == [(2, "update", (2.0, 0), (20.0, 2))]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
