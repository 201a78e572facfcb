"""Snapshot-NATIVE bloom index (r14): per-file blooms keyed by manifest
rel paths, refreshed incrementally, consulted by point reads and the DML
probe planners. The high-cardinality complement of min/max stats — on a
hash-ordered key every file spans the whole range and stats prune
nothing, while the bloom proves "contains none of these keys" per file.

Every admission assertion here is EXACT-side (no false negatives): a
file the sidecar rejects provably lacks the key, so pruning can never
change an answer — the tests pin both the answers (vs plain filtered
reads) and the structural pruning (admitted ⊂ all, kept files ride
byte-identical through bloom-pruned DML).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dp_dimension_importer_spark import storage


def _mkpath():
    scratch = tempfile.mkdtemp(prefix="bloom_snap_")
    return scratch, os.path.join(scratch, "t")


def _ids_df(spark, lo, hi, shards=4):
    # hash-sharded layout: every file spans the full id range, so
    # min/max stats prune NOTHING — only the bloom can skip files
    return (
        spark.range(lo, hi)
        .select(
            F.col("id"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        )
        .repartition(shards, "id")
    )


def _sidecar(path, col):
    with open(os.path.join(path, "bloom", col, "meta.json")) as f:
        return json.load(f)


def _live_rels(path):
    v = storage.snapshot_versions(path)[-1]
    with open(os.path.join(path, "_manifests", f"v{v}.json")) as f:
        man = json.load(f)
    rels = list(man["files"])
    for grp in (man.get("mor") or {}).get("deltas", []):
        rels += grp
    return man, rels


class TestIndexBuildAndPointRead:
    def test_point_read_equals_filter_and_prunes(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 4000), path)
            rep = storage.index_bloom_snapshot(spark, path, "id")
            man, rels = _live_rels(path)
            assert rep["indexed"] == len(rels) and rep["carried"] == 0
            got = sorted(
                (r["id"], r["val"])
                for r in storage.read_snapshot_point(
                    spark, path, "id", [7, 3999, 123456]
                ).collect()
            )
            assert got == [(7, "v7"), (3999, "v3999")]
            # structural: the sidecar actually skips files for one key
            keep = storage._bloom_point_keep(
                spark, path, man, "id", [7], rels
            )
            assert set(keep) <= set(rels) and len(keep) < len(rels)
            assert len(keep) >= 1
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_absent_key_reads_zero_files(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 1000), path)
            storage.index_bloom_snapshot(spark, path, "id")
            man, rels = _live_rels(path)
            # a key the filter rejects everywhere admits nothing
            keep = storage._bloom_point_keep(
                spark, path, man, "id", [10_000_000], rels
            )
            assert keep == [] or len(keep) < len(rels)
            out = storage.read_snapshot_point(
                spark, path, "id", [10_000_000]
            )
            assert out.count() == 0
            assert [f.name for f in out.schema] == ["id", "val"]
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_empty_and_null_values(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 100), path)
            storage.index_bloom_snapshot(spark, path, "id")
            assert (
                storage.read_snapshot_point(spark, path, "id", []).count()
                == 0
            )
            got = storage.read_snapshot_point(
                spark, path, "id", [None, 5]
            ).collect()
            assert [(r["id"], r["val"]) for r in got] == [(5, "v5")]
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_all_null_file_gets_empty_bloom(self, spark):
        scratch, path = _mkpath()
        try:
            df = spark.createDataFrame(
                [Row(id=None, val="n1"), Row(id=None, val="n2")],
                "id bigint, val string",
            ).coalesce(1)
            storage.write_snapshot(spark, df, path)
            storage.write_snapshot(
                spark, _ids_df(spark, 0, 50, shards=1), path, mode="append"
            )
            storage.index_bloom_snapshot(spark, path, "id")
            meta = _sidecar(path, "id")
            man, rels = _live_rels(path)
            assert set(meta["files"]) == set(rels)
            # the null-only commit's file is indexed yet has ZERO words
            # -> it rejects every key and point reads skip it entirely
            with open(os.path.join(path, "_manifests", "v1.json")) as f:
                null_rels = set(json.load(f)["files"])
            words = spark.read.parquet(
                os.path.join(path, "bloom", "id", meta["words_dir"])
            )
            assert words.filter(
                words["rel"].isin(list(null_rels))
            ).count() == 0
            keep = storage._bloom_point_keep(
                spark, path, man, "id", [3], rels
            )
            assert not (set(keep) & null_rels)
            got = storage.read_snapshot_point(spark, path, "id", [3])
            assert got.count() == 1  # null-only file skipped, key found
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_unknown_column_raises(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 10), path)
            with pytest.raises(ValueError, match="not in committed"):
                storage.index_bloom_snapshot(spark, path, "nope")
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


class TestIncrementalRefresh:
    def test_append_then_refresh_scans_only_new_files(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 1000), path)
            storage.index_bloom_snapshot(spark, path, "id")
            n_old = len(_sidecar(path, "id")["files"])
            storage.write_snapshot(
                spark, _ids_df(spark, 1000, 2000, shards=2), path,
                mode="append",
            )
            # BEFORE the refresh: new files are unindexed -> always read
            got = storage.read_snapshot_point(spark, path, "id", [1500])
            assert [(r["id"], r["val"]) for r in got.collect()] == [
                (1500, "v1500")
            ]
            rep = storage.index_bloom_snapshot(spark, path, "id")
            assert rep["carried"] == n_old
            assert rep["indexed"] == len(_live_rels(path)[1]) - n_old
            assert rep["dropped"] == 0
            got = storage.read_snapshot_point(spark, path, "id", [1500])
            assert got.count() == 1
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_rewrite_drops_dead_entries(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(
                spark, _ids_df(spark, 0, 1000), path, stats_cols=["id"]
            )
            storage.index_bloom_snapshot(spark, path, "id")
            before = set(_sidecar(path, "id")["files"])
            res = storage.delete_where_snapshot(
                spark, path, F.col("id") == 7
            )
            assert res["rows_deleted"] == 1
            # pre-refresh: the rewritten successor file is unindexed ->
            # read; the dead entry is ignored. Answers stay exact.
            assert (
                storage.read_snapshot_point(spark, path, "id", [7]).count()
                == 0
            )
            assert (
                storage.read_snapshot_point(spark, path, "id", [8]).count()
                == 1
            )
            rep = storage.index_bloom_snapshot(spark, path, "id")
            after = set(_sidecar(path, "id")["files"])
            assert rep["dropped"] == len(before - after)
            assert rep["dropped"] >= 1
            _, rels = _live_rels(path)
            assert after == set(rels)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_widening_invalidates_until_rebuild(self, spark):
        scratch, path = _mkpath()
        try:
            df = (
                spark.range(0, 500)
                .select(
                    F.col("id").cast("int").alias("id"),
                    F.concat(F.lit("v"), F.col("id")).alias("val"),
                )
                .repartition(3, "id")
            )
            storage.write_snapshot(spark, df, path)
            storage.index_bloom_snapshot(spark, path, "id")
            assert _sidecar(path, "id")["type"] == "int"
            storage.widen_column_type(path, "id", "bigint")
            man, rels = _live_rels(path)
            # stale-typed sidecar is unusable: no pruning, never a wrong
            # answer (Spark hashes int and bigint differently)
            assert storage._snap_bloom_meta(path, "id", man) is None
            assert (
                storage._bloom_point_keep(spark, path, man, "id", [3], rels)
                == rels
            )
            got = storage.read_snapshot_point(spark, path, "id", [3])
            assert got.count() == 1
            rep = storage.index_bloom_snapshot(spark, path, "id")
            assert rep["indexed"] == len(rels) and rep["carried"] == 0
            assert _sidecar(path, "id")["type"] == "bigint"
            keep = storage._bloom_point_keep(
                spark, path, _live_rels(path)[0], "id", [3], rels
            )
            assert len(keep) < len(rels)
            assert (
                storage.read_snapshot_point(spark, path, "id", [3]).count()
                == 1
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


class TestDmlPointPrune:
    def test_delete_point_prunes_probe(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 2000), path)
            storage.index_bloom_snapshot(spark, path, "id")
            n_files = len(_live_rels(path)[1])
            res = storage.delete_where_snapshot(
                spark, path, F.col("id").isin(13, 1444),
                point=("id", [13, 1444]),
            )
            assert res["rows_deleted"] == 2
            assert 0 < res["files_probed"] < n_files
            assert (
                storage.read_snapshot(spark, path)
                .filter(F.col("id").isin(13, 1444)).count() == 0
            )
            assert storage.read_snapshot(spark, path).count() == 1998
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_delete_point_absent_key_is_zero_probe_noop(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 500), path)
            storage.index_bloom_snapshot(spark, path, "id")
            v0 = storage.snapshot_versions(path)[-1]
            res = storage.delete_where_snapshot(
                spark, path, F.col("id") == 999_999,
                point=("id", [999_999]),
            )
            assert res["rows_deleted"] == 0
            assert res["files_probed"] == 0
            assert storage.snapshot_versions(path)[-1] == v0
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_update_point_prunes_probe(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 2000), path)
            storage.index_bloom_snapshot(spark, path, "id")
            n_files = len(_live_rels(path)[1])
            res = storage.update_where_snapshot(
                spark, path, {"val": F.lit("X")}, F.col("id") == 42,
                point=("id", [42]),
            )
            assert res["rows_updated"] == 1
            assert 0 < res["files_probed"] < n_files
            got = storage.read_snapshot(spark, path).filter(
                F.col("id") == 42
            ).collect()
            assert [r["val"] for r in got] == ["X"]
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_merge_bloom_probe_keeps_unmatched_files(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 2000), path)
            storage.index_bloom_snapshot(spark, path, "id")
            man0, rels0 = _live_rels(path)
            src = spark.createDataFrame(
                [Row(id=77, val="upd"), Row(id=5000, val="new")],
                "id bigint, val string",
            )
            storage.merge_into_snapshot(
                spark, path, src, ["id"], update_set={"val": "src_val"}
            )
            got = dict(
                (r["id"], r["val"])
                for r in storage.read_snapshot(spark, path)
                .filter(F.col("id").isin(77, 5000)).collect()
            )
            assert got == {77: "upd", 5000: "new"}
            assert storage.read_snapshot(spark, path).count() == 2001
            man1, rels1 = _live_rels(path)
            # every file the bloom rejected for id=77 rode through
            kept = set(rels0) & set(rels1)
            assert len(kept) >= len(rels0) - 1
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


class TestMorBloom:
    def _seed(self, spark, path):
        base = spark.createDataFrame(
            [Row(k=i, val=f"b{i}", seq=0) for i in range(200)],
            "k bigint, val string, seq bigint",
        ).repartition(3, "k")
        storage.write_snapshot(spark, base, path)
        up = spark.createDataFrame(
            [Row(k=7, val="u7", seq=1), Row(k=300, val="n300", seq=1)],
            "k bigint, val string, seq bigint",
        ).coalesce(1)
        storage.upsert_delta_snapshot(spark, path, up, ["k"], "seq")

    def test_point_read_resolves_chain(self, spark):
        scratch, path = _mkpath()
        try:
            self._seed(spark, path)
            storage.index_bloom_snapshot(spark, path, "k")
            meta = _sidecar(path, "k")
            _, rels = _live_rels(path)
            assert set(meta["files"]) == set(rels)  # chain covered
            got = sorted(
                (r["k"], r["val"])
                for r in storage.read_snapshot_point(
                    spark, path, "k", [7, 300, 9999]
                ).collect()
            )
            # latest-wins THROUGH the bloom-pruned chain
            assert got == [(7, "u7"), (300, "n300")]
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_point_read_sees_tombstones(self, spark):
        scratch, path = _mkpath()
        try:
            self._seed(spark, path)
            storage.delete_where_snapshot(spark, path, F.col("k") == 7)
            storage.index_bloom_snapshot(spark, path, "k")
            got = storage.read_snapshot_point(spark, path, "k", [7])
            assert got.count() == 0  # tombstone group admitted, masks
            assert (
                storage.read_snapshot_point(spark, path, "k", [8]).count()
                == 1
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_non_key_column_refuses(self, spark):
        scratch, path = _mkpath()
        try:
            self._seed(spark, path)
            with pytest.raises(ValueError, match="key column"):
                storage.index_bloom_snapshot(spark, path, "val")
            with pytest.raises(ValueError, match="key column"):
                storage.read_snapshot_point(spark, path, "val", ["b3"])
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_mor_delete_point_prune(self, spark):
        scratch, path = _mkpath()
        try:
            self._seed(spark, path)
            storage.index_bloom_snapshot(spark, path, "k")
            _, rels = _live_rels(path)
            res = storage.delete_where_snapshot(
                spark, path, F.col("k") == 13, point=("k", [13])
            )
            assert res["rows_deleted"] == 1
            assert 0 < res["files_probed"] < len(rels)
            assert (
                storage.read_snapshot(spark, path)
                .filter(F.col("k") == 13).count() == 0
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_merge_bloom_probe_mor(self, spark):
        scratch, path = _mkpath()
        try:
            self._seed(spark, path)
            storage.index_bloom_snapshot(spark, path, "k")
            src = spark.createDataFrame(
                [Row(k=7, val="m7"), Row(k=500, val="m500")],
                "k bigint, val string",
            )
            storage.merge_into_snapshot(
                spark, path, src, ["k"], update_set={"val": "src_val"},
                insert=True,
            )
            got = dict(
                (r["k"], r["val"])
                for r in storage.read_snapshot(spark, path)
                .filter(F.col("k").isin(7, 500)).collect()
            )
            assert got == {7: "m7", 500: "m500"}
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


class TestColumnMappedBloom:
    def test_renamed_column_indexes_and_probes(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 400), path)
            storage.rename_column(path, "id", "doc_id")
            storage.index_bloom_snapshot(spark, path, "doc_id")
            got = storage.read_snapshot_point(
                spark, path, "doc_id", [33]
            ).collect()
            assert [(r["doc_id"], r["val"]) for r in got] == [(33, "v33")]
            man, rels = _live_rels(path)
            keep = storage._bloom_point_keep(
                spark, path, man, "doc_id", [33], rels
            )
            assert len(keep) < len(rels)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_drop_then_rename_distrusts_stale_sidecar(self, spark):
        """A sidecar hashed ``a``'s bytes; after ``drop_column("a")`` and
        ``rename_column("b", "a")`` the name ``a`` means ``b``'s bytes,
        so the point read, DML ``point``, MERGE and the refresh must all
        stop trusting the old words."""
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(
                spark,
                spark.range(40).select(
                    F.col("id").alias("k"),
                    (F.col("id") + 1000).alias("a"),
                    (F.col("id") + 2000).alias("b"),
                ).repartition(4, "k"),
                path,
            )
            storage.index_bloom_snapshot(spark, path, "a")
            storage.drop_column(path, "a")
            storage.rename_column(path, "b", "a")
            got = storage.read_snapshot_point(spark, path, "a", [2003, 2017])
            assert sorted(r["k"] for r in got.collect()) == [3, 17]
            storage.merge_into_snapshot(
                spark, path,
                spark.createDataFrame([Row(k=3, a=2003)], "k bigint, a bigint"),
                ["a"], insert=True,
            )
            def n_2003():
                return storage.read_snapshot(spark, path).filter(
                    "a = 2003"
                ).count()

            assert n_2003() == 1  # matched, not inserted twice
            res = storage.delete_where_snapshot(
                spark, path, F.col("a") == 2003, point=("a", [2003])
            )
            assert res["rows_deleted"] == 1
            assert n_2003() == 0
            _, rels = _live_rels(path)
            ref = storage.index_bloom_snapshot(spark, path, "a")
            assert (ref["indexed"], ref["carried"]) == (len(rels), 0)
            got = storage.read_snapshot_point(spark, path, "a", [2017])
            assert [r["k"] for r in got.collect()] == [17]
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


class TestAdmissionExactness:
    def test_admitted_is_superset_of_containing_files(self, spark):
        """No false negatives, file by file: for a sample of keys, the
        admitted set must contain every file that truly holds the key
        (the property every prune above relies on)."""
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 3000), path)
            storage.index_bloom_snapshot(spark, path, "id")
            man, rels = _live_rels(path)
            meta = storage._snap_bloom_meta(path, "id", man)
            truth = {
                (r["_f"], r["id"])
                for r in spark.read.parquet(
                    *(os.path.join(path, rel) for rel in rels)
                )
                .filter(F.col("id").isin(list(range(0, 3000, 97))))
                .select(
                    F.col("_metadata.file_path").alias("_f"), "id"
                )
                .collect()
            }
            for key in range(0, 3000, 97):
                adm = storage._bloom_admitted_files(
                    spark, path, meta,
                    spark.createDataFrame([(key,)], "_v bigint"),
                )
                holders = {
                    os.path.relpath(storage._file_uri_to_path(f), path)
                    for (f, k) in truth if k == key
                }
                assert holders <= adm, f"false negative for key {key}"
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


class TestWordsCompaction:
    def test_dead_majority_compacts_words_and_sweeps(self, spark):
        import glob

        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 1000), path)
            storage.index_bloom_snapshot(spark, path, "id")
            d0 = _sidecar(path, "id")["words_dir"]
            # overwrite: every indexed file dies -> refresh must compact
            # into a fresh words dir and sweep the superseded one
            storage.write_snapshot(spark, _ids_df(spark, 0, 800), path)
            rep = storage.index_bloom_snapshot(spark, path, "id")
            assert rep["carried"] == 0 and rep["dropped"] > 0
            meta = _sidecar(path, "id")
            assert meta["words_dir"] != d0
            assert not os.path.exists(
                os.path.join(path, "bloom", "id", d0)
            )
            assert (
                storage.read_snapshot_point(spark, path, "id", [7]).count()
                == 1
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_orphan_words_dir_swept_on_refresh(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 200), path)
            storage.index_bloom_snapshot(spark, path, "id")
            orphan = os.path.join(path, "bloom", "id", "words-deadbeef")
            os.makedirs(orphan)
            storage.write_snapshot(
                spark, _ids_df(spark, 200, 300, shards=1), path,
                mode="append",
            )
            storage.index_bloom_snapshot(spark, path, "id")
            assert not os.path.exists(orphan)
            assert (
                storage.read_snapshot_point(
                    spark, path, "id", [250]
                ).count() == 1
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


class TestMaintenance:
    def test_refresh_all_after_major_compaction(self, spark):
        scratch, path = _mkpath()
        try:
            base = spark.createDataFrame(
                [Row(k=i, val=f"b{i}", seq=0) for i in range(400)],
                "k bigint, val string, seq bigint",
            ).repartition(4, "k")
            storage.write_snapshot(spark, base, path)
            storage.upsert_delta_snapshot(
                spark, path,
                spark.createDataFrame(
                    [Row(k=7, val="u7", seq=1)],
                    "k bigint, val string, seq bigint",
                ),
                ["k"], "seq",
            )
            storage.index_bloom_snapshot(spark, path, "k")
            assert storage.list_bloom_indexes(path) == ["k"]
            storage.compact_mor(spark, path)  # chain shed, files rewritten
            # post-compaction: sidecar covers only dead files -> point
            # reads degrade to full (correct), then refresh restores
            assert (
                storage.read_snapshot_point(spark, path, "k", [7])
                .collect()[0]["val"] == "u7"
            )
            rep = storage.refresh_bloom_indexes(spark, path)
            assert rep["k"]["indexed"] > 0 and rep["k"]["carried"] == 0
            man, rels = _live_rels(path)
            keep = storage._bloom_point_keep(
                spark, path, man, "k", [7], rels
            )
            # every rewritten file is indexed again (a small table may
            # compact into one file — admission still exact)
            assert set(keep) <= set(rels)
            assert (
                storage.read_snapshot_point(spark, path, "k", [7])
                .collect()[0]["val"] == "u7"
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_refresh_reports_stale_sidecar_instead_of_raising(self, spark):
        scratch, path = _mkpath()
        try:
            storage.write_snapshot(spark, _ids_df(spark, 0, 100), path)
            storage.index_bloom_snapshot(spark, path, "val")
            # the table becomes MOR keyed on id: 'val' can no longer be
            # bloom-indexed (non-key chain pruning is unsound)
            storage.upsert_delta_snapshot(
                spark, path,
                spark.range(1).select(
                    F.lit(1000).cast("bigint").alias("id"),
                    F.lit("x").alias("val"),
                ).withColumn("seq", F.lit(1).cast("bigint")),
                ["id"], "seq",
            )
            rep = storage.refresh_bloom_indexes(spark, path)
            assert "error" in rep["val"]
            assert "key column" in rep["val"]["error"]
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


class TestClusteredMajorCompaction:
    def test_cluster_by_tightens_stats_for_pruning(self, spark):
        scratch, path = _mkpath()
        try:
            # hash layout: every file spans the whole key range
            base = (
                spark.range(0, 4000)
                .select(
                    F.col("id").alias("k"),
                    F.concat(F.lit("v"), F.col("id")).alias("val"),
                    F.lit(0).cast("long").alias("seq"),
                )
                .repartition(8, "k")
            )
            storage.write_snapshot(spark, base, path, stats_cols=["k"])
            storage.upsert_delta_snapshot(
                spark, path,
                spark.createDataFrame(
                    [Row(k=5, val="u5", seq=1)],
                    "k bigint, val string, seq bigint",
                ),
                ["k"], "seq",
            )
            with pytest.raises(ValueError, match="MAJOR compaction"):
                storage.compact_mor(
                    spark, path, minor=True, cluster_by=["k"]
                )
            v = storage.compact_mor(
                spark, path, cluster_by=["k"], n_shards=8
            )
            man = storage._load_manifest(path, v)
            assert not man.get("mor")  # chain shed
            # range stats now prune: a 100-wide slice reads few files
            stats = man["stats"]
            n_hit = sum(
                1 for rel in man["files"]
                if not (
                    stats[rel]["k"][1] < storage._stat_encode(1000)
                    or stats[rel]["k"][0] > storage._stat_encode(1099)
                )
            )
            assert n_hit <= 2, (
                f"{n_hit}/{len(man['files'])} files intersect a 2.5% "
                "key slice after cluster_by — layout not clustered"
            )
            got = storage.read_snapshot(spark, path)
            assert got.count() == 4000  # k=5 upsert replaced, not added
            assert got.filter("k = 5").collect()[0]["val"] == "u5"
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
