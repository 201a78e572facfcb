"""Pins for the hidden-partitioning layer (r11):
write_snapshot_partitioned / partition_pruned_files /
read_snapshot_partitioned. Contract under test: a partitioned read with
``where`` equals ``read_snapshot().filter(where)`` exactly — pruning only
removes IO — and the planner's skip counts are as the spec promises
(transform-mapped, orderless buckets equality-only, unknown tuples never
pruned)."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dp_dimension_importer_spark import storage

D = datetime.datetime


def _mkpath():
    scratch = tempfile.mkdtemp(prefix="part_test_")
    return scratch, os.path.join(scratch, "t")


def _events(spark, n=400, days=10, types=("a", "b")):
    rows = [
        Row(
            k=i,
            ts=D(2024, 3, 1 + (i % days), (i * 7) % 24, i % 60),
            typ=types[(i // days) % len(types)],
            v=float(i),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "k bigint, ts timestamp, typ string, v double"
    )


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_days_identity_roundtrip_and_prune(spark):
    scratch, path = _mkpath()
    try:
        df = _events(spark)
        storage.write_snapshot_partitioned(
            spark, df, path, [("days", "ts"), ("identity", "typ")]
        )
        where = {
            "ts": ("between", D(2024, 3, 2), D(2024, 3, 4, 23, 59, 59)),
            "typ": ("=", "a"),
        }
        keep, total = storage.partition_pruned_files(path, where, spark=spark)
        assert total == 20  # 10 days x 2 types, one file per tuple
        assert len(keep) == 3  # 3 days x 1 type
        got = storage.read_snapshot_partitioned(spark, path, where)
        want = storage.read_snapshot(spark, path).filter(
            F.col("ts").between(D(2024, 3, 2), D(2024, 3, 4, 23, 59, 59))
            & (F.col("typ") == "a")
        )
        assert _sorted(got) == _sorted(want)
        assert got.count() > 0
        # source columns are intact inside the files (identity copies)
        assert set(got.columns) == {"k", "ts", "typ", "v"}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_bucket_point_lookup_finds_all_rows(spark):
    scratch, path = _mkpath()
    try:
        df = _events(spark, n=300, days=1)
        storage.write_snapshot_partitioned(
            spark, df, path, [("bucket", "k", 8)]
        )
        keep, total = storage.partition_pruned_files(
            path, {"k": ("=", 123)}, spark=spark
        )
        assert total == 8 and len(keep) == 1
        got = storage.read_snapshot_partitioned(
            spark, path, {"k": ("=", 123)}
        )
        assert [r["k"] for r in got.collect()] == [123]
        # a range predicate over an orderless bucket must NOT prune
        keep2, _ = storage.partition_pruned_files(
            path, {"k": ("between", 0, 10)}, spark=spark
        )
        assert len(keep2) == 8
        got2 = storage.read_snapshot_partitioned(
            spark, path, {"k": ("between", 0, 10)}
        )
        assert sorted(r["k"] for r in got2.collect()) == list(range(11))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_truncate_int_and_string(spark):
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [Row(k=i, s=f"{chr(97 + i % 4)}x{i}") for i in range(-20, 80)],
            "k bigint, s string",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("truncate", "k", 25), ("truncate", "s", 1)]
        )
        # int truncate floors toward -inf: -20 -> -25 bin
        keep, total = storage.partition_pruned_files(
            path, {"k": ("between", -20, -1)}, spark=spark
        )
        assert all(
            any(seg.startswith("_p0=-25") or seg.startswith("_p0=0")
                for seg in rel.split(os.sep))
            for rel in keep
        )
        got = storage.read_snapshot_partitioned(
            spark, path, {"k": ("between", -20, -1), "s": ("=", "ax3")}
        )
        want = storage.read_snapshot(spark, path).filter(
            F.col("k").between(-20, -1) & (F.col("s") == "ax3")
        )
        assert _sorted(got) == _sorted(want)
        # string prefix pruning: only the 'a' partition survives
        keep_s, _ = storage.partition_pruned_files(
            path, {"s": ("=", "ax3")}, spark=spark
        )
        assert keep_s and all("_p1=a" in rel for rel in keep_s)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_in_list_and_months_transform(spark):
    scratch, path = _mkpath()
    try:
        rows = [
            Row(k=i, d=datetime.date(2024, 1 + i % 6, 1 + i % 28))
            for i in range(120)
        ]
        df = spark.createDataFrame(rows, "k bigint, d date")
        storage.write_snapshot_partitioned(spark, df, path, [("months", "d")])
        keep, total = storage.partition_pruned_files(
            path,
            {"d": ("in", [datetime.date(2024, 2, 10),
                          datetime.date(2024, 5, 3)])},
            spark=spark,
        )
        assert total == 6 and len(keep) == 2
        got = storage.read_snapshot_partitioned(
            spark, path,
            {"d": ("in", [datetime.date(2024, 2, 10),
                          datetime.date(2024, 5, 3)])},
        )
        want = storage.read_snapshot(spark, path).filter(
            F.col("d").isin(
                [datetime.date(2024, 2, 10), datetime.date(2024, 5, 3)]
            )
        )
        assert _sorted(got) == _sorted(want)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_null_partition_values_always_survive(spark):
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [Row(k=1, s="x"), Row(k=2, s=None), Row(k=3, s="y")],
            "k bigint, s string",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("identity", "s")]
        )
        keep, total = storage.partition_pruned_files(
            path, {"s": ("=", "x")}, spark=spark
        )
        assert total == 3
        # the x file AND the null file survive; y is pruned
        assert len(keep) == 2
        got = storage.read_snapshot_partitioned(spark, path, {"s": ("=", "x")})
        assert _sorted(got) == [(1, "x")]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_append_carries_tuples_and_spec_must_match(spark):
    scratch, path = _mkpath()
    try:
        df = _events(spark, n=100, days=5)
        spec = [("days", "ts")]
        storage.write_snapshot_partitioned(spark, df, path, spec)
        more = _events(spark, n=100, days=5).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 5 DAYS")
        )
        storage.write_snapshot_partitioned(
            spark, more, path, spec, mode="append"
        )
        keep, total = storage.partition_pruned_files(
            path, {"ts": ("between", D(2024, 3, 1), D(2024, 3, 2, 23, 59))},
            spark=spark,
        )
        assert total == 10 and len(keep) == 2  # carried tuples still prune
        got = storage.read_snapshot_partitioned(
            spark, path,
            {"ts": ("between", D(2024, 3, 1), D(2024, 3, 2, 23, 59))},
        )
        want = storage.read_snapshot(spark, path).filter(
            F.col("ts").between(D(2024, 3, 1), D(2024, 3, 2, 23, 59))
        )
        assert _sorted(got) == _sorted(want)
        with pytest.raises(ValueError, match="spec"):
            storage.write_snapshot_partitioned(
                spark, more, path, [("months", "ts")], mode="append"
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_unpartitioned_table_degrades_to_filter(spark):
    scratch, path = _mkpath()
    try:
        df = _events(spark, n=50, days=3)
        storage.write_snapshot(spark, df, path)
        keep, total = storage.partition_pruned_files(
            path, {"typ": ("=", "a")}, spark=spark
        )
        assert len(keep) == total  # nothing pruned, nothing lied about
        got = storage.read_snapshot_partitioned(
            spark, path, {"typ": ("=", "a")}
        )
        want = storage.read_snapshot(spark, path).filter("typ = 'a'")
        assert _sorted(got) == _sorted(want)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_dv_delete_on_partitioned_table_read_honors_vectors(spark):
    scratch, path = _mkpath()
    try:
        df = _events(spark, n=100, days=4)
        storage.write_snapshot_partitioned(
            spark, df, path, [("days", "ts")]
        )
        storage.delete_where_snapshot(spark, path, "k % 2 = 0", mode="dv")
        # the DV commit leaves the file set untouched, so the partition
        # block carries: pruning still works AND vectors are honored
        where = {"ts": ("between", D(2024, 3, 2), D(2024, 3, 3, 23, 59))}
        keep, total = storage.partition_pruned_files(path, where, spark=spark)
        assert total == 4 and len(keep) == 2
        got = storage.read_snapshot_partitioned(spark, path, where)
        want = storage.read_snapshot(spark, path).filter(
            F.col("ts").between(D(2024, 3, 2), D(2024, 3, 3, 23, 59))
        )
        assert _sorted(got) == _sorted(want)
        assert all(r["k"] % 2 == 1 for r in got.collect())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_empty_survivor_set_returns_typed_empty(spark):
    scratch, path = _mkpath()
    try:
        df = _events(spark, n=40, days=2)
        storage.write_snapshot_partitioned(spark, df, path, [("days", "ts")])
        got = storage.read_snapshot_partitioned(
            spark, path,
            {"ts": ("between", D(2025, 1, 1), D(2025, 1, 2))},
        )
        assert got.count() == 0
        assert set(got.columns) == {"k", "ts", "typ", "v"}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_guards(spark):
    scratch, path = _mkpath()
    try:
        df = _events(spark, n=10, days=1)
        with pytest.raises(ValueError, match="transform"):
            storage.write_snapshot_partitioned(
                spark, df, path, [("zigzag", "ts")]
            )
        with pytest.raises(ValueError):
            storage.write_snapshot_partitioned(spark, df, path, [])
        with pytest.raises(ValueError, match="not in frame"):
            storage.write_snapshot_partitioned(
                spark, df, path, [("days", "nope")]
            )
        with pytest.raises(ValueError, match="date/timestamp"):
            storage.write_snapshot_partitioned(
                spark, df, path, [("days", "k")]
            )
        with pytest.raises(ValueError, match="integral or string"):
            storage.write_snapshot_partitioned(
                spark, df, path, [("bucket", "v", 8)]
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_txn_idempotent_skip(spark):
    scratch, path = _mkpath()
    try:
        df = _events(spark, n=20, days=2)
        v1 = storage.write_snapshot_partitioned(
            spark, df, path, [("days", "ts")], txn=("app", 1)
        )
        v2 = storage.write_snapshot_partitioned(
            spark, df, path, [("days", "ts")], mode="append", txn=("app", 1)
        )
        assert v1 == v2 == 1  # redelivered batch skipped
        assert storage.read_snapshot(spark, path).count() == 20
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_cow_delete_rewrites_keep_real_tuples(spark):
    """r12 (r11 verdict #2): DML rewrites route through the hive writer,
    so the rewritten files carry REAL transform tuples — pruning holds
    immediately after a COW delete, no optimize_partitions repair pass
    needed (pre-r12 the rewrite carried a None tuple and the touched
    fraction dropped out of pruning)."""
    scratch, path = _mkpath()
    try:
        df = _events(spark, n=100, days=4)
        storage.write_snapshot_partitioned(spark, df, path, [("days", "ts")])
        # dooms half of day 1 (k in 0,4,..,48); the other half survives
        r = storage.delete_where_snapshot(
            spark, path, "k < 50 AND day(ts) = 1", mode="cow"
        )
        assert r["files_rewritten"] == 1 and r["rows_deleted"] == 13
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        vals = man["partition"]["values"]
        assert len(man["files"]) == 4
        assert all(v is not None for v in vals.values())
        # the rewritten day-1 file re-recorded its day-1 tuple
        day1 = [rel for rel, v in vals.items() if v[1] == ["2024-03-01"]]
        assert len(day1) == 1 and day1[0].split("/")[1] != (
            storage._load_manifest(path, 1)["files"][0].split("/")[1]
        )
        # day-3 predicate prunes to exactly ONE file even after DML
        where = {"ts": ("between", D(2024, 3, 3), D(2024, 3, 3, 23, 59))}
        keep, total = storage.partition_pruned_files(path, where, spark=spark)
        assert total == 4
        assert len(keep) == 1
        got = storage.read_snapshot_partitioned(spark, path, where)
        want = storage.read_snapshot(spark, path).filter(
            F.col("ts").between(D(2024, 3, 3), D(2024, 3, 3, 23, 59))
        )
        assert _sorted(got) == _sorted(want)
        # same invariant after an UPDATE
        storage.update_where_snapshot(
            spark, path, {"k": F.col("k") + 1000}, "day(ts) = 2"
        )
        man2 = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert all(
            v is not None for v in man2["partition"]["values"].values()
        )
        keep2, total2 = storage.partition_pruned_files(
            path, where, spark=spark
        )
        assert total2 == 4 and len(keep2) == 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_spec_evolution_prunes_each_file_by_its_own_spec(spark):
    scratch, path = _mkpath()
    try:
        # epoch 1: daily partitions over March
        df1 = _events(spark, n=100, days=5)
        storage.write_snapshot_partitioned(spark, df1, path, [("days", "ts")])
        # evolve to identity(typ); old files keep their days-tuples
        storage.evolve_partition_spec(path, [("identity", "typ")])
        df2 = _events(spark, n=100, days=5, types=("c", "d")).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 30 DAYS")
        )
        storage.write_snapshot_partitioned(
            spark, df2, path, [("identity", "typ")], mode="append"
        )
        # a ts predicate prunes the OLD (daily) files but keeps every
        # typ-partitioned file; a typ predicate does the reverse
        keep_ts, total = storage.partition_pruned_files(
            path, {"ts": ("between", D(2024, 3, 2), D(2024, 3, 2, 23, 59))},
            spark=spark,
        )
        assert total == 7  # 5 daily + 2 typ files
        assert len(keep_ts) == 3  # 1 of 5 daily + both typ files
        keep_typ, _ = storage.partition_pruned_files(
            path, {"typ": ("=", "c")}, spark=spark
        )
        assert len(keep_typ) == 6  # all 5 daily + 1 of 2 typ files
        # correctness under mixed specs
        got = storage.read_snapshot_partitioned(
            spark, path, {"typ": ("=", "c")}
        )
        want = storage.read_snapshot(spark, path).filter("typ = 'c'")
        assert _sorted(got) == _sorted(want)
        # appending with the superseded spec now errors, naming the verb
        with pytest.raises(ValueError, match="evolve_partition_spec"):
            storage.write_snapshot_partitioned(
                spark, df1, path, [("days", "ts")], mode="append"
            )
        # re-evolving BACK reuses the original spec id
        storage.evolve_partition_spec(path, [("days", "ts")])
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert man["partition"]["current"] == 0
        assert len(man["partition"]["specs"]) == 2
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_evolve_unpartitioned_table_partitions_future_appends(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _events(spark, n=50, days=2), path)
        storage.evolve_partition_spec(path, [("identity", "typ")])
        storage.write_snapshot_partitioned(
            spark,
            _events(spark, n=50, days=2, types=("x", "y")),
            path,
            [("identity", "typ")],
            mode="append",
        )
        keep, total = storage.partition_pruned_files(
            path, {"typ": ("=", "x")}, spark=spark
        )
        # the pre-evolution file(s) have no tuples (always read); only
        # one of the two new files survives alongside them
        assert total - len(keep) == 1
        got = storage.read_snapshot_partitioned(spark, path, {"typ": ("=", "x")})
        want = storage.read_snapshot(spark, path).filter("typ = 'x'")
        assert _sorted(got) == _sorted(want)
        with pytest.raises(ValueError, match="not in committed schema"):
            storage.evolve_partition_spec(path, [("identity", "nope")])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_optimize_partitions_folds_and_repairs(spark):
    scratch, path = _mkpath()
    try:
        spec = [("days", "ts")]
        storage.write_snapshot_partitioned(
            spark, _events(spark, n=80, days=4), path, spec,
            stats_cols=["k"],
        )
        # three more appends: each day accumulates 4 small files
        for _ in range(3):
            storage.write_snapshot_partitioned(
                spark, _events(spark, n=80, days=4), path, spec,
                mode="append", stats_cols=["k"],
            )
        # a COW delete touches every commit's day-1 file; the rewrite
        # folds their survivors into ONE hive-placed file with a REAL
        # day-1 tuple (r12: no None demotion)
        storage.delete_where_snapshot(
            spark, path, "k = 0 AND day(ts) = 1", mode="cow"
        )
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        n_before = len(man["files"])
        assert n_before == 13  # 16 - 4 doomed day-1 files + 1 rewrite
        assert all(
            v is not None for v in man["partition"]["values"].values()
        )
        res = storage.optimize_partitions(
            spark, path,
            {"ts": ("between", D(2024, 3, 1), D(2024, 3, 2, 23, 59))},
        )
        # matched: the folded day-1 file + day 2's four commit files
        assert res["partitions_matched"] == 2
        man2 = storage._load_manifest(path, res["version"])
        # each matched day folded to ONE file; days 3-4 untouched
        assert len(man2["files"]) == 2 + 8
        assert all(
            v is not None for v in man2["partition"]["values"].values()
        ), "optimize_partitions must repair None tuples"
        # stats recollected for the new files
        assert all(rel in man2["stats"] for rel in man2["files"])
        # correctness: same rows as before, minus nothing
        got = _sorted(storage.read_snapshot(spark, path))
        want = _sorted(
            storage.read_snapshot(spark, path, version=res["version"] - 1)
        )
        assert got == want
        # pruning now tighter than before for day 1
        keep, total = storage.partition_pruned_files(
            path, {"ts": ("between", D(2024, 3, 1), D(2024, 3, 1, 23, 59))},
            spark=spark,
        )
        assert len(keep) == 1 and total == 10
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_plain_append_carries_partition_block(spark):
    """ADVICE r11 (medium): write_snapshot(mode='append') on a hidden-
    partitioned table must carry the partition block — carried files
    keep pruning, the flat append's files map to None (degrade, never
    lie), a later PARTITIONED append still finds the spec, and
    optimize_partitions repairs the flat files into real tuples."""
    scratch, path = _mkpath()
    try:
        spec = [("days", "ts")]
        storage.write_snapshot_partitioned(
            spark, _events(spark, n=80, days=4), path, spec
        )
        # plain flat append (no hive layout) — e.g. a generic writer
        flat = _events(spark, n=20, days=2)
        storage.write_snapshot(spark, flat, path, mode="append")
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        part = man.get("partition")
        assert part is not None, "append dropped the partition block"
        assert part["specs"][part["current"]] == [
            {"transform": "days", "col": "ts"}
        ]
        vals = part["values"]
        kept_real = [v for v in vals.values() if v is not None]
        assert len(kept_real) == 4  # the partitioned files keep tuples
        flat_none = [v for v in vals.values() if v is None]
        assert len(flat_none) >= 1  # flat files: never pruned
        # pruning still skips among the partitioned files; flat files
        # always survive (conservative) and the read stays correct
        where = {"ts": ("between", D(2024, 3, 3), D(2024, 3, 3, 23, 59))}
        keep, total = storage.partition_pruned_files(path, where)
        assert len(keep) == 1 + len(flat_none)
        got = storage.read_snapshot_partitioned(spark, path, where)
        want = storage.read_snapshot(spark, path).filter(
            F.col("ts").between(D(2024, 3, 3), D(2024, 3, 3, 23, 59))
        )
        assert _sorted(got) == _sorted(want)
        # a PARTITIONED append still sees the spec (pre-fix it thought
        # the table was unpartitioned)
        storage.write_snapshot_partitioned(
            spark, _events(spark, n=20, days=1), path, spec, mode="append"
        )
        # and the repair pass gives the flat files real tuples
        storage.optimize_partitions(
            spark, path,
            {"ts": ("between", D(2024, 3, 1), D(2024, 3, 4, 23, 59))},
        )
        man2 = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert all(
            v is not None for v in man2["partition"]["values"].values()
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_optimize_partitions_materializes_dvs_and_no_match_noop(spark):
    scratch, path = _mkpath()
    try:
        spec = [("identity", "typ")]
        storage.write_snapshot_partitioned(
            spark, _events(spark, n=60, days=3), path, spec
        )
        storage.delete_where_snapshot(spark, path, "k % 3 = 0", mode="dv")
        v_before = storage.snapshot_versions(path)[-1]
        res = storage.optimize_partitions(spark, path, {"typ": ("=", "a")})
        man = storage._load_manifest(path, res["version"])
        # the rewritten partition's DV died with its file; b's DV carries
        assert all("dv" not in man or rel not in (man.get("dv") or {})
                   for rel in man["files"]
                   if man["partition"]["values"][rel][1] == ["a"])
        got = _sorted(storage.read_snapshot(spark, path))
        want = _sorted(storage.read_snapshot(spark, path, version=v_before))
        assert got == want
        res2 = storage.optimize_partitions(spark, path, {"typ": ("=", "zz")})
        assert res2["files_rewritten"] == 0
        assert storage.snapshot_versions(path)[-1] == res["version"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_compaction_verbs_carry_partition_block(spark):
    scratch, path = _mkpath()
    try:
        spec = [("days", "ts")]
        storage.write_snapshot_partitioned(
            spark, _events(spark, n=40, days=2), path, spec
        )
        storage.write_snapshot_partitioned(
            spark, _events(spark, n=40, days=2), path, spec, mode="append"
        )
        storage.compact_small_files_snapshot(
            spark, path, min_file_bytes=1 << 30
        )
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert "partition" in man  # block survives, new files tupled
        assert all(v is not None for v in man["partition"]["values"].values())
        got = storage.read_snapshot_partitioned(
            spark, path,
            {"ts": ("between", D(2024, 3, 1), D(2024, 3, 1, 23, 59))},
        )
        want = storage.read_snapshot(spark, path).filter(
            F.col("ts").between(D(2024, 3, 1), D(2024, 3, 1, 23, 59))
        )
        assert _sorted(got) == _sorted(want)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_optimize_snapshot_keeps_partition_spec(spark):
    """A whole-table Z-order OPTIMIZE of a hidden-partitioned table keeps
    its spec: every rewritten file carries a real tuple, partitioned
    reads stay exact, and partition-scoped maintenance still runs."""
    scratch, path = _mkpath()
    try:
        def rows(keys):
            return spark.createDataFrame(
                [Row(k=k, g="a" if k % 3 else "b", v=float(k)) for k in keys],
                "k bigint, g string, v double",
            )

        spec = [("identity", "g")]
        storage.write_snapshot_partitioned(spark, rows(range(12)), path, spec)
        storage.write_snapshot_partitioned(
            spark, rows(range(12, 20)), path, spec, mode="append"
        )
        before = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        v = storage.optimize_snapshot(spark, path, ["k"], n_shards=2)
        man = storage._load_manifest(path, v)
        assert man.get("partition") is not None
        assert man["partition"]["specs"] == before["partition"]["specs"]
        vals = man["partition"]["values"]
        assert set(vals) == set(man["files"])
        assert all(
            vals[rel] is not None and None not in vals[rel][1]
            for rel in man["files"]
        )
        where = {"g": ("=", "a")}
        got = storage.read_snapshot_partitioned(spark, path, where)
        want = storage.read_snapshot(spark, path).filter(F.col("g") == "a")
        assert _sorted(got) == _sorted(want)
        assert len(_sorted(want)) == len([k for k in range(20) if k % 3])
        res = storage.optimize_partitions(spark, path, where)
        assert res["version"] == v + 1 and res["partitions_matched"] == 1
        assert _sorted(storage.read_snapshot(spark, path)) == _sorted(
            rows(range(20))
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_vacuum_spares_live_partitioned_files(spark):
    """Regression (r11): vacuum's data-file globs must recurse — a
    hive-partitioned commit nests its parquet under _p<i>=... subdirs,
    and the one-level glob saw that token dir as EMPTY and rmtree'd it
    with live data inside."""
    scratch, path = _mkpath()
    try:
        spec = [("days", "ts")]
        storage.write_snapshot_partitioned(
            spark, _events(spark, n=40, days=2), path, spec
        )
        storage.write_snapshot_partitioned(
            spark, _events(spark, n=40, days=2).withColumn(
                "k", F.col("k") + 100
            ), path, spec
        )  # overwrite: v1's files become unreferenced
        want = _sorted(storage.read_snapshot(spark, path))
        removed = storage.vacuum_snapshots(path, keep_last=1)
        assert removed > 0  # v1's nested files WERE reclaimed
        assert _sorted(storage.read_snapshot(spark, path)) == want
        # pruning still works after the vacuum
        got = storage.read_snapshot_partitioned(
            spark, path,
            {"ts": ("between", D(2024, 3, 1), D(2024, 3, 1, 23, 59))},
        )
        assert got.count() > 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_driver_side_xxhash64_matches_jvm(spark):
    """r12: bucket-predicate pruning hashes literals DRIVER-SIDE
    (storage.xxhash64_long / xxhash64_bytes — the pure-python XXH64
    twin of Spark's expression, seed 42). Pin exact parity with the JVM
    for longs and strings across the algorithm's length regimes (<4,
    <8, <32, >=32 bytes, multi-block), so write-side hive values and
    read-side predicate buckets can never disagree."""
    ints = [0, 1, -1, 42, 2**31, -(2**63), 2**63 - 1, 123456789,
            -987654321, 2**40 + 7]
    jvm = [
        r[0] for r in spark.createDataFrame(
            [(i,) for i in ints], "v long"
        ).select(F.xxhash64("v")).collect()
    ]
    for i, h in zip(ints, jvm):
        mine = storage.xxhash64_long(i)
        if mine >= 1 << 63:
            mine -= 1 << 64
        assert mine == h, i
    strs = ["", "a", "abc", "abcd", "abcdefg", "abcdefgh",
            "hello-world-123", "x" * 31, "y" * 32, "z" * 33,
            "q" * 100, "ünïcødé-строка-日本語"]
    jvm = [
        r[0] for r in spark.createDataFrame(
            [(s,) for s in strs], "v string"
        ).select(F.xxhash64("v")).collect()
    ]
    for s, h in zip(strs, jvm):
        mine = storage.xxhash64_bytes(s.encode("utf-8"))
        if mine >= 1 << 63:
            mine -= 1 << 64
        assert mine == h, s
    # and the bucket form against the exact write-side expression
    jvm_b = [
        r[0] for r in spark.createDataFrame(
            [(i,) for i in ints], "v long"
        ).select(
            F.pmod(F.xxhash64(F.col("v").cast("long")), F.lit(7))
            .cast("long")
        ).collect()
    ]
    for i, b in zip(ints, jvm_b):
        assert storage._bucket_of(i, 7) == b, i


def test_optimize_partitions_target_size_fanout(spark):
    """r13 (r12 verdict #6): the partition-scoped fold splits by a
    target byte budget — a hot partition holding >2x the target folds
    to >=2 files (pre-r13 it always folded each tuple to ONE file, a
    monster at 100x scale); a partition under the target still folds
    to one; target_file_bytes=None restores the one-file fold."""
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    scratch, path = _mkpath()
    try:
        # hot partition g='h': ~40k rows of ~100B strings; cold: 10 rows
        hot = spark.createDataFrame(
            [Row(k=i, g="h", s="x" * 100) for i in range(40_000)],
            "k bigint, g string, s string",
        )
        cold = spark.createDataFrame(
            [Row(k=i, g="c", s="y") for i in range(10)],
            "k bigint, g string, s string",
        )
        spec = [("identity", "g")]
        storage.write_snapshot_partitioned(spark, hot, path, spec)
        storage.write_snapshot_partitioned(
            spark, cold, path, spec, mode="append"
        )
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        hot_bytes = sum(
            os.path.getsize(os.path.join(path, rel))
            for rel, ent in man["partition"]["values"].items()
            if ent and ent[1] == ["h"]
        )
        target = hot_bytes // 3  # hot holds >2x the target
        res = storage.optimize_partitions(
            spark, path, {"g": ("in", ["h", "c"])},
            target_file_bytes=target,
        )
        man = storage._load_manifest(path, res["version"])
        by_tuple = {"h": [], "c": []}
        for rel, ent in man["partition"]["values"].items():
            by_tuple[ent[1][0]].append(rel)
        assert len(by_tuple["h"]) >= 2, "hot partition did not split"
        assert len(by_tuple["c"]) == 1, "cold partition over-split"
        # rows survive the fan-out exactly
        n = sum(
            pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
            for rel in by_tuple["h"]
        )
        assert n == 40_000
        # None restores the one-file-per-tuple fold
        res = storage.optimize_partitions(
            spark, path, {"g": ("=", "h")}, target_file_bytes=None
        )
        man = storage._load_manifest(path, res["version"])
        hrels = [
            rel for rel, ent in man["partition"]["values"].items()
            if ent and ent[1] == ["h"]
        ]
        assert len(hrels) == 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_dml_partition_where_prunes_probe(spark):
    """r13: DELETE/UPDATE with partition_where probe ONLY the matching
    partitions' files on a hidden-partitioned table (files_probed
    shrinks), with results identical to the unrestricted verb; pruning
    to nothing is a no-op commit; no-tuple files always probe."""
    from pyspark.sql import Row

    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [Row(k=i, g="abc"[i % 3], v=float(i)) for i in range(30)],
            "k bigint, g string, v double",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("identity", "g")]
        )
        n_files = len(storage._load_manifest(path, 1)["files"])
        r = storage.delete_where_snapshot(
            spark, path, "g = 'a' AND k < 10",
            partition_where={"g": ("=", "a")},
        )
        assert r["rows_deleted"] == 4  # k in {0,3,6,9}
        assert 0 < r["files_probed"] < n_files
        got = sorted(
            x["k"] for x in storage.read_snapshot(spark, path).collect()
        )
        assert got == [k for k in range(30) if not ("abc"[k % 3] == "a" and k < 10)]
        # UPDATE twin
        r = storage.update_where_snapshot(
            spark, path, {"v": F.lit(0.0)}, "g = 'b'",
            partition_where={"g": ("=", "b")},
        )
        assert r["rows_updated"] == 10
        assert r["files_probed"] < len(
            storage._load_manifest(path, 2)["files"]
        )
        # pruned-to-nothing: no-op, no commit
        before = storage.snapshot_versions(path)[-1]
        r = storage.delete_where_snapshot(
            spark, path, "g = 'z'", partition_where={"g": ("=", "z")}
        )
        assert r["rows_deleted"] == 0 and r["files_probed"] == 0
        assert storage.snapshot_versions(path)[-1] == before
        # DV mode prunes the same probe
        r = storage.delete_where_snapshot(
            spark, path, "g = 'c' AND k = 2", mode="dv",
            partition_where={"g": ("=", "c")},
        )
        assert r["rows_deleted"] == 1 and r["files_rewritten"] == 0
        assert storage.read_snapshot(spark, path).filter(
            "k = 2"
        ).count() == 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_partition_where_prunes_probe(spark):
    """r13: MERGE INTO with partition_where probes only the matching
    partitions' files; clause results identical to the unrestricted
    merge when the caller contract (source keys confined to matching
    partitions) holds."""
    from pyspark.sql import Row

    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [Row(k=i, g="ab"[i % 2], v=float(i)) for i in range(20)],
            "k bigint, g string, v double",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("identity", "g")]
        )
        src = spark.createDataFrame(
            [Row(k=2, g="a", v=200.0), Row(k=100, g="a", v=100.0)],
            "k bigint, g string, v double",
        )
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"],
            update_set={"v": "src_v"}, insert=True,
            partition_where={"g": ("=", "a")},
        )
        man = storage._load_manifest(path, v)
        got = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got[2] == 200.0 and got[100] == 100.0 and len(got) == 21
        # the excluded partition's file carried byte-identical
        v1 = storage._load_manifest(path, 1)
        b_files = {
            rel for rel, ent in v1["partition"]["values"].items()
            if ent and ent[1] == ["b"]
        }
        assert b_files <= set(man["files"])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
