"""Pins for HIDDEN PARTITIONING on MOR tables (r14 — r13 verdict #2/#4):
delta groups route through the hive writer and carry real partition
tuples; partitioned reads prune base AND chain before the latest-wins
window; partition-scoped OPTIMIZE folds only matched partitions'
chains; the change feed admits MOR groups exactly by tuple.

Soundness invariant under test everywhere: a MOR partition spec's
sources are KEY columns, so a key's tuple is constant across all its
commits — tuple-matched file sets are key-closed.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row

from dp_dimension_importer_spark import storage


def _mkpath():
    scratch = tempfile.mkdtemp(prefix="morpart_test_")
    return scratch, os.path.join(scratch, "t")


def _rows(spark, triples):
    return spark.createDataFrame(
        [Row(k=k, region=r, val=v, seq=s) for k, r, v, s in triples],
        "k bigint, region string, val double, seq bigint",
    )


def _base(spark, path, n=40, spec=(("identity", "region"),)):
    df = _rows(
        spark, [(i, f"r{i % 4}", float(i), 0) for i in range(n)]
    )
    storage.write_snapshot_partitioned(
        spark, df, path, list(spec), stats_cols=["k", "region"]
    )
    return df


def _live_rels(man):
    return list(man["files"]) + [
        rel for grp in (man.get("mor") or {}).get("deltas", []) for rel in grp
    ]


def _latest(path):
    return storage._load_manifest(path, storage.snapshot_versions(path)[-1])


def _resolved(spark, path):
    return sorted(map(tuple, storage.read_snapshot(spark, path).collect()))


def test_delta_commits_carry_real_tuples(spark):
    scratch, path = _mkpath()
    try:
        _base(spark, path)
        ch = _rows(spark, [(1, "r1", 100.0, 1), (41, "r1", 41.0, 1),
                           (2, "r2", 200.0, 1)])
        storage.upsert_delta_snapshot(
            spark, path, ch, ["region", "k"], "seq"
        )
        man = _latest(path)
        vals = man["partition"]["values"]
        delta_rels = man["mor"]["deltas"][0]
        assert delta_rels, "delta group empty"
        tuples = {tuple(vals[rel][1]) for rel in delta_rels}
        assert tuples == {("r1",), ("r2",)}
        # every live file has a real tuple (the fold-closure invariant)
        assert all(vals.get(rel) is not None for rel in _live_rels(man))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_partitioned_mor_read_prunes_and_matches_filter(spark):
    scratch, path = _mkpath()
    try:
        _base(spark, path)
        storage.upsert_delta_snapshot(
            spark, path,
            _rows(spark, [(1, "r1", 100.0, 1), (5, "r1", 500.0, 1)]),
            ["region", "k"], "seq",
        )
        storage.delete_where_snapshot(spark, path, "k = 9")  # r1 tombstone
        pruned = storage.read_snapshot_partitioned(
            spark, path, {"region": ("=", "r1")}
        )
        full = storage.read_snapshot(spark, path).filter("region = 'r1'")
        assert sorted(map(tuple, pruned.collect())) == sorted(
            map(tuple, full.collect())
        )
        # file-level pin: only r1's base + chain files are opened
        for f in pruned.inputFiles():
            assert "_p0=r1" in f, f"pruned MOR read opened {f}"
        man = _latest(path)
        n_live = len(_live_rels(man))
        assert len(pruned.inputFiles()) < n_live
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_upsert_refuses_non_key_partition_spec(spark):
    scratch, path = _mkpath()
    try:
        _base(spark, path)  # partitioned by region
        ch = _rows(spark, [(1, "r1", 100.0, 1)])
        with pytest.raises(ValueError, match="non-key"):
            storage.upsert_delta_snapshot(spark, path, ch, ["k"], "seq")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_evolve_spec_on_mor_key_cols_only(spark):
    scratch, path = _mkpath()
    try:
        df = _rows(
            spark, [(i, f"r{i % 4}", float(i), 0) for i in range(20)]
        )
        storage.write_snapshot(spark, df, path, stats_cols=["k", "region"])
        storage.upsert_delta_snapshot(
            spark, path, _rows(spark, [(1, "r1", 100.0, 1)]),
            ["region", "k"], "seq",
        )
        with pytest.raises(ValueError, match="KEY columns only"):
            storage.evolve_partition_spec(path, [("identity", "val")])
        storage.evolve_partition_spec(path, [("identity", "region")])
        # existing files have no tuples; NEW deltas carry them
        storage.upsert_delta_snapshot(
            spark, path, _rows(spark, [(2, "r2", 200.0, 1)]),
            ["region", "k"], "seq",
        )
        man = _latest(path)
        vals = man["partition"]["values"]
        last = man["mor"]["deltas"][-1]
        assert all(vals.get(rel) is not None for rel in last)
        assert any(
            vals.get(rel) is None
            for rel in man["files"] + man["mor"]["deltas"][0]
        )
        # partitioned read still equals filter (untupled files survive)
        pruned = storage.read_snapshot_partitioned(
            spark, path, {"region": ("=", "r2")}
        )
        full = storage.read_snapshot(spark, path).filter("region = 'r2'")
        assert sorted(map(tuple, pruned.collect())) == sorted(
            map(tuple, full.collect())
        )
        # ... but the partition-scoped fold refuses (closure unknown)
        with pytest.raises(ValueError, match="tuple on"):
            storage.optimize_partitions(
                spark, path, {"region": ("=", "r2")}
            )
        # a full major compaction repairs: all files re-tupled
        storage.compact_mor(spark, path)
        man2 = _latest(path)
        assert "mor" not in man2
        assert all(
            man2["partition"]["values"].get(rel) is not None
            for rel in man2["files"]
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _chain_fixture(spark, path):
    """base + 3 upsert groups + a tombstone group, all tupled."""
    _base(spark, path)
    for s in (1, 2, 3):
        storage.upsert_delta_snapshot(
            spark, path,
            _rows(
                spark,
                [(i, f"r{i % 4}", float(100 * s + i), s)
                 for i in range(s, 40, 7)],
            ),
            ["region", "k"], "seq",
        )
    storage.delete_where_snapshot(spark, path, "k = 14")  # r2


def test_optimize_partitions_mor_minor_structural(spark):
    scratch, path = _mkpath()
    try:
        _chain_fixture(spark, path)
        before = _resolved(spark, path)
        man0 = _latest(path)
        vals0 = man0["partition"]["values"]
        untouched = {
            rel: os.path.getsize(os.path.join(path, rel))
            for rel in _live_rels(man0)
            if vals0[rel][1] != ["r1"]
        }
        res = storage.optimize_partitions(
            spark, path, {"region": ("=", "r1")}, minor=True
        )
        assert res["partitions_matched"] == 1
        assert res["files_rewritten"] > 0
        man1 = _latest(path)
        # base byte-identical everywhere; unmatched chain files intact
        assert man1["files"] == man0["files"]
        for rel, sz in untouched.items():
            assert os.path.getsize(os.path.join(path, rel)) == sz, rel
            assert rel in _live_rels(man1)
        # r1's chain folded to one group's worth of files at the end
        r1_chain = [
            rel
            for grp in man1["mor"]["deltas"]
            for rel in grp
            if man1["partition"]["values"][rel][1] == ["r1"]
        ]
        assert r1_chain and set(r1_chain) <= set(
            man1["mor"]["deltas"][-1]
        )
        assert _resolved(spark, path) == before
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_optimize_partitions_mor_major_materializes_matched(spark):
    scratch, path = _mkpath()
    try:
        _chain_fixture(spark, path)
        before = _resolved(spark, path)
        man0 = _latest(path)
        vals0 = man0["partition"]["values"]
        untouched = {
            rel: os.path.getsize(os.path.join(path, rel))
            for rel in _live_rels(man0)
            if vals0[rel][1] != ["r2"]
        }
        res = storage.optimize_partitions(
            spark, path, {"region": ("=", "r2")}
        )
        assert res["partitions_matched"] == 1
        man1 = _latest(path)
        # r2 is now base-only (tombstone for k=14 shed with the chain)
        vals1 = man1["partition"]["values"]
        r2_chain = [
            rel
            for grp in man1["mor"]["deltas"]
            for rel in grp
            if vals1[rel][1] == ["r2"]
        ]
        assert r2_chain == []
        for rel, sz in untouched.items():
            assert os.path.getsize(os.path.join(path, rel)) == sz, rel
            assert rel in _live_rels(man1)
        assert _resolved(spark, path) == before
        assert all(t[0] != 14 for t in _resolved(spark, path))
        # stats carried/harvested for pruned reads
        assert set(_live_rels(man1)) <= set(man1["stats"])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_dml_partition_where_parity_and_probe_pruning(spark):
    """partition_where on partitioned-MOR DELETE/UPDATE/MERGE: same
    result as the unpruned verb, fewer files probed."""
    scratch, path = _mkpath()
    scratch2, path2 = _mkpath()
    try:
        _chain_fixture(spark, path)
        _chain_fixture(spark, path2)
        pw = {"region": ("=", "r1")}
        r_a = storage.delete_where_snapshot(
            spark, path, "region = 'r1' AND k < 10"
        )
        r_b = storage.delete_where_snapshot(
            spark, path2, "region = 'r1' AND k < 10", partition_where=pw
        )
        assert r_b["files_probed"] < r_a["files_probed"]
        assert _resolved(spark, path) == _resolved(spark, path2)
        u_a = storage.update_where_snapshot(
            spark, path, {"val": "val + 0.5"}, "region = 'r1'"
        )
        u_b = storage.update_where_snapshot(
            spark, path2, {"val": "val + 0.5"}, "region = 'r1'",
            partition_where=pw,
        )
        assert u_b["files_probed"] < u_a["files_probed"]
        assert u_a["rows_updated"] == u_b["rows_updated"] > 0
        assert _resolved(spark, path) == _resolved(spark, path2)
        src = _rows(
            spark, [(13, "r1", 999.0, 9), (401, "r1", 401.0, 9)]
        )
        storage.merge_into_snapshot(
            spark, path, src, ["region", "k"],
            update_set={"val": "src_val"}, insert=True,
        )
        storage.merge_into_snapshot(
            spark, path2, src, ["region", "k"],
            update_set={"val": "src_val"}, insert=True,
            partition_where=pw,
        )
        assert _resolved(spark, path) == _resolved(spark, path2)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(scratch2, ignore_errors=True)


def test_changefeed_admits_mor_groups_exactly_by_tuple(spark):
    """r14: a partitioned-MOR delta commit's files are admitted by
    TUPLE, not stat range — a one-region consumer reads only its
    region's delta files."""
    from dp_dimension_importer_spark.streaming import changefeed

    scratch, path = _mkpath()
    try:
        _base(spark, path, n=16)
        storage.upsert_delta_snapshot(
            spark, path,
            _rows(
                spark,
                [(i, f"r{i % 4}", float(1000 + i), 1) for i in range(16)],
            ),
            ["region", "k"], "seq",
        )
        man = _latest(path)
        grp = man["mor"]["deltas"][0]
        admitted = changefeed._admit_partition_files(
            man, list(grp), {"region": ("=", "r3")}
        )
        vals = man["partition"]["values"]
        assert admitted and all(
            vals[rel][1] == ["r3"] for rel in admitted
        )
        assert len(admitted) < len(grp)
        # end-to-end: the feed delivers exactly r3's rows of both commits
        feed = changefeed.read_changes_stream(
            spark, path, ["region", "k"],
            partition_where={"region": ("=", "r3")},
        )
        q = (
            feed.writeStream.format("memory")
            .queryName("cf_morpw")
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="cf_ck_"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM cf_morpw").collect()
        assert {r["region"] for r in got} == {"r3"}
        ks = sorted(r["k"] for r in got)
        assert ks == sorted(
            [i for i in range(16) if i % 4 == 3] * 2
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_stream_mor_upsert_into_partitioned_table(spark):
    """q87's production shape: the streaming CDC sink (foreachBatch →
    upsert_delta_snapshot with txn) lands tupled delta groups on a
    hidden-partitioned MOR table, idempotently under redelivery."""
    scratch, path = _mkpath()
    try:
        _base(spark, path, n=8)
        # drive upsert_delta_snapshot directly with txn (the sink's
        # exact contract) — a batch plus its redelivery
        b1 = _rows(spark, [(1, "r1", 11.0, 1), (2, "r2", 22.0, 1)])
        v1 = storage.upsert_delta_snapshot(
            spark, path, b1, ["region", "k"], "seq", txn=("app", 0)
        )
        v_redeliver = storage.upsert_delta_snapshot(
            spark, path, b1, ["region", "k"], "seq", txn=("app", 0)
        )
        assert v_redeliver == v1  # idempotent skip keeps the chain flat
        man = _latest(path)
        assert len(man["mor"]["deltas"]) == 1
        vals = man["partition"]["values"]
        assert all(
            vals.get(rel) is not None
            for rel in man["mor"]["deltas"][0]
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_empty_mor_commits_leave_no_data_dirs(spark):
    """Empty upserts, an empty MERGE and a DELETE matching nothing on a
    partitioned MOR table commit nothing and leave no directory under
    ``data/`` (the hive writer mints its own directory per write)."""
    scratch, path = _mkpath()
    try:
        _base(spark, path)
        keys = ["region", "k"]
        storage.upsert_delta_snapshot(
            spark, path, _rows(spark, [(1, "r1", 100.0, 1)]), keys, "seq"
        )
        data = os.path.join(path, "data")
        before = sorted(os.listdir(data))
        head = storage.snapshot_versions(path)[-1]
        empty = _rows(spark, [])
        for _ in range(3):
            assert storage.upsert_delta_snapshot(
                spark, path, empty, keys, "seq"
            ) == head
        assert storage.merge_into_snapshot(
            spark, path, empty, keys, update_set={"val": "src_val"},
        ) == head
        r = storage.delete_where_snapshot(spark, path, "k < 0")
        assert r["version"] == head and r["delta_files_written"] == 0
        assert storage.snapshot_versions(path)[-1] == head
        assert sorted(os.listdir(data)) == before
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
