"""DML on MOR tables (r13, r12 verdict #1 — the interop wall): DELETE
and MERGE INTO land as DELTA-GROUP commits carrying op='D' tombstones
(Hudi delete-marker / Delta CDF semantics), so the streaming-CDC
substrate accepts the full verb set with ZERO base-file rewrites.

Every test states its exact expected table contents; the structural
pins assert the base file list rides byte-identical through each DML
commit (the MOR property the verbs exist for).
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
    scratch = tempfile.mkdtemp(prefix="mor_dml_")
    return scratch, os.path.join(scratch, "t")


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, val=v, seq=s) for k, v, s in rows],
        "k bigint, val string, seq bigint",
    )


def _man(path, v=None):
    v = v if v is not None else storage.snapshot_versions(path)[-1]
    with open(os.path.join(path, "_manifests", f"v{v}.json")) as f:
        return json.load(f)


def _rows(spark, path, **kw):
    return sorted(
        (r["k"], r["val"])
        for r in storage.read_snapshot(spark, path, **kw)
        .select("k", "val").collect()
    )


def _mor_table(spark, path):
    """v1 base {1,2,3}, v2 delta upserts k=2 and inserts k=4."""
    storage.write_snapshot(
        spark, _df(spark, [(1, "a", 0), (2, "b", 0), (3, "c", 0)]), path
    )
    storage.upsert_delta_snapshot(
        spark, path, _df(spark, [(2, "b2", 1), (4, "d", 1)]),
        key_cols=["k"], seq_col="seq",
    )


def test_mor_delete_lands_as_tombstone_group(spark):
    scratch, path = _mkpath()
    try:
        _mor_table(spark, path)
        base_files = _man(path)["files"]
        r = storage.delete_where_snapshot(spark, path, "k = 2")
        assert r["rows_deleted"] == 1 and r["files_rewritten"] == 0
        man = _man(path)
        # base file list byte-identical; chain grew by ONE group
        assert man["files"] == base_files
        assert len(man["mor"]["deltas"]) == 2
        assert man["mor"]["op_col"] == storage.MOR_OP_COL
        assert _rows(spark, path) == [(1, "a"), (3, "c"), (4, "d")]
        # prior versions untouched (snapshot isolation)
        assert _rows(spark, path, version=2) == [
            (1, "a"), (2, "b2"), (3, "c"), (4, "d")
        ]
        # deleting an already-deleted / absent key is a no-op commit
        r2 = storage.delete_where_snapshot(spark, path, "k = 2")
        assert r2["rows_deleted"] == 0
        assert r2["version"] == r["version"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_delete_judges_latest_value_and_reinsert_wins(spark):
    scratch, path = _mkpath()
    try:
        _mor_table(spark, path)
        # k=2's LATEST value is 'b2' — a predicate on the superseded
        # base value must match nothing
        r = storage.delete_where_snapshot(spark, path, "val = 'b'")
        assert r["rows_deleted"] == 0
        storage.delete_where_snapshot(spark, path, "val = 'b2'")
        assert _rows(spark, path) == [(1, "a"), (3, "c"), (4, "d")]
        # a LATER upsert re-inserts the tombstoned key
        storage.upsert_delta_snapshot(
            spark, path, _df(spark, [(2, "b3", 9)]),
            key_cols=["k"], seq_col="seq",
        )
        assert _rows(spark, path) == [
            (1, "a"), (2, "b3"), (3, "c"), (4, "d")
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_compactions_respect_tombstones(spark):
    scratch, path = _mkpath()
    try:
        _mor_table(spark, path)
        storage.delete_where_snapshot(spark, path, "k = 2")
        base_files = _man(path)["files"]
        # MINOR: folds the chain, base untouched, tombstone still masks
        storage.compact_mor(spark, path, minor=True)
        man = _man(path)
        assert man["files"] == base_files
        assert len(man["mor"]["deltas"]) == 1
        assert _rows(spark, path) == [(1, "a"), (3, "c"), (4, "d")]
        # a key wholly inside the folded chain (k=4) also survives
        # MAJOR: sheds the chain AND the tombstones
        storage.compact_mor(spark, path)
        man = _man(path)
        assert "mor" not in man
        assert _rows(spark, path) == [(1, "a"), (3, "c"), (4, "d")]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_merge_into_one_delta_group(spark):
    scratch, path = _mkpath()
    try:
        _mor_table(spark, path)
        base_files = _man(path)["files"]
        src = spark.createDataFrame(
            [
                Row(k=1, val="A", seq=5),    # matched -> update
                Row(k=2, val=None, seq=5),   # matched -> delete (val null)
                Row(k=9, val="i", seq=5),    # not matched -> insert
            ],
            "k bigint, val string, seq bigint",
        )
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"],
            update_set={"val": "upper(src_val)"},
            delete_condition="src_val IS NULL",
            insert=True,
        )
        man = _man(path, v)
        assert man["files"] == base_files, "merge touched base files"
        assert len(man["mor"]["deltas"]) == 2, "merge must land ONE group"
        assert _rows(spark, path) == [
            (1, "A"), (3, "c"), (4, "d"), (9, "i")
        ]
        # untouched keys (3, 4) were NOT re-materialized: the merge's
        # delta group holds only the update, the insert, the tombstone
        grp = man["mor"]["deltas"][-1]
        import pyarrow.parquet as pq

        n = sum(
            pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
            for rel in grp
        )
        assert n == 3
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_merge_validations(spark):
    scratch, path = _mkpath()
    try:
        _mor_table(spark, path)
        dup = _df(spark, [(1, "x", 1), (1, "y", 2)])
        with pytest.raises(ValueError, match="duplicate keys"):
            storage.merge_into_snapshot(spark, path, dup, ["k"])
        # merge keys must be the MOR keys (tombstones resolve per key)
        with pytest.raises(ValueError, match="MOR key columns"):
            storage.merge_into_snapshot(
                spark, path, _df(spark, [(1, "x", 1)]), ["val"]
            )
        # a merge matching nothing and inserting nothing commits nothing
        before = storage.snapshot_versions(path)[-1]
        v = storage.merge_into_snapshot(
            spark, path, _df(spark, [(99, "z", 1)]), ["k"],
            update_set={"val": "src_val"}, insert=False,
        )
        assert v == before
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_delete_prunes_by_key_stats(spark):
    scratch, path = _mkpath()
    try:
        base = spark.createDataFrame(
            [Row(k=i, val=f"v{i}", seq=0) for i in range(100)],
            "k bigint, val string, seq bigint",
        ).repartitionByRange(4, "k")
        storage.write_snapshot(spark, base, path, stats_cols=["k"])
        storage.upsert_delta_snapshot(
            spark, path,
            spark.createDataFrame(
                [Row(k=5, val="x", seq=1)], "k bigint, val string, seq bigint"
            ),
            key_cols=["k"], seq_col="seq",
        )
        n_total = len(_man(path)["files"]) + 1
        r = storage.delete_where_snapshot(
            spark, path, "k BETWEEN 3 AND 7", prune=("k", 3, 7)
        )
        assert r["rows_deleted"] == 5
        assert r["files_probed"] < n_total, "key stats did not prune"
        got = sorted(
            x["k"] for x in storage.read_snapshot(spark, path).collect()
        )
        assert got == [i for i in range(100) if not 3 <= i <= 7]
        # non-key prune column refuses (unsound on a chain)
        with pytest.raises(ValueError, match="key column"):
            storage.delete_where_snapshot(
                spark, path, "k = 1", prune=("val", "a", "z")
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_dml_version_delta_and_reserved_name(spark):
    scratch, path = _mkpath()
    try:
        _mor_table(spark, path)
        r = storage.delete_where_snapshot(spark, path, "k = 2")
        d = storage.version_delta(
            spark, path, r["version"], ["k"]
        ).collect()
        assert len(d) == 1
        row = d[0]
        assert (row["k"], row["change_type"]) == (2, "delete")
        assert row["_old"]["val"] == "b2" and row["_new"] is None
        # user schema colliding with the op column refuses at the seam
        bad = spark.createDataFrame(
            [Row(k=1, _mor_op="x", seq=0)],
            "k bigint, _mor_op string, seq bigint",
        )
        p2 = os.path.join(scratch, "t2")
        storage.write_snapshot(spark, bad, p2)
        with pytest.raises(ValueError, match="reserved"):
            storage.upsert_delta_snapshot(
                spark, p2, bad, key_cols=["k"], seq_col="seq"
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_widen_and_drop_metadata_only(spark):
    """r13 (r12 verdict #3): type widening and DROP COLUMN are
    metadata-only commits on MOR tables too — narrow old groups upcast
    in the resolve's projection (per-group reads are schema-consistent,
    no forced footer games), dropped columns stop projecting, and a
    delta reusing a dropped name refuses (stale-byte resurrection)."""
    scratch, path = _mkpath()
    try:
        base = spark.createDataFrame(
            [Row(k=1, n=10, note="x", seq=0), Row(k=2, n=20, note="y", seq=0)],
            "k bigint, n int, note string, seq bigint",
        )
        storage.write_snapshot(spark, base, path)
        storage.upsert_delta_snapshot(
            spark, path,
            spark.createDataFrame(
                [Row(k=2, n=25, note="y2", seq=1)],
                "k bigint, n int, note string, seq bigint",
            ),
            key_cols=["k"], seq_col="seq",
        )
        pre_files = _man(path)["files"]
        storage.widen_column_type(path, "n", "bigint")
        # post-widen delta arrives WIDE; old narrow groups upcast
        storage.upsert_delta_snapshot(
            spark, path,
            spark.createDataFrame(
                [Row(k=3, n=3_000_000_000, note="z", seq=2)],
                "k bigint, n bigint, note string, seq bigint",
            ),
            key_cols=["k"], seq_col="seq",
        )
        got = storage.read_snapshot(spark, path)
        assert dict(got.dtypes)["n"] == "bigint"
        assert sorted((r["k"], r["n"]) for r in got.collect()) == [
            (1, 10), (2, 25), (3, 3_000_000_000)
        ]
        # narrow delta now refuses (drift check speaks the wide type)
        with pytest.raises(ValueError, match="drift"):
            storage.upsert_delta_snapshot(
                spark, path,
                spark.createDataFrame(
                    [Row(k=4, n=1, seq=3)], "k bigint, n int, seq bigint"
                ),
                key_cols=["k"], seq_col="seq",
            )
        # DROP a value column: metadata-only, base untouched
        storage.drop_column(path, "note")
        man = _man(path)
        assert man["files"] == pre_files
        assert "note" in man["dropped"]
        got = storage.read_snapshot(spark, path)
        assert "note" not in got.columns
        # a delta reusing the dropped name refuses
        with pytest.raises(ValueError, match="DROPPED"):
            storage.upsert_delta_snapshot(
                spark, path,
                spark.createDataFrame(
                    [Row(k=5, n=5, note="boo", seq=4)],
                    "k bigint, n bigint, note string, seq bigint",
                ),
                key_cols=["k"], seq_col="seq",
            )
        # dropping the MOR key/seq refuses (the chain resolves by them)
        with pytest.raises(ValueError, match="key/seq"):
            storage.drop_column(path, "k")
        with pytest.raises(ValueError, match="key/seq"):
            storage.drop_column(path, "seq")
        # DML still green post-evolution
        r = storage.delete_where_snapshot(spark, path, "n = 25")
        assert r["rows_deleted"] == 1
        assert sorted(
            x["k"] for x in storage.read_snapshot(spark, path).collect()
        ) == [1, 3]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_update_where_delta_group(spark):
    """r13: UPDATE on MOR lands matched rows' updated images as one
    plain upsert group — RHS sees PRE-update values, zero base
    rewrites, NULL predicate keeps."""
    scratch, path = _mkpath()
    try:
        _mor_table(spark, path)
        pre_files = _man(path)["files"]
        r = storage.update_where_snapshot(
            spark, path, {"val": F.concat(F.col("val"), F.lit("!"))},
            "k IN (2, 4)",
        )
        assert r["rows_updated"] == 2 and r["files_rewritten"] == 0
        man = _man(path)
        assert man["files"] == pre_files
        assert _rows(spark, path) == [
            (1, "a"), (2, "b2!"), (3, "c"), (4, "d!")
        ]
        # swap semantics: all RHS see pre-update values
        p2 = os.path.join(scratch, "t2")
        storage.write_snapshot(
            spark,
            spark.createDataFrame(
                [Row(k=1, a=1, b=2, seq=0)],
                "k bigint, a bigint, b bigint, seq bigint",
            ),
            p2,
        )
        storage.upsert_delta_snapshot(
            spark, p2,
            spark.createDataFrame(
                [Row(k=1, a=10, b=20, seq=1)],
                "k bigint, a bigint, b bigint, seq bigint",
            ),
            key_cols=["k"], seq_col="seq",
        )
        storage.update_where_snapshot(
            spark, p2, {"a": F.col("b"), "b": F.col("a")}, "k = 1"
        )
        row = storage.read_snapshot(spark, p2).first()
        assert (row["a"], row["b"]) == (20, 10)  # swapped LATEST values
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_partitioned_overwrite_takes_over_mor_table(spark):
    """r13: a partitioned OVERWRITE replaces a MOR table's content
    wholesale (chain gone, hidden partitioning in) — the plain-overwrite
    rule; partitioned APPEND stays refused (it would dodge delta
    resolution)."""
    scratch, path = _mkpath()
    try:
        _mor_table(spark, path)
        with pytest.raises(ValueError, match="append into a MOR"):
            storage.write_snapshot_partitioned(
                spark, _df(spark, [(9, "z", 0)]), path,
                [("identity", "val")], mode="append",
            )
        v = storage.write_snapshot_partitioned(
            spark, _df(spark, [(9, "z", 0), (10, "y", 0)]), path,
            [("identity", "val")],
        )
        man = _man(path, v)
        assert "mor" not in man and man.get("partition")
        got = storage.read_snapshot_partitioned(
            spark, path, {"val": ("=", "z")}
        )
        assert [r["k"] for r in got.collect()] == [9]
        # time travel still resolves the pre-overwrite chain
        assert _rows(spark, path, version=2) == [
            (1, "a"), (2, "b2"), (3, "c"), (4, "d")
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_minor_compact_mapped_chain_with_tombstones(spark):
    """Interplay pin: rename (column mapping) + MOR delete tombstones +
    MINOR compaction — the fold reads physical / emits logical / writes
    physical again, tombstones keep masking through the fold, and the
    folded group's files carry the table's one physical schema."""
    import pyarrow.parquet as pq

    scratch, path = _mkpath()
    try:
        _mor_table(spark, path)
        storage.rename_column(path, "val", "label")
        storage.upsert_delta_snapshot(
            spark, path,
            spark.createDataFrame(
                [Row(k=5, label="e", seq=2)],
                "k bigint, label string, seq bigint",
            ),
            key_cols=["k"], seq_col="seq",
        )
        storage.delete_where_snapshot(spark, path, "label = 'b2'")
        storage.compact_mor(spark, path, minor=True)
        man = _man(path)
        assert man["column_mapping"] == {"label": "val"}
        assert len(man["mor"]["deltas"]) == 1
        grp = man["mor"]["deltas"][0]
        for rel in grp:
            names = pq.ParquetFile(
                os.path.join(path, rel)
            ).schema_arrow.names
            assert "val" in names and "label" not in names, rel
            assert storage.MOR_OP_COL in names, (
                "fold must keep the tombstone column"
            )
        got = sorted(
            (r["k"], r["label"])
            for r in storage.read_snapshot(spark, path)
            .select("k", "label").collect()
        )
        assert got == [(1, "a"), (3, "c"), (4, "d"), (5, "e")]
        # major compaction sheds chain, tombstones AND materializes
        storage.compact_mor(spark, path)
        man = _man(path)
        assert "mor" not in man
        got2 = sorted(
            (r["k"], r["label"])
            for r in storage.read_snapshot(spark, path)
            .select("k", "label").collect()
        )
        assert got2 == got
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


#: MERGE clause shapes run on a copy-on-write and a MOR copy of one table
_MERGE_SHAPES = {
    "update_insert": dict(update_set={"val": "src_val"}),
    "update_only": dict(update_set={"val": "src_val"}, insert=False),
    "delete_insert": dict(delete_condition="src_val = 'del'"),
    "delete_update": dict(
        delete_condition="src_val = 'del'",
        update_set={"val": "concat(val, src_val)", "seq": "src_seq"},
        insert=False,
    ),
    "insert_values": dict(
        insert_values={"val": "concat('i', src_val)", "seq": "src_seq * 10"}
    ),
    "null_key": dict(update_set={"val": "src_val"}),
    "evolution": dict(
        update_set={"val": "src_val", "note": "src_note"},
        schema_evolution=True,
    ),
}


@pytest.fixture(scope="module")
def cow_and_mor(spark):
    """One 12-row, stats-carrying, bloom-indexed table in two copies:
    ``cow`` as written, ``mor`` turned MOR by an upsert that re-sends
    four of its rows unchanged, so both hold the same rows."""
    scratch = tempfile.mkdtemp(prefix="mor_dml_agree_")
    base = [(k, f"b{k}", 0) for k in range(12)]
    out = {}
    for mode in ("cow", "mor"):
        path = os.path.join(scratch, mode)
        storage.write_snapshot(
            spark, _df(spark, base).repartition(3, "k"), path,
            stats_cols=["k"],
        )
        if mode == "mor":
            storage.upsert_delta_snapshot(
                spark, path, _df(spark, base[:4]), ["k"], "seq"
            )
        storage.index_bloom_snapshot(spark, path, "k")
        out[mode] = path
    yield out
    shutil.rmtree(scratch, ignore_errors=True)


@pytest.mark.parametrize("shape", sorted(_MERGE_SHAPES))
def test_merge_cow_and_mor_agree(spark, cow_and_mor, shape):
    """The same MERGE reads back the same rows on both table modes."""
    rows = [
        Row(k=3, val="u3", seq=1, note="n3"),
        Row(k=5, val="del", seq=1, note="n5"),
        Row(k=7, val="u7", seq=1, note="n7"),
        Row(k=20, val="i20", seq=1, note="n20"),
        Row(k=21, val="del", seq=1, note="n21"),
    ]
    if shape == "null_key":
        rows.append(Row(k=None, val="nk", seq=1, note="nn"))
    src = spark.createDataFrame(
        rows, "k bigint, val string, seq bigint, note string"
    )
    if shape != "evolution":
        src = src.drop("note")
    scratch = tempfile.mkdtemp(prefix="mor_dml_agree_")
    try:
        got = {}
        for mode, template in cow_and_mor.items():
            path = os.path.join(scratch, mode)
            shutil.copytree(template, path)
            storage.merge_into_snapshot(
                spark, path, src, ["k"], **_MERGE_SHAPES[shape]
            )
            df = storage.read_snapshot(spark, path)
            cols = sorted(df.columns)
            got[mode] = (cols, sorted(
                (tuple(r[c] for c in cols) for r in df.collect()), key=repr
            ))
        assert got["cow"] == got["mor"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
