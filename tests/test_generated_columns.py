"""Pins for generated columns (r11): storage.add_generated_column /
drop_generated_column — Delta's GENERATED ALWAYS AS shape. Writers may
omit the column (computed) or supply it (null-safe-validated, mismatch
refuses)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dp_dimension_importer_spark import storage


def _mkpath():
    scratch = tempfile.mkdtemp(prefix="gen_test_")
    return scratch, os.path.join(scratch, "t")


def _full(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, v=v, v2=v * 2) for k, v in rows],
        "k bigint, v double, v2 double",
    )


def test_declare_validates_then_computes_and_validates_writes(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _full(spark, [(1, 1.0), (2, 2.0)]), path)
        with pytest.raises(ValueError, match="disagree"):
            storage.add_generated_column(spark, path, "v2", "v * 3")
        storage.add_generated_column(spark, path, "v2", "v * 2")
        assert storage.list_generated_columns(path) == {"v2": "v * 2"}
        # omitted column is COMPUTED on append
        storage.write_snapshot(
            spark,
            spark.createDataFrame([Row(k=3, v=3.0)], "k bigint, v double"),
            path, mode="append",
        )
        got = {r["k"]: r["v2"] for r in storage.read_snapshot(spark, path).collect()}
        assert got == {1: 2.0, 2: 4.0, 3: 6.0}
        # supplied-but-wrong refuses, nothing committed
        v_before = storage.snapshot_versions(path)[-1]
        with pytest.raises(ValueError, match="generated column 'v2'"):
            storage.write_snapshot(
                spark, _full(spark, [(4, 4.0)]).withColumn("v2", F.lit(0.0)),
                path, mode="append",
            )
        assert storage.snapshot_versions(path)[-1] == v_before
        # supplied-and-right passes
        storage.write_snapshot(
            spark, _full(spark, [(4, 4.0)]), path, mode="append"
        )
        assert storage.read_snapshot(spark, path).count() == 4
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_guards_and_drop(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(spark, _full(spark, [(1, 1.0)]), path)
        with pytest.raises(ValueError, match="must already exist"):
            storage.add_generated_column(spark, path, "nope", "v * 2")
        with pytest.raises(ValueError, match="reference itself"):
            storage.add_generated_column(spark, path, "v2", "v2 + 0")
        storage.add_generated_column(spark, path, "v2", "v * 2")
        with pytest.raises(ValueError, match="already generated"):
            storage.add_generated_column(spark, path, "v2", "v * 2")
        # rename of the generated column or its source refuses
        with pytest.raises(ValueError, match="drop_generated_column"):
            storage.rename_column(path, "v2", "w")
        with pytest.raises(ValueError, match="drop_generated_column"):
            storage.rename_column(path, "v", "w")
        storage.drop_generated_column(path, "v2")
        assert storage.list_generated_columns(path) == {}
        with pytest.raises(ValueError, match="no generated column"):
            storage.drop_generated_column(path, "v2")
        # contract gone: a "wrong" v2 now lands
        storage.write_snapshot(
            spark, _full(spark, [(9, 9.0)]).withColumn("v2", F.lit(0.0)),
            path, mode="append",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_inherited_through_rewrites_and_enforced_by_dml(spark):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _full(spark, [(i, float(i)) for i in range(1, 9)]), path
        )
        storage.add_generated_column(spark, path, "v2", "v * 2")
        storage.delete_where_snapshot(spark, path, "k < 3")
        storage.optimize_snapshot(spark, path, ["k"], n_shards=2)
        assert storage.list_generated_columns(path) == {"v2": "v * 2"}
        # UPDATE that breaks the equality refuses...
        with pytest.raises(ValueError, match="update_where_snapshot"):
            storage.update_where_snapshot(
                spark, path, {"v": F.col("v") + 1}, "k = 5"
            )
        # ...updating BOTH sides of the contract passes
        storage.update_where_snapshot(
            spark, path,
            {"v": F.col("v") + 1, "v2": (F.col("v") + 1) * 2},
            "k = 5",
        )
        row = (
            storage.read_snapshot(spark, path).filter("k = 5").first()
        )
        assert (row["v"], row["v2"]) == (6.0, 12.0)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_mor_delta_computes_generated(spark):
    scratch, path = _mkpath()
    try:
        base = spark.createDataFrame(
            [Row(k=1, v=1.0, v2=2.0, seq=0)],
            "k bigint, v double, v2 double, seq bigint",
        )
        storage.write_snapshot(spark, base, path)
        storage.add_generated_column(spark, path, "v2", "v * 2")
        storage.upsert_delta_snapshot(
            spark, path,
            spark.createDataFrame(
                [Row(k=2, v=5.0, seq=1)], "k bigint, v double, seq bigint"
            ),
            key_cols=["k"], seq_col="seq",
        )
        got = {r["k"]: r["v2"] for r in storage.read_snapshot(spark, path).collect()}
        assert got == {1: 2.0, 2: 10.0}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_partitioned_write_computes_generated(spark):
    scratch, path = _mkpath()
    try:
        df = spark.createDataFrame(
            [Row(k=i, v=float(i), v2=float(i) * 2) for i in range(20)],
            "k bigint, v double, v2 double",
        )
        storage.write_snapshot_partitioned(
            spark, df, path, [("bucket", "k", 4)]
        )
        storage.add_generated_column(spark, path, "v2", "v * 2")
        storage.write_snapshot_partitioned(
            spark,
            spark.createDataFrame(
                [Row(k=100, v=50.0)], "k bigint, v double"
            ),
            path, [("bucket", "k", 4)], mode="append",
        )
        row = storage.read_snapshot(spark, path).filter("k = 100").first()
        assert row["v2"] == 100.0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@pytest.mark.parametrize("mor", [False, True], ids=["cow", "mor"])
def test_merge_insert_computes_omitted_generated(spark, mor):
    """A NOT-MATCHED insert whose source omits a generated column gets it
    computed from the inserted row, as an append does; a matched update
    that leaves it stale still refuses."""
    scratch, path = _mkpath()
    try:
        base = spark.createDataFrame(
            [Row(k=1, v=1.0, v2=2.0, seq=0)],
            "k bigint, v double, v2 double, seq bigint",
        )
        storage.write_snapshot(spark, base, path)
        storage.add_generated_column(spark, path, "v2", "v * 2")
        if mor:
            storage.upsert_delta_snapshot(
                spark, path, base.drop("v2"), key_cols=["k"], seq_col="seq",
            )
        src = spark.createDataFrame(
            [Row(k=1, v=1.0, seq=1), Row(k=2, v=5.0, seq=1)],
            "k bigint, v double, seq bigint",
        )
        storage.merge_into_snapshot(
            spark, path, src, ["k"], update_set={"v": "src_v"}, insert=True,
        )
        got = {
            r["k"]: (r["v"], r["v2"])
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got == {1: (1.0, 2.0), 2: (5.0, 10.0)}
        with pytest.raises(ValueError, match="disagree"):
            storage.merge_into_snapshot(
                spark, path, src.withColumn("v", F.lit(7.0)), ["k"],
                update_set={"v": "src_v"}, insert=True,
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
