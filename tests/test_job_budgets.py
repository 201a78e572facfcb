"""Spark job budgets for the storage verbs: one tiny table runs each verb
once and asserts its job count stays within the budget below. Job counts
are the one deterministic cost metric (noise-free, unlike timings), so a
verb that gains a driver round-trip fails here instead of hiding in a
benchmark's spread. Counts are taken with AQE off (AQE submits each query
stage as a job of its own, so its counts move with timing) inside one job
group per verb, read after the listener bus drains. They count jobs, not
tasks, so they do not depend on the core count.

The verbs follow the ``table`` benchmark workload's cycle (a bloom-indexed,
stats-carrying table turned MOR by its first upsert), the same DELETE and
UPDATE on a plain stats-carrying table in copy-on-write and DV mode, a
MERGE on a bloom-indexed copy-on-write table, a branch append, and a
write that supplies a generated column on a constrained table: that
write's admission checks both contracts in one aggregate job. Lower a budget in the change that earns the lower count."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dp_dimension_importer_spark import storage

#: verb -> the most Spark jobs one call may run (reads include the collect)
BUDGETS = {
    "upsert": 1,
    "read_point": 3,
    "merge_into": 7,
    "delete": 1,
    "update": 1,
    # the same DML on a plain stats-carrying table: a copy-on-write
    # rewrite, then deletion vectors
    "delete_cow": 2,
    "update_cow": 2,
    "delete_dv": 1,
    "update_dv": 4,
    # MERGE on a bloom-indexed copy-on-write table: source pin and
    # profile, the bloom probe, the file probe, the rewrite
    "merge_cow": 8,
    "version_delta": 4,
    "compact_mor": 1,
    "branch_append": 1,
    # one admission job (generated values and CHECK constraints in one
    # aggregate) plus the write
    "admitted_write": 2,
}


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    group = f"budget-{uuid.uuid4().hex[:8]}"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(spark, ks, tag, seq):
    return spark.createDataFrame(
        [Row(k=k, val=f"{tag}{k}", seq=seq) for k in ks],
        "k bigint, val string, seq bigint",
    )


def test_storage_verb_job_budgets(spark):
    scratch = tempfile.mkdtemp(prefix="budget_test_")
    path = os.path.join(scratch, "t")
    gpath = os.path.join(scratch, "g")
    cpath = os.path.join(scratch, "c")
    mpath = os.path.join(scratch, "m")
    measured = {}
    try:
        storage.write_snapshot(
            spark, _rows(spark, range(40), "b", 0), path, stats_cols=["k"]
        )
        storage.index_bloom_snapshot(spark, path, "k")
        measured["upsert"] = _jobs(spark, lambda: storage.upsert_delta_snapshot(
            spark, path, _rows(spark, range(30, 50), "u", 1), ["k"], "seq",
        ))
        measured["read_point"] = _jobs(spark, lambda: storage.read_snapshot_point(
            spark, path, "k", [3, 31, 45],
        ).collect())
        measured["merge_into"] = _jobs(spark, lambda: storage.merge_into_snapshot(
            spark, path, _rows(spark, range(45, 55), "m", 2), ["k"],
            update_set={"val": "src_val", "seq": "src_seq"}, insert=True,
        ))
        measured["delete"] = _jobs(spark, lambda: storage.delete_where_snapshot(
            spark, path, F.col("k") < 5,
        ))
        measured["update"] = _jobs(spark, lambda: storage.update_where_snapshot(
            spark, path, {"val": F.lit("x")}, F.col("k") == 7,
        ))
        v = storage.snapshot_versions(path)[-1]
        measured["version_delta"] = _jobs(spark, lambda: storage.version_delta(
            spark, path, v, ["k"], base_version=v - 1,
        ).collect())
        measured["compact_mor"] = _jobs(
            spark, lambda: storage.compact_mor(spark, path)
        )
        storage.create_branch(path, "audit")
        measured["branch_append"] = _jobs(
            spark, lambda: storage.write_snapshot_to_branch(
                spark, _rows(spark, [90, 91], "a", 3), path, "audit",
                mode="append",
            ),
        )
        storage.write_snapshot(
            spark, _rows(spark, range(40), "c", 0), cpath, stats_cols=["k"]
        )
        measured["delete_cow"] = _jobs(spark, lambda: storage.delete_where_snapshot(
            spark, cpath, F.col("k") < 5,
        ))
        measured["update_cow"] = _jobs(spark, lambda: storage.update_where_snapshot(
            spark, cpath, {"val": F.lit("x")}, F.col("k") == 7,
        ))
        measured["delete_dv"] = _jobs(spark, lambda: storage.delete_where_snapshot(
            spark, cpath, F.col("k") == 9, mode="dv",
        ))
        measured["update_dv"] = _jobs(spark, lambda: storage.update_where_snapshot(
            spark, cpath, {"val": F.lit("y")}, F.col("k") == 11, mode="dv",
        ))
        storage.write_snapshot(
            spark, _rows(spark, range(40), "c", 0), mpath, stats_cols=["k"]
        )
        storage.index_bloom_snapshot(spark, mpath, "k")
        measured["merge_cow"] = _jobs(spark, lambda: storage.merge_into_snapshot(
            spark, mpath, _rows(spark, range(35, 45), "m", 2), ["k"],
            update_set={"val": "src_val", "seq": "src_seq"}, insert=True,
        ))
        storage.write_snapshot(
            spark,
            spark.createDataFrame(
                [Row(k=k, v=float(k), v2=2.0 * k) for k in (1, 2, 3)],
                "k bigint, v double, v2 double",
            ),
            gpath,
        )
        storage.add_check_constraint(spark, gpath, "pos", "v > 0")
        storage.add_generated_column(spark, gpath, "v2", "v * 2")
        measured["admitted_write"] = _jobs(
            spark, lambda: storage.write_snapshot(
                spark,
                spark.createDataFrame(
                    [Row(k=4, v=4.0, v2=8.0)], "k bigint, v double, v2 double"
                ),
                gpath, mode="append",
            ),
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("measured job counts:", measured)
    over = {
        verb: (n, BUDGETS[verb])
        for verb, n in measured.items() if n > BUDGETS[verb]
    }
    assert not over, f"verbs over their job budget (jobs, budget): {over}"
