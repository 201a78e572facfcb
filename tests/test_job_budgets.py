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
MERGE on a bloom-indexed copy-on-write table and a latest-wins upsert
and a streaming merge sink batch on the same table, a branch append, and a
write that supplies a generated column on a constrained table: that
write's admission checks both contracts in one aggregate job. The
maintenance verbs each run once on a small table of their own: a
three-file stats-carrying table (Z-order optimize, then an incremental
optimize of two appended files, small-file compaction, a DV purge), a
hidden-partitioned table, and MOR tables with several delta groups, one
of them hidden-partitioned. The scoped reads (range-pruned and
partition-pruned) run on a copy-on-write and on a MOR table each. Lower
a budget in the change that earns the lower count."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dp_dimension_importer_spark import storage
from dp_dimension_importer_spark.streaming.sink import make_merge_batch_handler

#: verb -> the most Spark jobs one call may run (reads include the collect)
BUDGETS = {
    "upsert": 1,
    # the probe's broadcast of the literal keys, the probe, the read
    "read_point": 3,
    # the latest MOR version, resolved; the pruned reads on the same MOR
    # table and on a copy-on-write one; the partitioned reads on a
    # hidden-partitioned table and on a MOR one
    "read_snapshot": 1,
    "read_pruned_mor": 1,
    "read_pruned": 1,
    "read_partitioned": 1,
    "read_partitioned_mor": 1,
    "merge_into": 6,
    "delete": 1,
    "update": 1,
    # the same DML on a plain stats-carrying table: a copy-on-write
    # rewrite, then deletion vectors
    "delete_cow": 2,
    "update_cow": 2,
    "delete_dv": 1,
    "update_dv": 4,
    # MERGE on a bloom-indexed copy-on-write table: source pin and
    # profile, the bloom probe (one job: the probe positions are no
    # longer pinned), the file probe, the rewrite
    "merge_cow": 7,
    # the latest-wins upsert on the same kind of table: the batch's
    # per-key compaction runs inside MERGE's source pin, so it costs
    # what merge_cow does; a streaming merge sink batch is that call
    "merge_upsert_snapshot": 7,
    "merge_sink_batch": 7,
    # the change feed of one MOR transition: the touched keys' broadcast,
    # then the collect. "version_delta" is the worst of the upsert,
    # MERGE, DELETE and UPDATE transitions; the partial and aggregate
    # ones are a transition with a tombstone under those merge engines
    "version_delta": 2,
    "version_delta_partial": 2,
    "version_delta_aggregate": 2,
    "compact_mor": 1,
    "branch_append": 1,
    # one admission job (generated values and CHECK constraints in one
    # aggregate) plus the write
    "admitted_write": 2,
    # the maintenance verbs, each on a tiny table that gives it work
    "optimize_snapshot": 4,
    "optimize_incremental": 4,
    "compact_small": 1,
    "purge_dv": 2,
    "optimize_partitions": 1,
    # a minor fold, then a major one, of one partition's chain
    "optimize_partitions_mor": 2,
    "compact_mor_minor": 1,
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


def _append(spark, path, ks, tag, seq=0):
    storage.write_snapshot(
        spark, _rows(spark, ks, tag, seq).coalesce(1), path,
        mode="append" if storage.snapshot_versions(path) else "overwrite",
        stats_cols=["k"],
    )


def _grouped(spark, ks, tag, seq):
    return spark.createDataFrame(
        [Row(k=k, g="a" if k % 2 else "b", val=f"{tag}{k}", seq=seq)
         for k in ks],
        "k bigint, g string, val string, seq bigint",
    )


def _committing_jobs(spark, path, fn) -> int:
    """Jobs of ``fn``, a maintenance call that must commit: a verb that
    found no work would measure a count that says nothing."""
    head = storage.snapshot_versions(path)[-1]
    n = _jobs(spark, fn)
    assert storage.snapshot_versions(path)[-1] > head, "no commit"
    return n


def _maintenance_jobs(spark, opath, ppath, rpath) -> dict:
    """Job counts of the maintenance verbs, each on a table it has work
    on."""
    measured = {}
    for i in range(3):
        _append(spark, opath, range(10 * i, 10 * i + 10), "o")
    measured["optimize_snapshot"] = _committing_jobs(
        spark, opath, lambda: storage.optimize_snapshot(spark, opath, ["k"], 2)
    )
    since = storage.snapshot_versions(opath)[-1]
    for i in range(3, 5):
        _append(spark, opath, range(10 * i, 10 * i + 10), "o")
    measured["optimize_incremental"] = _committing_jobs(
        spark, opath, lambda: storage.optimize_snapshot_incremental(
            spark, opath, ["k"], since_version=since, n_shards=2,
        ),
    )
    for i in range(5, 8):
        _append(spark, opath, range(10 * i, 10 * i + 10), "o")
    measured["compact_small"] = _committing_jobs(
        spark, opath,
        lambda: storage.compact_small_files_snapshot(spark, opath),
    )
    storage.delete_where_snapshot(spark, opath, F.col("k") < 5, mode="dv")
    measured["purge_dv"] = _committing_jobs(
        spark, opath, lambda: storage.purge_deletion_vectors(spark, opath)
    )
    spec = [("identity", "g")]
    for i in range(2):
        storage.write_snapshot_partitioned(
            spark, _grouped(spark, range(10 * i, 10 * i + 10), "p", 0),
            ppath, spec, mode="append" if i else "overwrite",
        )
    measured["read_partitioned"] = _jobs(
        spark, lambda: storage.read_snapshot_partitioned(
            spark, ppath, {"g": ("=", "a")},
        ).collect(),
    )
    measured["optimize_partitions"] = _committing_jobs(
        spark, ppath, lambda: storage.optimize_partitions(
            spark, ppath, {"g": ("=", "a")},
        ),
    )
    storage.write_snapshot_partitioned(
        spark, _grouped(spark, range(20), "r", 0), rpath, spec
    )
    for seq in (1, 2):
        storage.upsert_delta_snapshot(
            spark, rpath, _grouped(spark, range(seq, 20, 3), "u", seq),
            ["k", "g"], "seq",
        )

    measured["read_partitioned_mor"] = _jobs(
        spark, lambda: storage.read_snapshot_partitioned(
            spark, rpath, {"g": ("=", "a")},
        ).collect(),
    )

    def _fold_partition():
        storage.optimize_partitions(
            spark, rpath, {"g": ("=", "a")}, minor=True
        )
        storage.optimize_partitions(spark, rpath, {"g": ("=", "a")})

    measured["optimize_partitions_mor"] = _committing_jobs(
        spark, rpath, _fold_partition
    )
    for seq in (3, 4):
        storage.upsert_delta_snapshot(
            spark, rpath, _grouped(spark, range(seq, 20, 4), "v", seq),
            ["k", "g"], "seq",
        )
    measured["compact_mor_minor"] = _committing_jobs(
        spark, rpath, lambda: storage.compact_mor(spark, rpath, minor=True)
    )
    return measured


def _engine_feed_jobs(spark, scratch) -> dict:
    """Job counts of version_delta over a transition with a tombstone on
    a partial-update and on an aggregating MOR table."""
    def rows(ks, seq):
        return spark.createDataFrame(
            [Row(k=k, n=k, seq=seq) for k in ks],
            "k bigint, n bigint, seq bigint",
        )

    measured = {}
    for engine, aggs in (("partial", None), ("aggregate", {"n": "sum"})):
        epath = os.path.join(scratch, engine)
        storage.write_snapshot(spark, rows(range(20), 0), epath)
        storage.upsert_delta_snapshot(
            spark, epath, rows(range(15, 25), 1), ["k"], "seq",
            merge_mode=engine, agg_spec=aggs,
        )
        storage.delete_where_snapshot(spark, epath, F.col("k") < 3)
        v = storage.snapshot_versions(epath)[-1]
        measured[f"version_delta_{engine}"] = _jobs(
            spark, lambda: storage.version_delta(
                spark, epath, v, ["k"], base_version=v - 1,
            ).collect(),
        )
    return measured


def test_storage_verb_job_budgets(spark):
    scratch = tempfile.mkdtemp(prefix="budget_test_")
    path = os.path.join(scratch, "t")
    gpath = os.path.join(scratch, "g")
    cpath = os.path.join(scratch, "c")
    mpath = os.path.join(scratch, "m")
    opath = os.path.join(scratch, "o")
    ppath = os.path.join(scratch, "p")
    rpath = os.path.join(scratch, "r")
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
        measured["read_snapshot"] = _jobs(
            spark, lambda: storage.read_snapshot(spark, path).collect()
        )
        measured["read_pruned_mor"] = _jobs(
            spark, lambda: storage.read_snapshot_pruned(
                spark, path, "k", 10, 35,
            ).collect(),
        )
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
        head = storage.snapshot_versions(path)[-1]
        measured["version_delta"] = max(
            _jobs(spark, lambda: storage.version_delta(
                spark, path, v, ["k"], base_version=v - 1,
            ).collect())
            for v in range(head - 3, head + 1)
        )
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
        measured["read_pruned"] = _jobs(
            spark, lambda: storage.read_snapshot_pruned(
                spark, cpath, "k", 10, 35,
            ).collect(),
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
        measured["merge_upsert_snapshot"] = _jobs(
            spark, lambda: storage.merge_upsert_snapshot(
                spark, mpath, _rows(spark, range(40, 50), "n", 3), ["k"],
                "seq",
            ),
        )
        handler = make_merge_batch_handler(mpath, ["k"], "seq")
        measured["merge_sink_batch"] = _jobs(
            spark, lambda: handler(_rows(spark, range(45, 55), "s", 4), 0)
        )
        assert storage.read_snapshot(spark, mpath).filter(
            "seq = 4"
        ).count() == 10, "the sink batch did not land"
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
        measured.update(_maintenance_jobs(spark, opath, ppath, rpath))
        measured.update(_engine_feed_jobs(spark, scratch))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("measured job counts:", measured)
    over = {
        verb: (n, BUDGETS[verb])
        for verb, n in measured.items() if n > BUDGETS[verb]
    }
    assert not over, f"verbs over their job budget (jobs, budget): {over}"


def test_empty_scoped_reads_collect_without_a_job(spark):
    """A scoped read that keeps no file is a typed local frame:
    collecting it runs no Spark job, and it has the table's schema."""
    scratch = tempfile.mkdtemp(prefix="budget_empty_")
    cpath = os.path.join(scratch, "c")
    ppath = os.path.join(scratch, "p")
    try:
        storage.write_snapshot(
            spark, _rows(spark, range(40), "c", 0), cpath, stats_cols=["k"]
        )
        storage.index_bloom_snapshot(spark, cpath, "k")
        storage.write_snapshot_partitioned(
            spark, _grouped(spark, range(10), "p", 0), ppath,
            [("identity", "g")],
        )
        reads = [
            ("pruned", cpath,
             storage.read_snapshot_pruned(spark, cpath, "k", 100, 200)),
            ("point", cpath,
             storage.read_snapshot_point(spark, cpath, "k", [999])),
            ("partitioned", ppath,
             storage.read_snapshot_partitioned(
                 spark, ppath, {"g": ("=", "zz")}
             )),
        ]
        for name, p, df in reads:
            assert df.schema == storage.read_snapshot(spark, p).schema, name
            rows = []
            assert _jobs(spark, lambda: rows.extend(df.collect())) == 0, name
            assert rows == [], name
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_point_reads_type_their_literals(spark):
    """A point read's literal keys take createDataFrame's typing (Python
    ints as bigint, strs as string) in a local relation, cast to the
    sidecar's type: int literals on a bigint column and str literals on
    a string column each find their rows within the point-read budget."""
    scratch = tempfile.mkdtemp(prefix="budget_point_")
    path = os.path.join(scratch, "t")
    try:
        storage.write_snapshot(
            spark, _rows(spark, range(40), "c", 0).repartition(4), path,
            stats_cols=["k"],
        )
        storage.index_bloom_snapshot(spark, path, "k")
        storage.index_bloom_snapshot(spark, path, "val")
        for col, values, want in (
            ("k", [3, 31], {3, 31}),
            ("val", ["c7", "c22", "zz"], {7, 22}),
        ):
            rows = []
            n = _jobs(spark, lambda: rows.extend(
                storage.read_snapshot_point(spark, path, col, values).collect()
            ))
            assert {r.k for r in rows} == want, col
            assert n <= BUDGETS["read_point"], (col, n)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
