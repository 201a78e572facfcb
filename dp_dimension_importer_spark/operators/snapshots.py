"""Snapshot / table-format operators — the transaction-log layer's
end-to-end queries (SURVEY.md §2.4): CDC MERGE through the filesystem,
snapshot time travel, the change feed, manifest-stats pruned scans, and
table OPTIMIZE. Split out of ``operators/windows.py`` in round 6 (VERDICT
r5 "Next round" #3) — zero behavior change, module name now matches
content. The layer itself lives in :mod:`dp_dimension_importer_spark.storage`
(write_snapshot / merge_upsert_snapshot / snapshot_changes /
write_snapshot_with_stats / optimize_snapshot).

Scale notes: every query here round-trips through parquet on purpose — the
point is the table-format protocol (optimistic commits, manifest min/max
skipping, version pinning), not the query shapes. Fixture sizes are
bounded; at 100 TB the same code paths operate per-partition with stats
harvested from footers, never data pages.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from dp_dimension_importer_spark.catalog import load_tables
from dp_dimension_importer_spark.operators.common import (
    make_registry,
    run_concurrently,
)

QUERIES, ORACLE, register = make_registry()

#: AS-OF instant for scd2_asof_snapshot: mid-span of the fixture's
#: January 2024 event stream (2024-01-16 00:00:00 UTC)
SCD2_ASOF_EPOCH = 1705363200


@register(
    "cdc_merge_upsert",
    sql="""
    WITH b AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               (ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) * 31
                + ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1))) % 10
                   AS bucket
        FROM orders
    ), existing AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(1 AS BIGINT) AS seq
        FROM b WHERE bucket < 8
    ), changes AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice + 1000,
               CAST(2 AS BIGINT) AS seq
        FROM b WHERE bucket >= 5
    ), u AS (
        SELECT * FROM existing UNION ALL SELECT * FROM changes
    ), r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                     ORDER BY seq DESC) AS rn
        FROM u
    )
    SELECT o_orderkey, o_orderpriority, o_totalprice AS price, seq
    FROM r WHERE rn = 1 ORDER BY o_orderkey
    """,
)
def cdc_merge_upsert(spark, sf_dir):
    """CDC MERGE end-to-end THROUGH THE FILESYSTEM: commit an "existing"
    snapshot table (train-bucket orders, seq=1) hidden-partitioned by
    priority (:func:`storage.write_snapshot_partitioned`, identity spec),
    apply a change batch (buckets 5-9: 5-7 are updates with a bumped
    price, 8-9 inserts; seq=2) via :func:`storage.merge_upsert_snapshot`,
    which rewrites only the files holding a changed key, then READ THE
    TABLE BACK and return it — so the driver's oracle row checks
    insert/update/untouched semantics, latest-wins resolution, AND the
    on-disk round-trip in one query (the reference's idempotent
    node-upsert R9/R10/R12 at table scale). The oracle is the plain
    window-over-union formulation. That untouched files carry is pinned
    separately by tests/test_plans.py. The result is eagerly
    localCheckpoint-ed so the scratch directory can be removed before
    returning."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.operators.analytics import hash_bucket

    t = load_tables(spark, sf_dir)
    b = t.orders.withColumn("bucket", hash_bucket("o_orderkey", 10))
    existing = b.filter("bucket < 8").select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        F.lit(1).cast("long").alias("seq"),
    )
    changes = b.filter("bucket >= 5").select(
        "o_orderkey", "o_orderpriority",
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
        F.lit(2).cast("long").alias("seq"),
    )
    path = tempfile.mkdtemp(prefix="cdc_merge_upsert_")
    try:
        storage.write_snapshot_partitioned(
            spark, existing, path, [("identity", "o_orderpriority")]
        )
        storage.merge_upsert_snapshot(
            spark, path, changes, key_cols=["o_orderkey"], seq_col="seq"
        )
        return (
            storage.read_snapshot(spark, path)
            .select(
                "o_orderkey", "o_orderpriority",
                F.col("o_totalprice").alias("price"), "seq",
            )
            .orderBy("o_orderkey")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "scd2_asof_snapshot",
    sql=f"""
    WITH e AS (
        SELECT user_id, event_id, ts,
               CAST(FLOOR(value) AS INTEGER) % 3 AS tier
        FROM events
        WHERE CAST(FLOOR(epoch(ts)) AS BIGINT) <= {SCD2_ASOF_EPOCH}
    ), r AS (
        SELECT user_id, tier,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM e
    )
    SELECT user_id, tier AS tier_asof FROM r WHERE rn = 1
    ORDER BY user_id
    """,
)
def scd2_asof_snapshot(spark, sf_dir):
    """Point-in-time (AS OF) dimension snapshot — the query an
    effective-dated SCD2 table exists to answer: each user's attribute
    value as of a fixed instant. Spark-side it does NOT touch the
    interval table at all: the latest change at-or-before T is one
    ``max_by`` keyed on the (ts, event_id) struct — a single map-side-
    combinable aggregate over a scan whose ``ts <= T`` predicate pushes
    down to the parquet reader (row-group pruning kills the future half
    of the table before it is read; at 100 TB that is the difference
    between scanning history-to-T and scanning everything). The oracle
    phrases the same selection as a reverse ROW_NUMBER.

    Pairs with ``scd2_intervals``: build intervals for range queries,
    answer point queries straight off the change stream."""
    t = load_tables(spark, sf_dir)
    asof = t.events.filter(
        F.col("ts") <= F.timestamp_seconds(F.lit(SCD2_ASOF_EPOCH))
    ).select(
        "user_id",
        (F.floor("value").cast("int") % 3).alias("tier"),
        F.struct("ts", "event_id").alias("k"),
    )
    return (
        asof.groupBy("user_id")
        .agg(F.max_by("tier", "k").alias("tier_asof"))
        .orderBy("user_id")
    )


@register(
    "q66_snapshot_time_travel",
    sql="""
    WITH b AS (
        SELECT o_orderkey, o_totalprice,
               (ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) * 31
                + ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1))) % 10
                   AS bucket
        FROM orders
    ), v1 AS (
        SELECT o_orderkey, o_totalprice, CAST(1 AS BIGINT) AS seq
        FROM b WHERE bucket < 8
    ), changes AS (
        SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice,
               CAST(2 AS BIGINT) AS seq
        FROM b WHERE bucket >= 5
    ), v2 AS (
        SELECT o_orderkey, o_totalprice, seq FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                         ORDER BY seq DESC) AS rn
            FROM (SELECT * FROM v1 UNION ALL SELECT * FROM changes)
        ) WHERE rn = 1
    ), u AS (
        SELECT 1 AS version, seq, o_totalprice FROM v1
        UNION ALL
        SELECT 2 AS version, seq, o_totalprice FROM v2
    )
    SELECT version, seq, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM u GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q66_snapshot_time_travel(spark, sf_dir):
    """TIME TRAVEL through the snapshot/manifest table layer
    (:func:`storage.write_snapshot`): commit a base table as
    version 1, apply a CDC batch via
    :func:`storage.merge_upsert_snapshot` (snapshot-isolated latest-wins
    → version 2), then read BOTH versions back — v1 via time travel, v2
    as latest — and aggregate them side by side. The oracle recomputes
    the two versions logically, so a green row pins that commits are
    complete, that time travel returns exactly the pre-merge table, and
    that the merge resolved latest-wins — the full
    write→merge→read-both-worlds contract in one query. Eagerly
    localCheckpoint-ed so the scratch table can be removed."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.operators.analytics import hash_bucket

    t = load_tables(spark, sf_dir)
    b = t.orders.withColumn("bucket", hash_bucket("o_orderkey", 10))
    v1 = b.filter("bucket < 8").select(
        "o_orderkey", "o_totalprice", F.lit(1).cast("long").alias("seq")
    )
    changes = b.filter("bucket >= 5").select(
        "o_orderkey",
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
        F.lit(2).cast("long").alias("seq"),
    )
    path = tempfile.mkdtemp(prefix="snapshot_tt_")
    try:
        shutil.rmtree(path)  # write_snapshot wants to create data dirs fresh
        storage.write_snapshot(spark, v1, path)
        storage.merge_upsert_snapshot(
            spark, path, changes, key_cols=["o_orderkey"], seq_col="seq"
        )
        cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        u = (
            storage.read_snapshot(spark, path, version=1)
            .withColumn("version", F.lit(1))
            .unionByName(
                storage.read_snapshot(spark, path).withColumn(
                    "version", F.lit(2)
                )
            )
        )
        return (
            u.groupBy("version", "seq")
            .agg(
                F.count("*").alias("n"),
                F.sum(cents).alias("sum_cents"),
            )
            .orderBy("version", "seq")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q66b_snapshot_changes",
    sql="""
    WITH b AS (
        SELECT o_orderkey, o_totalprice,
               (ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) * 31
                + ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1))) % 10
                   AS bucket
        FROM orders
    ), v1 AS (
        SELECT o_orderkey, o_totalprice FROM b WHERE bucket < 8
    ), v2 AS (
        SELECT o_orderkey,
               o_totalprice + CASE WHEN bucket BETWEEN 5 AND 7
                                   THEN 1000 ELSE 0 END AS o_totalprice
        FROM b WHERE bucket >= 2
    ), d AS (
        SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
               v1.o_totalprice AS po, v2.o_totalprice AS pn
        FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
        WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
           OR v1.o_totalprice <> v2.o_totalprice
    )
    SELECT o_orderkey,
           CASE WHEN po IS NULL THEN 'insert'
                WHEN pn IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           CAST(FLOOR(po * 100 + 0.5) AS BIGINT) AS old_cents,
           CAST(FLOOR(pn * 100 + 0.5) AS BIGINT) AS new_cents
    FROM d ORDER BY o_orderkey
    """,
)
def q66b_snapshot_changes(spark, sf_dir):
    """CDC CHANGE FEED between two committed snapshot versions
    (:func:`storage.snapshot_changes` — q66 reads both worlds, this
    DIFFS them): commit v1, commit a v2 containing genuine deletes
    (buckets 0-1 dropped), updates (5-7 repriced) and inserts (8-9 new),
    then emit the row-level delta — one row per changed key with
    change_type and old/new values, unchanged keys absent. The oracle
    reconstructs both versions logically and diffs them in SQL, so a
    green row pins insert/delete/update classification AND that the
    unchanged middle (buckets 2-4) produces no feed rows. Eagerly
    localCheckpoint-ed so the scratch table can be removed."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.operators.analytics import hash_bucket

    t = load_tables(spark, sf_dir)
    b = t.orders.withColumn("bucket", hash_bucket("o_orderkey", 10))
    v1 = b.filter("bucket < 8").select("o_orderkey", "o_totalprice")
    v2 = b.filter("bucket >= 2").select(
        "o_orderkey",
        (
            F.col("o_totalprice")
            + F.when(F.col("bucket").between(5, 7), 1000).otherwise(0)
        ).alias("o_totalprice"),
    )
    path = tempfile.mkdtemp(prefix="snapshot_cdf_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, v1, path)
        storage.write_snapshot(spark, v2, path)
        feed = storage.snapshot_changes(
            spark, path, 1, 2, key_cols=["o_orderkey"]
        )
        return feed.select(
            "o_orderkey",
            "change_type",
            F.floor(F.col("_old.o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("old_cents"),
            F.floor(F.col("_new.o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("new_cents"),
        ).orderBy("o_orderkey").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q67_stats_pruned_scan",
    sql="""
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01'
                                        AND DATE '1996-12-31'
    GROUP BY 1 ORDER BY 1
    """,
)
def q67_stats_pruned_scan(spark, sf_dir):
    """MANIFEST-STATS FILE SKIPPING end-to-end: commit orders as a
    snapshot whose files are range-clustered on o_orderdate with per-file
    min/max recorded in the manifest
    (:func:`storage.write_snapshot_with_stats` — footer stats only, no
    data pages read at commit), then answer a one-year window via
    :func:`storage.read_snapshot_pruned`, which drops non-intersecting
    files BEFORE Spark lists them. The oracle is the plain filtered
    aggregate over the full table, so a green row pins that file
    skipping loses no rows; the "actually skipped files" property is
    pinned by the layout test (tests/test_dq_mv_prefix.py). Eagerly
    localCheckpoint-ed so the scratch table can be removed."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    src = t.orders.select(
        F.col("o_orderdate").cast("date").alias("d"), "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="stats_prune_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot_with_stats(
            spark, src, path, stats_cols=["d"], range_col="d", n_files=8
        )
        pruned = storage.read_snapshot_pruned(
            spark, path, "d",
            datetime.date(1996, 1, 1), datetime.date(1996, 12, 31),
        )
        cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        return (
            pruned.groupBy(F.date_format("d", "yyyy-MM").alias("month"))
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("month")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q77_optimize_snapshot",
    sql="""
    SELECT l_partkey, COUNT(*) AS n,
           CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln
    FROM lineitem WHERE l_partkey BETWEEN 10 AND 50
    GROUP BY l_partkey ORDER BY l_partkey
    """,
)
def q77_optimize_snapshot(spark, sf_dir):
    """Table-format OPTIMIZE end-to-end (:func:`storage.optimize_snapshot`
    — the q66/q67 pattern applied to re-layout): commit a randomly-laid-
    out snapshot, rewrite it Z-order-clustered on (l_partkey, l_quantity)
    as version 2, and answer a partkey-band aggregate through the
    stats-pruned read. The oracle is the plain filtered aggregate, so the
    green row pins that the OPTIMIZE rewrite changed LAYOUT only — the
    pruned read over the re-clustered files returns exactly the rows the
    band owns, no row lost or duplicated by the rewrite (the
    layout/pruning-improvement claims are pinned separately by the
    on-disk audit in tests/test_plans.py). Eagerly localCheckpoint-ed so
    the scratch table can be removed."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    li = t.lineitem.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    path = tempfile.mkdtemp(prefix="snap_opt_q77_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(
            spark,
            li.repartition(8, "l_orderkey"),
            path,
            stats_cols=["l_partkey", "l_quantity"],
        )
        storage.optimize_snapshot(
            spark, path, ["l_partkey", "l_quantity"], n_shards=8
        )
        return (
            storage.read_snapshot_pruned(spark, path, "l_partkey", 10, 50)
            .groupBy("l_partkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_linenumber").alias("sum_ln"),
            )
            .orderBy("l_partkey")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q78_snapshot_delete",
    sql="""
    WITH v1 AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
    ), v2 AS (
        SELECT * FROM v1 WHERE NOT (o_orderpriority = '1-URGENT')
    ), u AS (
        SELECT 1 AS version, o_totalprice FROM v1
        UNION ALL
        SELECT 2 AS version, o_totalprice FROM v2
    )
    SELECT version, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM u GROUP BY 1 ORDER BY 1
    """,
)
def q78_snapshot_delete(spark, sf_dir):
    """Copy-on-write DELETE through the snapshot layer
    (:func:`storage.delete_where_snapshot` — the CRUD verb q66/q66b/q77's
    write/merge/changes/OPTIMIZE family was missing): commit orders
    clustered by priority as version 1, DELETE the '1-URGENT' rows
    (only the files that actually hold urgent rows are rewritten; the
    rest carry into version 2's manifest untouched — file-level
    copy-on-write, pinned structurally in test_plans.py), then read both
    versions and aggregate side by side. The oracle recomputes both
    worlds logically, so a green row pins completeness of the delete,
    survivor integrity, and time travel to the pre-delete table."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    v1 = t.orders.select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).repartition(8, "o_orderpriority")  # explicit N: AQE must not
    # coalesce the clustering away, or every priority lands in one file
    # and the delete has nothing to skip
    path = tempfile.mkdtemp(prefix="snapshot_del_")
    try:
        shutil.rmtree(path)  # write_snapshot wants to create data dirs fresh
        storage.write_snapshot(spark, v1, path)
        storage.delete_where_snapshot(
            spark, path, "o_orderpriority = '1-URGENT'"
        )
        cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        u = (
            storage.read_snapshot(spark, path, version=1)
            .withColumn("version", F.lit(1))
            .unionByName(
                storage.read_snapshot(spark, path).withColumn(
                    "version", F.lit(2)
                )
            )
        )
        return (
            u.groupBy("version")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("version")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q78b_snapshot_delete_dv",
    sql="""
    WITH v1 AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
    ), v2 AS (
        SELECT * FROM v1 WHERE NOT (o_orderpriority = '1-URGENT')
    ), v3 AS (
        SELECT * FROM v2 WHERE NOT (o_totalprice > 400000)
    ), u AS (
        SELECT 1 AS version, o_totalprice FROM v1
        UNION ALL SELECT 2, o_totalprice FROM v2
        UNION ALL SELECT 3, o_totalprice FROM v3
    )
    SELECT version, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM u GROUP BY 1 ORDER BY 1
    """,
)
def q78b_snapshot_delete_dv(spark, sf_dir):
    """DELETION-VECTOR delete — q78's merge-on-read twin
    (:func:`storage.delete_where_snapshot` ``mode="dv"``, the Delta
    DV / Iceberg v2 position-delete move): commit orders as version 1,
    DV-delete the '1-URGENT' rows (NO data file touched — positions go
    to per-file sidecar bitmaps; asserted structurally below: zero files
    rewritten, the data-file list byte-identical across versions), then
    DV-delete high-price rows ON TOP (the second vector must UNION with
    the first — the incremental-delete shape a daily GDPR erasure job
    produces), and read all three versions side by side. The oracle
    recomputes the three worlds logically, so a green row pins the
    sidecar encode/decode, the read-path anti-join, vector union across
    commits, and time travel through DV versions."""
    import json
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    v1 = t.orders.select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).repartition(8, "o_orderpriority")
    path = tempfile.mkdtemp(prefix="snapshot_dv_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, v1, path)
        r1 = storage.delete_where_snapshot(
            spark, path, "o_orderpriority = '1-URGENT'", mode="dv"
        )
        assert r1["files_rewritten"] == 0, "DV delete rewrote a data file"
        assert r1["dv_files_written"] > 0, "DV delete wrote no sidecar"
        r2 = storage.delete_where_snapshot(
            spark, path, "o_totalprice > 400000", mode="dv"
        )
        assert r2["files_rewritten"] == 0
        # the data-file list must be IDENTICAL across all three versions
        mdir = os.path.join(path, "_manifests")
        lists = []
        for v in (1, r1["version"], r2["version"]):
            with open(os.path.join(mdir, f"v{v}.json")) as f:
                lists.append(json.load(f)["files"])
        assert lists[0] == lists[1] == lists[2], "DV commit changed files"
        cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        u = (
            storage.read_snapshot(spark, path, version=1)
            .withColumn("version", F.lit(1))
            .unionByName(
                storage.read_snapshot(spark, path, version=r1["version"])
                .withColumn("version", F.lit(2))
            )
            .unionByName(
                storage.read_snapshot(spark, path)
                .withColumn("version", F.lit(3))
            )
        )
        return (
            u.groupBy("version")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("version")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q78c_dv_purge",
    sql="""
    WITH v1 AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
    ), v2 AS (
        SELECT * FROM v1 WHERE NOT (o_orderpriority = '1-URGENT')
    ), u AS (
        SELECT 1 AS version, o_totalprice FROM v1
        UNION ALL SELECT 2, o_totalprice FROM v2
        UNION ALL SELECT 3, o_totalprice FROM v2
        UNION ALL SELECT 4, o_totalprice FROM v2
                 WHERE NOT (o_totalprice > 400000)
    )
    SELECT version, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM u GROUP BY 1 ORDER BY 1
    """,
)
def q78c_dv_purge(spark, sf_dir):
    """DV PURGE — the merge-on-read maintenance verb
    (:func:`storage.purge_deletion_vectors`, Delta's ``REORG … APPLY
    (PURGE)``): version 1 commits orders, version 2 DV-deletes the
    '1-URGENT' rows (sidecars only), version 3 PURGES — every vector is
    materialized into rewritten files and dropped from the manifest
    (asserted structurally: v3 carries no vectors, and its file list
    differs), then version 4 DV-deletes high-price rows on the PURGED
    table, proving the delete→purge→delete cycle composes. Versions 2
    and 3 must be logically identical — the purge moves bytes, never
    rows — which is exactly what the oracle's duplicated v2 world pins,
    alongside the three real worlds."""
    import json
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    v1 = t.orders.select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).repartition(8, "o_orderpriority")
    path = tempfile.mkdtemp(prefix="snapshot_dvpurge_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, v1, path)
        r1 = storage.delete_where_snapshot(
            spark, path, "o_orderpriority = '1-URGENT'", mode="dv"
        )
        assert r1["dv_files_written"] > 0
        rp = storage.purge_deletion_vectors(spark, path)  # full REORG
        assert rp["files_purged"] == r1["dv_files_written"]
        assert rp["dvs_kept"] == 0
        mdir = os.path.join(path, "_manifests")
        with open(os.path.join(mdir, f"v{rp['version']}.json")) as f:
            m3 = json.load(f)
        assert "dv" not in m3, "purge left vectors in the manifest"
        r2 = storage.delete_where_snapshot(
            spark, path, "o_totalprice > 400000", mode="dv"
        )
        assert r2["files_rewritten"] == 0 and r2["dv_files_written"] > 0
        cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        u = None
        for i, v in enumerate(
            (1, r1["version"], rp["version"], r2["version"]), start=1
        ):
            part = storage.read_snapshot(spark, path, version=v) \
                .withColumn("version", F.lit(i))
            u = part if u is None else u.unionByName(part)
        return (
            u.groupBy("version")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("version")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q86_upsert_mor",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS tp,
               0 AS ci, CAST(0 AS BIGINT) AS seq
        FROM orders
    ), da AS (
        SELECT k, pri, tp + 1000, 1, CAST(1 AS BIGINT)
        FROM base WHERE k % 10 = 3
    ), db AS (
        SELECT k, pri, tp + 5000, 2, CAST(2 AS BIGINT)
        FROM base WHERE k % 20 = 3
        UNION ALL
        SELECT k + 10000000, pri, tp, 2, CAST(2 AS BIGINT)
        FROM base WHERE k % 1000 = 7
    ), u AS (
        SELECT * FROM base UNION ALL SELECT * FROM da
        UNION ALL SELECT * FROM db
    ), r AS (
        SELECT k, pri, tp,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY ci DESC, seq DESC) AS rn
        FROM u
    ), w AS (
        SELECT pri, tp FROM r WHERE rn = 1
    ), ph AS (
        SELECT 1 AS phase, pri, tp FROM w
        UNION ALL SELECT 2, pri, tp FROM w
    )
    SELECT phase, pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM ph GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q86_upsert_mor(spark, sf_dir):
    """MERGE-ON-READ upserts end-to-end
    (:func:`storage.upsert_delta_snapshot` /
    :func:`storage.compact_mor` — the UPDATE-side twin of q78b's
    deletion vectors): commit orders as the base, land two delta commits
    (updates touching ~10% of keys, the second OVERLAPPING the first
    plus genuine inserts — latest commit must win per key), read the
    resolved table (phase 1), MAJOR-COMPACT the chain into clean files,
    and read again (phase 2). Structural asserts inside: the two delta
    commits touch ZERO base files (file lists byte-identical across
    v1–v3), compaction drops the chain from the manifest. The oracle
    replays latest-wins logically and duplicates the world for both
    phases, so a green row pins delta ordering, overlap resolution,
    inserts, and compaction's resolve-once equivalence."""
    import json
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
        F.lit(0).cast("long").alias("seq"),
    )
    da = base.filter(F.col("k") % 10 == 3).withColumn(
        "tp", F.col("tp") + 1000
    ).withColumn("seq", F.lit(1).cast("long"))
    db = base.filter(F.col("k") % 20 == 3).withColumn(
        "tp", F.col("tp") + 5000
    ).withColumn("seq", F.lit(2).cast("long")).unionByName(
        base.filter(F.col("k") % 1000 == 7)
        .withColumn("k", F.col("k") + 10000000)
        .withColumn("seq", F.lit(2).cast("long"))
    )
    path = tempfile.mkdtemp(prefix="snapshot_mor_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, base, path)
        v2 = storage.upsert_delta_snapshot(spark, path, da, ["k"], "seq")
        v3 = storage.upsert_delta_snapshot(spark, path, db, ["k"], "seq")
        mdir = os.path.join(path, "_manifests")
        lists = []
        for v in (1, v2, v3):
            with open(os.path.join(mdir, f"v{v}.json")) as f:
                lists.append(json.load(f)["files"])
        assert lists[0] == lists[1] == lists[2], "delta commit touched base"
        pre = storage.read_snapshot(spark, path)
        v4 = storage.compact_mor(spark, path)
        with open(os.path.join(mdir, f"v{v4}.json")) as f:
            assert "mor" not in json.load(f), "compaction kept the chain"
        post = storage.read_snapshot(spark, path)
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        u = pre.withColumn("phase", F.lit(1)).unionByName(
            post.withColumn("phase", F.lit(2))
        )
        return (
            u.groupBy("phase", "pri")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("phase", "pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q86b_mor_schema_evolution",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS tp,
               0 AS ci, CAST(0 AS BIGINT) AS seq,
               CAST(NULL AS VARCHAR) AS note
        FROM orders
    ), d1 AS (
        SELECT k, pri, tp + 1000, 1, CAST(1 AS BIGINT),
               'n' || CAST(k AS VARCHAR)
        FROM base WHERE k % 10 = 3
    ), d2 AS (
        SELECT k, CAST(NULL AS VARCHAR), tp + 5000, 2, CAST(2 AS BIGINT),
               CAST(NULL AS VARCHAR)
        FROM base WHERE k % 20 = 7
    ), u AS (
        SELECT * FROM base UNION ALL SELECT * FROM d1
        UNION ALL SELECT * FROM d2
    ), r AS (
        SELECT k, pri, tp, note,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY ci DESC, seq DESC) AS rn
        FROM u
    )
    SELECT COALESCE(pri, 'none') AS grp, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           COUNT(note) AS notes
    FROM r WHERE rn = 1 GROUP BY 1 ORDER BY 1
    """,
)
def q86b_mor_schema_evolution(spark, sf_dir):
    """ADDITIVE SCHEMA EVOLUTION through the MOR delta chain
    (:func:`storage.upsert_delta_snapshot` round-8 semantics, pinned per
    VERDICT r8 "Next round" #1a): the base commits orders without a
    ``note`` column; delta 1 ADDS ``note`` (new column extends the
    committed schema — the q65 footer-union contract on the manifest
    layer); delta 2 OMITS the committed ``pri`` column entirely (its
    rows resolve with a typed-NULL ``pri``). The resolved read must
    project every commit to the merged schema — base and delta-2 rows
    get NULL ``note``, delta-2 winners get NULL ``pri`` — which is
    exactly ``_resolve_mor``'s ``_proj`` (storage.py) under test.
    Structural asserts inside: no delta commit touches a base file, the
    final manifest's schema carries ``note``, and time travel to v1
    still reads the PRE-evolution schema. The oracle replays the
    latest-wins + typed-NULL union logically, so a green row pins both
    evolution directions end-to-end."""
    import json
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
        F.lit(0).cast("long").alias("seq"),
    )
    d1 = (
        base.filter(F.col("k") % 10 == 3)
        .withColumn("tp", F.col("tp") + 1000)
        .withColumn("seq", F.lit(1).cast("long"))
        .withColumn("note", F.concat(F.lit("n"), F.col("k").cast("string")))
    )
    d2 = (
        base.filter(F.col("k") % 20 == 7)
        .select(
            "k",
            (F.col("tp") + 5000).alias("tp"),
            F.lit(2).cast("long").alias("seq"),
        )
    )
    path = tempfile.mkdtemp(prefix="snapshot_morevo_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, base, path)
        v2 = storage.upsert_delta_snapshot(spark, path, d1, ["k"], "seq")
        v3 = storage.upsert_delta_snapshot(spark, path, d2, ["k"], "seq")
        mdir = os.path.join(path, "_manifests")
        mans = {}
        for v in (1, v2, v3):
            with open(os.path.join(mdir, f"v{v}.json")) as f:
                mans[v] = json.load(f)
        assert (
            mans[1]["files"] == mans[v2]["files"] == mans[v3]["files"]
        ), "delta commit touched base"
        assert "note" in mans[v3]["schema"], "added column not committed"
        assert "pri" in mans[v3]["schema"], "omitted column dropped"
        assert "note" not in storage.read_snapshot(
            spark, path, version=1
        ).columns, "time travel leaked a later column"
        resolved = storage.read_snapshot(spark, path)
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        return (
            resolved.groupBy(
                F.coalesce(F.col("pri"), F.lit("none")).alias("grp")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents).alias("sum_cents"),
                F.count("note").alias("notes"),
            )
            .orderBy("grp")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q86c_mor_pruned_read",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_totalprice AS tp,
               0 AS ci, CAST(0 AS BIGINT) AS seq
        FROM orders
    ), d1 AS (
        SELECT k, tp + 1000, 1, CAST(1 AS BIGINT)
        FROM base WHERE k % 7 = 0
    ), d2 AS (
        SELECT k, tp + 3000, 2, CAST(2 AS BIGINT)
        FROM base WHERE k % 14 = 0
    ), d3 AS (
        SELECT k + 20000000, tp, 3, CAST(3 AS BIGINT)
        FROM base WHERE k % 500 = 11
    ), u AS (
        SELECT * FROM base UNION ALL SELECT * FROM d1
        UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3
    ), r AS (
        SELECT k, tp,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY ci DESC, seq DESC) AS rn
        FROM u
    ), w AS (
        SELECT k, tp FROM r WHERE rn = 1 AND k BETWEEN 100 AND 1200
    ), ph AS (
        SELECT 1 AS phase, k, tp FROM w
        UNION ALL SELECT 2, k, tp FROM w
    )
    SELECT phase, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM ph GROUP BY 1 ORDER BY 1
    """,
)
def q86c_mor_pruned_read(spark, sf_dir):
    """MOR KEY-COLUMN FILE SKIPPING + MINOR COMPACTION end-to-end (the
    two r9 storage verbs, VERDICT r8 "Next round" #3/#5): commit orders
    range-clustered WITH per-file stats, land three delta commits (two
    overlapping update waves + inserts, each range-clustered so their
    footer stats are tight), then take a windowed read on the MOR key —
    ``read_snapshot_pruned`` must skip non-intersecting files from base
    AND chain independently before latest-wins resolution (phase 1).
    MINOR-compact the chain (base untouched byte-for-byte, chain folds
    to one group — both asserted structurally) and window-read again
    (phase 2). The oracle replays latest-wins + the window logically and
    duplicates the world per phase, so a green row pins pruning
    soundness on the key column and minor-compaction's fold-equivalence
    in one hash."""
    import json
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("tp"),
        F.lit(0).cast("long").alias("seq"),
    )
    d1 = (
        base.filter(F.col("k") % 7 == 0)
        .withColumn("tp", F.col("tp") + 1000)
        .withColumn("seq", F.lit(1).cast("long"))
        .repartitionByRange(4, "k")
    )
    d2 = (
        base.filter(F.col("k") % 14 == 0)
        .withColumn("tp", F.col("tp") + 3000)
        .withColumn("seq", F.lit(2).cast("long"))
        .repartitionByRange(4, "k")
    )
    d3 = (
        base.filter(F.col("k") % 500 == 11)
        .withColumn("k", F.col("k") + 20000000)
        .withColumn("seq", F.lit(3).cast("long"))
        .repartitionByRange(2, "k")
    )
    path = tempfile.mkdtemp(prefix="snapshot_morprune_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot_with_stats(
            spark, base, path, stats_cols=["k"], range_col="k", n_files=8
        )
        for d in (d1, d2, d3):
            v = storage.upsert_delta_snapshot(spark, path, d, ["k"], "seq")
        mdir = os.path.join(path, "_manifests")
        with open(os.path.join(mdir, f"v{v}.json")) as f:
            man = json.load(f)
        chain = [rel for grp in man["mor"]["deltas"] for rel in grp]
        assert all(
            "k" in man["stats"].get(rel, {}) for rel in chain
        ), "delta commit lost its footer stats"
        pre = storage.read_snapshot_pruned(spark, path, "k", 100, 1200)
        # the window must actually skip files on BOTH sides of the chain
        listed = {os.path.basename(p) for p in pre.inputFiles()}
        base_names = {os.path.basename(r) for r in man["files"]}
        chain_names = {os.path.basename(r) for r in chain}
        assert base_names - listed, "window pruned no base file"
        assert chain_names - listed, "window pruned no delta file"
        pre = pre.localCheckpoint(eager=True)
        v_minor = storage.compact_mor(spark, path, minor=True)
        with open(os.path.join(mdir, f"v{v_minor}.json")) as f:
            man2 = json.load(f)
        assert man2["files"] == man["files"], "minor touched base"
        assert len(man2["mor"]["deltas"]) == 1, "chain not folded"
        post = storage.read_snapshot_pruned(
            spark, path, "k", 100, 1200
        ).localCheckpoint(eager=True)
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        u = pre.withColumn("phase", F.lit(1)).unionByName(
            post.withColumn("phase", F.lit(2))
        )
        return (
            u.groupBy("phase")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("k").alias("sum_k"),
                F.sum(cents).alias("sum_cents"),
            )
            .orderBy("phase")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q88_merge_delete_feed",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS tp,
               CAST(0 AS BIGINT) AS seq
        FROM orders
    ), feed AS (
        SELECT k, pri, tp + 500 AS tp, CAST(1 AS BIGINT) AS seq, 'U' AS op
        FROM base WHERE k % 9 = 1
        UNION ALL
        SELECT k, pri, CAST(0 AS DOUBLE), CAST(1 AS BIGINT), 'D'
        FROM base WHERE k % 9 = 4
        UNION ALL
        SELECT k, pri, tp + 9000, CAST(2 AS BIGINT), 'I'
        FROM base WHERE k % 90 = 4
        UNION ALL
        SELECT k + 30000000, pri, CAST(0 AS DOUBLE), CAST(1 AS BIGINT), 'D'
        FROM base WHERE k % 1000 = 13
    ), latest AS (
        SELECT k, pri, tp, seq, op,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM feed
    ), kept AS (
        SELECT k, pri, tp, seq FROM latest WHERE rn = 1 AND op <> 'D'
    ), untouched AS (
        SELECT b.* FROM base b
        WHERE NOT EXISTS (
            SELECT 1 FROM latest t WHERE t.rn = 1 AND t.k = b.k
        )
    ), final AS (
        SELECT * FROM untouched UNION ALL SELECT * FROM kept
    )
    SELECT pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM final GROUP BY pri ORDER BY pri
    """,
)
def q88_merge_delete_feed(spark, sf_dir):
    """FULL MERGE with DELETE markers (:func:`storage.merge_apply_changes`
    — the CDC verb `merge_upsert_snapshot` cannot express, r9): a feed
    carrying op ∈ {U, I, D} applies to the orders snapshot in one verb —
    updates replace, deletes REMOVE the key, a delete for an absent key
    is a no-op, and an insert arriving after a delete in the SAME feed
    wins on seq (the k % 90 cohort carries both, pinning intra-feed
    compaction order). The verb is the feed's per-key compaction plus
    one MERGE (DELETE on 'D', UPDATE, INSERT only a non-delete), so
    only files holding a changed key are rewritten. Snapshot isolation:
    the merge commits a new version (asserted), the pre-merge world
    stays time-travelable (asserted). The oracle replays compaction +
    anti-join + union logically, so a green row pins every op path in
    one hash."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
        F.lit(0).cast("long").alias("seq"),
    )
    feed = (
        base.filter(F.col("k") % 9 == 1)
        .withColumn("tp", F.col("tp") + 500)
        .withColumn("seq", F.lit(1).cast("long"))
        .withColumn("op", F.lit("U"))
        .unionByName(
            base.filter(F.col("k") % 9 == 4)
            .withColumn("tp", F.lit(0.0))
            .withColumn("seq", F.lit(1).cast("long"))
            .withColumn("op", F.lit("D"))
        )
        .unionByName(
            base.filter(F.col("k") % 90 == 4)
            .withColumn("tp", F.col("tp") + 9000)
            .withColumn("seq", F.lit(2).cast("long"))
            .withColumn("op", F.lit("I"))
        )
        .unionByName(
            base.filter(F.col("k") % 1000 == 13)
            .withColumn("k", F.col("k") + 30000000)
            .withColumn("tp", F.lit(0.0))
            .withColumn("seq", F.lit(1).cast("long"))
            .withColumn("op", F.lit("D"))
        )
    )
    path = tempfile.mkdtemp(prefix="snapshot_mergedel_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, base, path)
        v = storage.merge_apply_changes(spark, path, feed, ["k"], "seq")
        assert v == 2, "merge must commit a new version"
        assert storage.read_snapshot(spark, path, version=1).count() == (
            t.orders.count()
        ), "pre-merge version must stay intact"
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot(spark, path)
            .groupBy("pri")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents).alias("sum_cents"),
            )
            .orderBy("pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q89_write_audit_publish",
    sql="""
    SELECT o_orderpriority AS pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR((o_totalprice + 100) * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def q89_write_audit_publish(spark, sf_dir):
    """WRITE-AUDIT-PUBLISH (:func:`storage.stage_snapshot` /
    :func:`read_staged` / :func:`publish_snapshot` /
    :func:`abandon_staged` — Iceberg's WAP workflow on the manifest
    commit protocol, r9): commit orders as v1; stage a BAD candidate
    (prices corrupted negative), audit it while STAGED — readers of the
    table must still see v1 (asserted) — and abandon it (files gone,
    asserted); stage a GOOD candidate (prices +100), audit passes,
    publish. The audit reads the exact bytes publish would commit, and
    publish is one atomic hard-link, so nothing can drift in between.
    Structural asserts pin: no phantom version from the failed
    candidate (versions == [1, 2]), the bad files reclaimed, the staged
    read invisible to ``read_snapshot``. The returned aggregate is the
    published world; the oracle states it directly over orders."""
    import glob
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
    )
    path = tempfile.mkdtemp(prefix="snapshot_wap_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, base, path)
        n_base = base.count()
        # candidate 1: corrupted — every 5th price flips negative
        bad = base.withColumn(
            "tp",
            F.when(F.col("k") % 5 == 0, -F.col("tp")).otherwise(F.col("tp")),
        )
        staged_bad = storage.stage_snapshot(spark, bad, path)
        # while staged: the table still reads as v1, full and clean
        cur = storage.read_snapshot(spark, path)
        assert cur.filter(F.col("tp") < 0).count() == 0
        assert cur.count() == n_base
        # audit the staged bytes -> violations -> abandon
        violations = (
            storage.read_staged(spark, path, staged_bad)
            .filter(F.col("tp") < 0)
            .count()
        )
        assert violations > 0, "fixture must trip the audit"
        storage.abandon_staged(path, staged_bad)
        assert not glob.glob(
            os.path.join(path, "data", staged_bad["token"], "*")
        ), "abandoned candidate left files behind"
        # candidate 2: clean — audit passes, publish atomically
        good = base.withColumn("tp", F.col("tp") + 100)
        staged_good = storage.stage_snapshot(spark, good, path)
        audited = storage.read_staged(spark, path, staged_good)
        assert audited.filter(F.col("tp") < 0).count() == 0
        assert audited.count() == n_base
        v = storage.publish_snapshot(path, staged_good)
        assert storage.snapshot_versions(path) == [1, v], (
            "failed candidate must not burn a version"
        )
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot(spark, path)
            .groupBy("pri")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents).alias("sum_cents"),
            )
            .orderBy("pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q66c_snapshot_tags",
    sql="""
    WITH w AS (
        SELECT o_orderpriority AS pri, o_totalprice AS tp FROM orders
    ), ph AS (
        SELECT 1 AS phase, pri, tp FROM w
        UNION ALL SELECT 2, pri, tp + 100 FROM w
    )
    SELECT phase, pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM ph GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q66c_snapshot_tags(spark, sf_dir):
    """NAMED TAGS + tag-aware RETENTION (:func:`storage.tag_snapshot` /
    ``read_snapshot(tag=...)`` / tag-retaining ``vacuum_snapshots``, r9 —
    Iceberg tags on the manifest layer): commit orders (v1), tag it
    ``audit`` — the compliance-baseline use case — then land two more
    overwrites and vacuum with ``keep_last=1``. The tagged v1 must
    SURVIVE the vacuum (read by name, phase 1) while the untagged v2
    expires (FileNotFoundError, asserted); phase 2 is the latest world.
    Immutability is asserted inside: re-pointing the tag without
    dropping it first refuses. The oracle states both phases directly,
    so a green row pins that retention honored the tag and the tag still
    names the ORIGINAL bytes after two overwrites and a vacuum."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
    )
    path = tempfile.mkdtemp(prefix="snapshot_tags_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, base, path)
        storage.tag_snapshot(path, "audit")
        storage.write_snapshot(
            spark, base.withColumn("tp", F.col("tp") + 50), path
        )
        v3 = storage.write_snapshot(
            spark, base.withColumn("tp", F.col("tp") + 100), path
        )
        try:
            storage.tag_snapshot(path, "audit", version=v3)
            raise AssertionError("tag re-point must refuse")
        except ValueError:
            pass
        storage.vacuum_snapshots(path, keep_last=1)
        assert storage.snapshot_versions(path) == [1, v3], (
            "vacuum must keep exactly the tagged version + the latest"
        )
        try:
            storage.read_snapshot(spark, path, version=2)
            raise AssertionError("untagged v2 must be expired")
        except FileNotFoundError:
            pass
        tagged = storage.read_snapshot(spark, path, tag="audit")
        latest = storage.read_snapshot(spark, path)
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        u = tagged.withColumn("phase", F.lit(1)).unionByName(
            latest.withColumn("phase", F.lit(2))
        )
        return (
            u.groupBy("phase", "pri")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents).alias("sum_cents"),
            )
            .orderBy("phase", "pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q66d_time_travel_asof",
    sql="""
    WITH w AS (
        SELECT o_orderpriority AS pri, o_totalprice AS tp FROM orders
    ), ph AS (
        SELECT 1 AS phase, pri, tp FROM w
        UNION ALL SELECT 2, pri, tp + 200 FROM w
    )
    SELECT phase, pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM ph GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q66d_time_travel_asof(spark, sf_dir):
    """TIMESTAMP time travel — ``AS OF <instant>``
    (:func:`storage.version_asof` / ``read_snapshot(asof=...)``, r9):
    every manifest records its commit instant at hard-link time, and an
    AS OF read resolves to the newest version committed at or before
    the instant. Commit orders (v1) then an overwrite (+200, v2); the
    midpoint instant must resolve to v1 (phase 1) and a post-commit
    instant to v2 (phase 2). Asserted inside: an instant BEFORE retained
    history fails loud (answering from a later version would silently
    answer a different question — the vacuum-gap contract), and the two
    commit instants are strictly ordered. The oracle states both worlds
    directly."""
    import json
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
    )
    path = tempfile.mkdtemp(prefix="snapshot_asof_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, base, path)
        storage.write_snapshot(
            spark, base.withColumn("tp", F.col("tp") + 200), path
        )
        mdir = os.path.join(path, "_manifests")
        cts = []
        for v in (1, 2):
            with open(os.path.join(mdir, f"v{v}.json")) as f:
                cts.append(json.load(f)["committed_at"])
        assert cts[0] < cts[1], "commit instants must be strictly ordered"
        mid = (cts[0] + cts[1]) / 2
        assert storage.version_asof(path, mid) == 1
        assert storage.version_asof(path, cts[1] + 1) == 2
        try:
            storage.version_asof(path, cts[0] - 1)
            raise AssertionError("pre-history instant must fail loud")
        except FileNotFoundError:
            pass
        v1 = storage.read_snapshot(spark, path, asof=mid)
        v2 = storage.read_snapshot(spark, path, asof=cts[1] + 1)
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        u = v1.withColumn("phase", F.lit(1)).unionByName(
            v2.withColumn("phase", F.lit(2))
        )
        return (
            u.groupBy("phase", "pri")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents).alias("sum_cents"),
            )
            .orderBy("phase", "pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q77b_optimize_incremental",
    sql="""
    SELECT l_partkey, COUNT(*) AS n,
           CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln
    FROM lineitem WHERE l_partkey BETWEEN 10 AND 50
    GROUP BY l_partkey ORDER BY l_partkey
    """,
)
def q77b_optimize_incremental(spark, sf_dir):
    """INCREMENTAL OPTIMIZE end-to-end
    (:func:`storage.optimize_snapshot_incremental` — the only OPTIMIZE a
    100 TB table can afford daily): commit half of lineitem and
    FULL-optimize it (the clustered baseline), append the other half
    randomly laid out, then incrementally optimize SINCE the baseline —
    only the appended files are rewritten; every baseline file carries
    byte-identically (asserted structurally inside: the kept set equals
    the baseline manifest verbatim). The final pruned band aggregate
    equals the whole-table oracle, pinning that batched clustering loses
    no row and the pruned read composes across independently-clustered
    batches."""
    import json
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    li = t.lineitem.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    half_a = li.filter(F.col("l_orderkey") % 2 == 0)
    half_b = li.filter(F.col("l_orderkey") % 2 == 1)
    path = tempfile.mkdtemp(prefix="snap_opt_q77b_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(
            spark, half_a.repartition(8, "l_orderkey"), path,
            stats_cols=["l_partkey", "l_quantity"],
        )
        base_v = storage.optimize_snapshot(
            spark, path, ["l_partkey", "l_quantity"], n_shards=4
        )
        storage.write_snapshot(
            spark, half_b.repartition(8, "l_orderkey"), path,
            stats_cols=["l_partkey", "l_quantity"], mode="append",
        )
        res = storage.optimize_snapshot_incremental(
            spark, path, ["l_partkey", "l_quantity"],
            since_version=base_v, n_shards=4,
        )
        mdir = os.path.join(path, "_manifests")
        with open(os.path.join(mdir, f"v{base_v}.json")) as f:
            base_files = json.load(f)["files"]
        with open(os.path.join(mdir, f"v{res['version']}.json")) as f:
            final_files = json.load(f)["files"]
        assert final_files[: len(base_files)] == base_files, (
            "incremental optimize touched a baseline file"
        )
        assert res["files_clustered"] > 0 and res["files_kept"] == len(
            base_files
        )
        # a second incremental pass from the new version is a no-op
        res2 = storage.optimize_snapshot_incremental(
            spark, path, ["l_partkey", "l_quantity"],
            since_version=res["version"],
        )
        assert res2["version"] == res["version"]
        return (
            storage.read_snapshot_pruned(spark, path, "l_partkey", 10, 50)
            .groupBy("l_partkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_linenumber").alias("sum_ln"),
            )
            .orderBy("l_partkey")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q89b_snapshot_branch",
    sql="""
    WITH b AS (
        SELECT o_orderkey,
               (ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) * 31
                + ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1))) % 8
                   AS bucket,
               o_totalprice AS price
        FROM orders
    ), main_w AS (
        SELECT bucket, price FROM b
    ), branch_w AS (
        SELECT bucket,
               price + CASE WHEN bucket = 0 THEN 1000 ELSE 0 END AS price
        FROM b WHERE bucket <> 7
    ), phased AS (
        SELECT 'main_before' AS phase, bucket, price FROM main_w
        UNION ALL
        SELECT 'branch', bucket, price FROM branch_w
        UNION ALL
        SELECT 'main_after', bucket, price FROM branch_w
    )
    SELECT phase, CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM phased GROUP BY phase, bucket ORDER BY phase, bucket
    """,
)
def q89b_snapshot_branch(spark, sf_dir):
    """SNAPSHOT BRANCHES end-to-end (`storage.create_branch` /
    `write_snapshot_to_branch` / `read_branch` / `fast_forward` — Iceberg
    branch refs generalizing q89's one-candidate WAP to N audited
    commits): fork a branch off main v1, land TWO branch commits (reprice
    bucket 0, then drop bucket 7) that main readers must not see, read
    all three worlds — main-before (read AFTER the branch commits, the
    isolation pin), the branch head, and main-after-fast-forward (must
    equal the branch head, published as main v2 by metadata only). The
    oracle states each world's per-bucket aggregate, so a green row pins
    isolation, branch-chain resolution (second commit supersedes the
    first), and the fast-forward publish in one pass. The refusal rules
    (diverged main, racing creators, vacuum interplay) are pinned in
    tests/test_branches.py."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.operators.analytics import hash_bucket

    t = load_tables(spark, sf_dir)
    b = t.orders.select(
        "o_orderkey",
        hash_bucket("o_orderkey", 8).cast("int").alias("bucket"),
        F.col("o_totalprice").alias("price"),
    )
    path = tempfile.mkdtemp(prefix="q89b_branch_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, b, path)  # main v1
        storage.create_branch(path, "fix")
        # branch commit 1: reprice bucket 0
        c1 = b.withColumn(
            "price",
            F.col("price")
            + F.when(F.col("bucket") == 0, 1000).otherwise(0),
        )
        storage.write_snapshot_to_branch(spark, c1, path, "fix")
        # branch commit 2: drop bucket 7 (supersedes commit 1's world)
        storage.write_snapshot_to_branch(
            spark, c1.filter("bucket <> 7"), path, "fix"
        )

        def agg(df, phase):
            cents = F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long")
            return df.groupBy("bucket").agg(
                F.count("*").alias("n"), F.sum(cents).alias("sum_cents")
            ).select(F.lit(phase).alias("phase"), "bucket", "n", "sum_cents")

        main_before = agg(storage.read_snapshot(spark, path), "main_before")
        branch_w = agg(storage.read_branch(spark, path, "fix"), "branch")
        v = storage.fast_forward(path, "fix")
        assert v == 2 and storage.snapshot_versions(path) == [1, 2]
        main_after = agg(storage.read_snapshot(spark, path), "main_after")
        return (
            main_before.unionByName(branch_w)
            .unionByName(main_after)
            .orderBy("phase", "bucket")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q86i_mor_aggregate",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ), eff AS (
        SELECT k, pri,
               cents + CASE WHEN k % 10 = 3 THEN 100000 ELSE 0 END
                     + CASE WHEN k % 100 = 7 THEN 5000 ELSE 0 END
                   AS total,
               GREATEST(cents,
                        CASE WHEN k % 100 = 7 THEN cents * 2
                             ELSE cents END) AS peak,
               (pri = '2-HIGH' AND k % 11 = 0) AS doomed
        FROM base
    ), fin AS (
        SELECT CASE WHEN doomed THEN NULL ELSE pri END AS pri,
               CASE WHEN doomed THEN 700
                    ELSE total
                         + CASE WHEN k % 200 = 0 THEN 700 ELSE 0 END
                   END AS total,
               CASE WHEN doomed THEN NULL ELSE peak END AS peak
        FROM eff
        WHERE k % 200 = 0 OR NOT doomed
    )
    SELECT pri, COUNT(*) AS n,
           CAST(SUM(total) AS BIGINT) AS sum_total,
           CAST(SUM(COALESCE(peak, 0)) AS BIGINT) AS sum_peak
    FROM fin GROUP BY 1 ORDER BY 1
    """,
)
def q86i_mor_aggregate(spark, sf_dir):
    """AGGREGATION MERGE ENGINE (r14 — Paimon's third merge engine,
    ``upsert_delta_snapshot(merge_mode='aggregate', agg_spec=...)``):
    each column folds by its declared function over the chain — here
    ``total`` SUMs (delta rows carry increments, not totals — the
    metrics-rollup CDC shape), ``peak`` takes MAX, ``pri`` keeps the
    last non-null — with base rows as the initial accumulator and the
    whole fold one key-partitioned window pass. A tombstone DELETE
    (judged against the ACCUMULATED view) removes AND resets: a
    later increment on a deleted century key re-creates it with ONLY
    that increment (total=700, NULL pri/peak — pinned by the NULL
    oracle group), never the pre-delete accumulation. Integer cents
    throughout so every sum is bit-exact on both engines. Spec
    immutability, the minor-fold associativity (partial accumulators
    fold without tombstones), and the feed's accumulated-image
    fallback are pinned in tests/test_mor_partial.py."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        cents.alias("total"),
        cents.alias("peak"),
        F.lit(0).cast("long").alias("seq"),
    )
    spec = {"total": "sum", "peak": "max", "pri": "last"}
    path = tempfile.mkdtemp(prefix="q86i_agg_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, base, path)

        def up(df):
            storage.upsert_delta_snapshot(
                spark, path, df, ["k"], "seq",
                merge_mode="aggregate", agg_spec=spec,
            )

        up(
            base.filter(F.col("k") % 10 == 3).select(
                "k", F.lit(100000).cast("long").alias("total"),
                F.lit(1).cast("long").alias("seq"),
            )
        )
        up(
            base.filter(F.col("k") % 100 == 7).select(
                "k", F.lit(5000).cast("long").alias("total"),
                (F.col("peak") * 2).alias("peak"),
                F.lit(2).cast("long").alias("seq"),
            )
        )
        r = storage.delete_where_snapshot(
            spark, path, "pri = '2-HIGH' AND k % 11 = 0"
        )
        assert r["files_rewritten"] == 0 and r["rows_deleted"] > 0
        up(
            base.filter(F.col("k") % 200 == 0).select(
                "k", F.lit(700).cast("long").alias("total"),
                F.lit(4).cast("long").alias("seq"),
            )
        )
        return (
            storage.read_snapshot(spark, path)
            .groupBy("pri")
            .agg(
                F.count("*").alias("n"),
                F.sum("total").cast("long").alias("sum_total"),
                F.sum(F.coalesce(F.col("peak"), F.lit(0)))
                .cast("long").alias("sum_peak"),
            )
            .orderBy("pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q86h_mor_partial_update",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri,
               o_totalprice AS tp
        FROM orders
    ), eff AS (
        SELECT k,
               CASE WHEN k % 100 = 7 THEN 'X-PATCHED' ELSE pri END AS pri,
               CASE WHEN k % 10 = 3 THEN tp + 1000 ELSE tp END AS tp,
               (pri = '1-URGENT' AND k % 9 = 0 AND k % 100 <> 7)
                   AS doomed
        FROM base
    ), fin AS (
        SELECT CASE WHEN k % 500 = 0 AND doomed THEN NULL
                    ELSE pri END AS pri,
               CASE WHEN k % 500 = 0 THEN 999.5 ELSE tp END AS tp
        FROM eff
        WHERE k % 500 = 0 OR NOT doomed
    ), ph AS (
        SELECT 1 AS phase, pri, tp FROM fin
        UNION ALL SELECT 2, pri, tp FROM fin
    )
    SELECT phase, pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM ph GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q86h_mor_partial_update(spark, sf_dir):
    """PARTIAL-UPDATE MERGE MODE on a MOR table (r14 — Paimon
    partial-update / Hudi PARTIAL_UPDATE payload, via
    ``upsert_delta_snapshot(merge_mode='partial')``): delta rows patch
    ONLY their non-NULL columns — NULL means "keep the prior value" —
    so a CDC feed can send just the columns that changed instead of
    full images, and resolution takes the NEWEST NON-NULL per column
    (one key-partitioned window pass, no self-join). Exercised per
    semantic: a tp-only patch keeps pri, a pri-only patch keeps tp
    (including the earlier tp patch — per-COLUMN wins compose across
    commits), a tombstone DELETE judged against the PATCHED view both
    removes and RESETS its keys (a later tp-only patch re-creates them
    with NULL pri — pre-delete values can never resurrect, pinned by
    the NULL-pri oracle group), and phase 2 re-reads after MAJOR
    compaction (the merged view materializes; partial chains refuse
    tombstone-bearing minor folds by design). The feed's
    resolved-image fallback and the UPDATE/MERGE walls are pinned in
    tests/test_mor_partial.py."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
        F.lit(0).cast("long").alias("seq"),
    )
    path = tempfile.mkdtemp(prefix="q86h_partial_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, base, path)
        p1 = base.filter(F.col("k") % 10 == 3).select(
            "k", (F.col("tp") + 1000).alias("tp"),
            F.lit(1).cast("long").alias("seq"),
        )
        storage.upsert_delta_snapshot(
            spark, path, p1, ["k"], "seq", merge_mode="partial"
        )
        p2 = base.filter(F.col("k") % 100 == 7).select(
            "k", F.lit("X-PATCHED").alias("pri"),
            F.lit(2).cast("long").alias("seq"),
        )
        storage.upsert_delta_snapshot(
            spark, path, p2, ["k"], "seq", merge_mode="partial"
        )
        r = storage.delete_where_snapshot(
            spark, path, "pri = '1-URGENT' AND k % 9 = 0"
        )
        assert r["files_rewritten"] == 0 and r["rows_deleted"] > 0
        p3 = base.filter(F.col("k") % 500 == 0).select(
            "k", F.lit(999.5).alias("tp"),
            F.lit(4).cast("long").alias("seq"),
        )
        storage.upsert_delta_snapshot(
            spark, path, p3, ["k"], "seq", merge_mode="partial"
        )
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")

        def agg(df, phase):
            return (
                df.groupBy("pri")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(cents).cast("long").alias("sum_cents"),
                )
                .select(F.lit(phase).alias("phase"), "*")
            )

        ph1 = agg(storage.read_snapshot(spark, path), 1)
        storage.compact_mor(spark, path)
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        assert "mor" not in man, "major compaction must shed the chain"
        ph2 = agg(storage.read_snapshot(spark, path), 2)
        return (
            ph1.unionByName(ph2)
            .orderBy("phase", "pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q86g_mor_branch_dml",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri,
               o_totalprice AS tp
        FROM orders
    ), res1 AS (
        SELECT k, pri,
               CASE WHEN k % 10 = 3 THEN tp + 1000 ELSE tp END AS tp
        FROM base
    ), w AS (
        SELECT k, pri,
               CASE WHEN k % 100 = 0 THEN tp + 9
                    WHEN k % 10 = 7 THEN tp + 55
                    ELSE tp END AS tp
        FROM res1
        WHERE k % 10 = 7 OR NOT (pri = '3-MEDIUM' AND k % 5 = 0)
    )
    SELECT pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM w GROUP BY 1 ORDER BY 1
    """,
)
def q86g_mor_branch_dml(spark, sf_dir):
    """Staged CDC on a LIVE MOR table (r14 — ``branch=`` on the
    delta-chain verbs): fork an audit branch of a base+delta MOR table,
    then stage three chain commits ON THE BRANCH — a tombstone DELETE
    (medium-priority multiples of five), a CDC UPSERT batch (+55 on the
    ``k%10=7`` keys, which RESURRECTS any of them the delete had
    tombstoned — latest-wins across branch commits, pinned by the
    oracle), and a MERGE price adjustment (+9 on century keys,
    ``insert=False`` so tombstoned keys stay dead) — while main's chain
    is asserted byte-identical mid-flight. :func:`storage.fast_forward`
    publishes the staged chain as one metadata-only main version. The
    oracle folds the same three ops over orders; a green row pins
    branch-chain ordering, tombstone resurrection semantics and the
    publish. Watermark/racing pins live in tests/test_branches.py."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
        F.lit(0).cast("long").alias("seq"),
    )
    d1 = base.filter(F.col("k") % 10 == 3).withColumn(
        "tp", F.col("tp") + 1000
    ).withColumn("seq", F.lit(1).cast("long"))
    path = tempfile.mkdtemp(prefix="q86g_mor_branch_")
    try:
        shutil.rmtree(path)

        def _fixture():
            storage.write_snapshot(spark, base, path)
            storage.upsert_delta_snapshot(spark, path, d1, ["k"], "seq")

        # r15 (guide §2.6): the n_main row-count bound reads only the
        # source table — it rides the fixture's window instead of
        # serializing behind the two commits.
        _, n_main = run_concurrently(_fixture, lambda: base.count())
        main_v = storage.snapshot_versions(path)[-1]
        storage.create_branch(path, "audit")
        r = storage.delete_where_snapshot(
            spark, path, "pri = '3-MEDIUM' AND k % 5 = 0",
            branch="audit",
        )
        assert r["files_rewritten"] == 0 and r["version"] == 1
        # main view = base+d1 — pinned: the branch upsert, the merge
        # source and the mid-flight assert below all derive from it, and
        # without the checkpoint each re-runs the MOR resolve window
        # (guide §1.2: don't recompute what three consumers share)
        res1 = storage.read_snapshot(spark, path).localCheckpoint(
            eager=True
        )
        u2 = (
            res1.filter(F.col("k") % 10 == 7)
            .withColumn("tp", F.col("tp") + 55)
            .withColumn("seq", F.lit(2).cast("long"))
        )
        assert storage.upsert_delta_snapshot(
            spark, path, u2, ["k"], "seq", branch="audit"
        ) == 2
        src = res1.filter(F.col("k") % 100 == 0).select("k", "tp")
        assert storage.merge_into_snapshot(
            spark, path, src, ["k"], update_set={"tp": "src_tp + 9"},
            insert=False, branch="audit",
        ) == 3
        # main untouched by three staged chain commits
        assert storage.snapshot_versions(path)[-1] == main_v
        assert storage.read_snapshot(spark, path).count() == n_main
        storage.fast_forward(path, "audit")
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot(spark, path)
            .groupBy("pri")
            .agg(
                F.count("*").alias("n"),
                F.sum(cents).cast("long").alias("sum_cents"),
            )
            .orderBy("pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q89c_branch_dml_wap",
    sql="""
    WITH kept AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri,
               o_totalprice AS tp
        FROM orders WHERE o_totalprice >= 1000
    )
    SELECT CASE WHEN k % 100 = 0 THEN 'URGENT-AUDIT' ELSE pri END AS pri,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(
               (CASE WHEN k % 500 = 0 THEN tp + 1000 ELSE tp END) * 100
               + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM kept GROUP BY 1 ORDER BY 1
    """,
)
def q89c_branch_dml_wap(spark, sf_dir):
    """DML-complete WRITE-AUDIT-PUBLISH (r14 — ``branch=`` on the DML
    triad): q89 stages a blind candidate write and q89b stages branch
    WRITES, but a real audit session wants to stage the exact
    delete/update/merge it would run on main. Here the quarantine flow
    runs entirely on a branch — DELETE the sub-1000 orders, UPDATE the
    century keys' priority, MERGE a CDC price adjustment
    (``insert=False``: deleted keys in the batch match nothing and do
    NOT resurrect) — while main provably still serves the unaudited
    world (asserted mid-flight), then :func:`storage.fast_forward`
    publishes all three staged commits as ONE metadata-only main
    version. The oracle states the final world directly over orders;
    a green row pins the branch-DML read/modify/commit chain, the
    clause ordering, and the fast-forward publish. Racing-writer
    refusal and vacuum interplay are pinned in tests/test_branches.py
    (TestBranchDml)."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
    )
    path = tempfile.mkdtemp(prefix="q89c_branch_dml_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, base, path)
        n_main = base.count()
        storage.create_branch(path, "audit")
        storage.delete_where_snapshot(
            spark, path, F.col("tp") < 1000, branch="audit"
        )
        storage.update_where_snapshot(
            spark, path, {"pri": F.lit("URGENT-AUDIT")},
            F.col("k") % 100 == 0, branch="audit",
        )
        cdc = base.filter(F.col("k") % 500 == 0).select("k", "tp")
        storage.merge_into_snapshot(
            spark, path, cdc, ["k"],
            update_set={"tp": "src_tp + 1000"}, insert=False,
            branch="audit",
        )
        # audit gate: the branch world is clean, main is untouched
        audited = storage.read_branch(spark, path, "audit")
        assert audited.filter(F.col("tp") < 1000).count() == 0
        assert storage.read_snapshot(spark, path).count() == n_main
        storage.fast_forward(path, "audit")
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot(spark, path)
            .groupBy("pri")
            .agg(
                F.count("*").alias("n"),
                F.sum(cents).cast("long").alias("sum_cents"),
            )
            .orderBy("pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q91_update_where",
    sql="""
    WITH u AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               o_totalprice + CASE WHEN CAST(o_orderdate AS DATE)
                        BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
                    THEN 1000 ELSE 0 END AS price
        FROM orders
    )
    SELECT strftime(d, '%Y') AS yr, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM u GROUP BY 1 ORDER BY 1
    """,
)
def q91_update_where(spark, sf_dir):
    """Copy-on-write UPDATE with write-side FILE SKIPPING
    (:func:`storage.update_where_snapshot`, r11 — the last DML verb the
    layer was missing after append/DELETE/MERGE): commit orders
    range-clustered on o_orderdate with per-file stats, UPDATE a
    one-year window (+1000 on the price) with ``prune`` on the date, and
    read the result back aggregated per year. Structural asserts pin the
    scale property: the prune must keep files OUT OF THE PROBE entirely
    (files_probed < total) and untouched files must carry (files_kept >
    0, byte-identical — their recorded stats survive). The oracle
    applies the same CASE update over the raw table, so a green row pins
    that skipped files lost no updates and rewritten files updated
    exactly the predicate rows. Prior version stays time-travelable
    (snapshot isolation, asserted)."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    src = t.orders.select(
        F.col("o_orderdate").cast("date").alias("d"), "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="q91_update_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot_with_stats(
            spark, src, path, stats_cols=["d"], range_col="d", n_files=8
        )
        n_total = len(
            storage._load_manifest(path, 1)["files"]
        )
        res = storage.update_where_snapshot(
            spark, path,
            {"o_totalprice": F.col("o_totalprice") + 1000},
            "d BETWEEN DATE'1996-01-01' AND DATE'1996-12-31'",
            prune=("d", datetime.date(1996, 1, 1), datetime.date(1996, 12, 31)),
        )
        assert res["files_probed"] < n_total, (
            f"prune skipped nothing: probed {res['files_probed']}/{n_total}"
        )
        assert res["files_kept"] > 0 and res["rows_updated"] > 0, res
        # snapshot isolation: v1 still reads the pre-update prices
        v1_sum = (
            storage.read_snapshot(spark, path, version=1)
            .agg(F.sum("o_totalprice")).first()[0]
        )
        v2_sum = (
            storage.read_snapshot(spark, path)
            .agg(F.sum("o_totalprice")).first()[0]
        )
        assert v2_sum > v1_sum, "update invisible at the new head"
        cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot(spark, path)
            .groupBy(F.date_format("d", "yyyy").alias("yr"))
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("yr")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q92_merge_into",
    sql="""
    WITH b AS (
        SELECT o_orderkey,
               (ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) * 31
                + ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1))) % 8
                   AS bucket,
               o_totalprice AS price
        FROM orders
    ), final AS (
        SELECT bucket, price FROM b WHERE bucket IN (1, 4, 5)
        UNION ALL
        SELECT bucket, price + 1000 FROM b WHERE bucket IN (2, 3)
        UNION ALL
        SELECT bucket, price FROM b WHERE bucket IN (6, 7)
    )
    SELECT CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM final GROUP BY bucket ORDER BY bucket
    """,
)
def q92_merge_into(spark, sf_dir):
    """SQL-style conditional MERGE INTO (`storage.merge_into_snapshot`,
    r11 — the clause-driven verb next to q88's op-column feed): target =
    buckets 0-5, one source carries all three clause populations —
    repriced rows for buckets 2-3 (WHEN MATCHED UPDATE SET price =
    src_price), tombstone-flagged rows for bucket 0 (WHEN MATCHED AND
    src_do_delete THEN DELETE, tested BEFORE update per SQL clause
    order), and unseen keys for buckets 6-7 (WHEN NOT MATCHED INSERT
    from same-named source columns). Untouched buckets 1/4/5 carry
    verbatim; the prior version stays readable (asserted). The oracle
    states the final world directly, so a green row pins all three
    clauses and the carry in one hash. Cardinality guard (duplicate
    source keys raise) and type preservation are pinned in
    tests/test_update_where.py."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.operators.analytics import hash_bucket

    t = load_tables(spark, sf_dir)
    b = t.orders.select(
        "o_orderkey",
        hash_bucket("o_orderkey", 8).cast("int").alias("bucket"),
        F.col("o_totalprice").alias("price"),
    )
    path = tempfile.mkdtemp(prefix="q92_merge_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, b.filter("bucket < 6"), path)
        source = (
            b.filter("bucket IN (2, 3)")
            .withColumn("price", F.col("price") + 1000)
            .withColumn("do_delete", F.lit(False))
            .unionByName(
                b.filter("bucket = 0").withColumn(
                    "do_delete", F.lit(True)
                )
            )
            .unionByName(
                b.filter("bucket IN (6, 7)").withColumn(
                    "do_delete", F.lit(False)
                )
            )
        )
        v = storage.merge_into_snapshot(
            spark, path, source, key_cols=["o_orderkey"],
            update_set={"price": "src_price"},
            delete_condition="src_do_delete",
            insert=True,
        )
        assert v == 2
        # snapshot isolation: v1 still has bucket 0 and no bucket 6/7
        v1_buckets = {
            r["bucket"]
            for r in storage.read_snapshot(spark, path, version=1)
            .select("bucket").distinct().collect()
        }
        assert v1_buckets == {0, 1, 2, 3, 4, 5}, v1_buckets
        cents = F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot(spark, path)
            .groupBy("bucket")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("bucket")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q93_partitioned_scan",
    sql="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           COUNT(DISTINCT user_id) AS users
    FROM events
    WHERE event_type IN ('click', 'purchase')
      AND ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-19 23:59:59.999999'
    GROUP BY 1 ORDER BY 1
    """,
)
def q93_partitioned_scan(spark, sf_dir):
    """HIDDEN-PARTITIONED snapshot scan (r11 —
    :func:`storage.write_snapshot_partitioned` /
    :func:`storage.read_snapshot_partitioned`, the Iceberg
    partition-spec shape): commit events laid out by
    ``days(ts) × identity(event_type)`` — readers never see the
    transform columns — then answer a 10-day, 2-type slice by mapping
    the SOURCE-column predicates through the spec and pruning whole
    files from the manifest before Spark lists anything. Structural
    asserts pin the scale property: survivors must be exactly
    days×types of the slice (20 of ~150 files), decided from the
    manifest alone. The oracle runs the same predicate over the raw
    table, so a green row pins that partition pruning lost no rows and
    the row-level filter trimmed nothing extra. At 100 TB this gate
    runs before stats pruning (q67) and bloom lookups (q68) — coarse,
    exact, zero-IO.

    Reference anchor: the reference scopes every node/edge verb to one
    instanceID (handler/incoming_instance_handler.go:100-133) —
    identity partitioning is that scoping done by layout."""
    import datetime as dt
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="q93_part_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot_partitioned(
            spark,
            t.events.select("event_id", "ts", "user_id", "event_type",
                            "value"),
            path,
            [("days", "ts"), ("identity", "event_type")],
        )
        where = {
            "ts": (
                "between",
                dt.datetime(2024, 1, 10),
                dt.datetime(2024, 1, 19, 23, 59, 59, 999999),
            ),
            "event_type": ("in", ["click", "purchase"]),
        }
        keep, total = storage.partition_pruned_files(path, where, spark=spark)
        # 30 days x 5 types committed; the slice is 10 days x 2 types
        assert len(keep) == 20, (len(keep), total)
        assert total >= 145, total  # ~150 tuples (a day/type can be empty)
        cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot_partitioned(spark, path, where)
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(
                F.count("*").alias("n"),
                F.sum(cents).alias("sum_cents"),
                F.countDistinct("user_id").alias("users"),
            )
            .orderBy("day")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q94_table_history",
    sql="""
    SELECT * FROM (VALUES
        (1, 'initial', 0, 4, 4, 0, 0),
        (2, 'append',  1, 6, 2, 0, 0),
        (3, 'dv',      2, 6, 0, 0, 4),
        (4, 'rewrite', 3, 2, 2, 6, 0)
    ) AS t(version, kind, base_version, n_files, n_added, n_removed,
           n_dv_files)
    ORDER BY version
    """,
)
def q94_table_history(spark, sf_dir):
    """METADATA TABLE: the table format about itself (r11 —
    :func:`storage.table_history`, Delta's DESCRIBE HISTORY / Iceberg's
    ``.snapshots``): one row per retained version with the commit KIND
    derived at read time by :func:`storage.classify_transition`'s
    manifest-shape tests — never a recorded label that could drift from
    what actually committed. The fixture drives the lifecycle every
    production table walks: initial COW write (4 files), append (+2),
    DV delete (files untouched, 4 original files grow vectors — the
    appended files hold keys ≡3 mod 4, disjoint from the %10 predicate,
    so exactly 4 of 6 gain DVs), OPTIMIZE (rewrite to 2 clustered
    files). The oracle states the expected ledger as VALUES, so a green
    row pins kind classification AND file-motion accounting
    (n_added/n_removed/n_dv_files) in one hash. committed_at is
    wall-clock and excluded; monotonicity is pinned in
    tests/test_metadata_tables.py along with table_files (partition
    tuples, MOR group ordinals, DV counts, stats JSON)."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="q94_hist_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(
            spark, base.filter("o_orderkey % 4 < 3").repartition(4), path
        )
        storage.write_snapshot(
            spark,
            base.filter("o_orderkey % 4 = 3").repartition(2),
            path,
            mode="append",
        )
        storage.delete_where_snapshot(
            spark, path, "o_orderkey % 10 = 0", mode="dv"
        )
        storage.optimize_snapshot(spark, path, ["o_orderkey"], n_shards=2)
        return (
            storage.table_history(spark, path)
            .select(
                "version", "kind", "base_version", "n_files", "n_added",
                "n_removed", "n_dv_files",
            )
            .orderBy("version")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q95_check_constraint",
    sql="""
    WITH final AS (
        SELECT o_orderkey % 3 AS bucket,
               CASE WHEN o_orderkey % 3 = 2 THEN -o_totalprice
                    ELSE o_totalprice END AS price
        FROM orders
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM final GROUP BY bucket ORDER BY bucket
    """,
)
def q95_check_constraint(spark, sf_dir):
    """CHECK CONSTRAINTS on the snapshot layer (r11 —
    :func:`storage.add_check_constraint`, Delta's ALTER TABLE ADD
    CONSTRAINT shape): named SQL predicates recorded in the manifest,
    validated against EXISTING data at add time (one aggregate; a
    violated add refuses), enforced on every row-writing verb before
    any file lands, carried through rewrite commits by every manifest
    builder, droppable by a metadata-only commit. The
    fixture drives the full lifecycle on an orders slice: add
    ``price_pos`` (passes), append the next slice (valid), attempt an
    append and an UPDATE that would violate (both REFUSED with the
    table untouched — asserted on version number AND on the final
    hash), drop the constraint, then land the previously-refused
    negative-price slice. The oracle states the final world, so a green
    row pins that refused writes left zero rows behind and the
    enforcement map never blocked a valid commit. NULL-passes CHECK
    semantics, MOR-delta / WAP-stage / branch-write enforcement pinned
    in tests/test_constraints.py."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    src = t.orders.select(
        "o_orderkey",
        (F.col("o_orderkey") % 3).alias("bucket"),
        F.col("o_totalprice").alias("price"),
    )
    path = tempfile.mkdtemp(prefix="q95_cons_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, src.filter("bucket = 0"), path)
        storage.add_check_constraint(spark, path, "price_pos", "price > 0")
        storage.write_snapshot(
            spark, src.filter("bucket = 1"), path, mode="append"
        )
        v_before = storage.snapshot_versions(path)[-1]
        bad = src.filter("bucket = 2").withColumn("price", -F.col("price"))
        try:
            storage.write_snapshot(spark, bad, path, mode="append")
            raise AssertionError("violating append was not refused")
        except ValueError as e:
            assert "price_pos" in str(e)
        try:
            storage.update_where_snapshot(
                spark, path, {"price": -F.col("price")}, "bucket = 1"
            )
            raise AssertionError("violating update was not refused")
        except ValueError as e:
            assert "price_pos" in str(e)
        assert storage.snapshot_versions(path)[-1] == v_before, (
            "a refused write committed something"
        )
        storage.drop_check_constraint(path, "price_pos")
        storage.write_snapshot(spark, bad, path, mode="append")
        cents = F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot(spark, path)
            .groupBy("bucket")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("bucket")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q93b_spec_evolution",
    sql="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    WHERE event_type IN ('view', 'error')
    GROUP BY event_type ORDER BY event_type
    """,
)
def q93b_spec_evolution(spark, sf_dir):
    """PARTITION SPEC EVOLUTION (r11 —
    :func:`storage.evolve_partition_spec`, Iceberg's metadata-only spec
    change): the first half of January lands under ``days(ts)``, the
    spec evolves to ``identity(event_type)`` — no file moves, no tuple
    recomputed — and the second half lands under the new layout. A
    type-equality predicate then prunes each file BY THE SPEC IT WAS
    WRITTEN UNDER: the 2 surviving identity files of ~5, while all
    daily files stay (their spec can't answer a type predicate — they
    degrade, never lie); asserted structurally. The oracle aggregates
    the same predicate over raw events, so a green row pins that
    mixed-spec pruning lost no rows across the evolution boundary."""
    import datetime as dt
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    ev = t.events.select("event_id", "ts", "event_type", "value")
    cut = dt.datetime(2024, 1, 16)
    path = tempfile.mkdtemp(prefix="q93b_evo_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot_partitioned(
            spark, ev.filter(F.col("ts") < cut), path, [("days", "ts")]
        )
        n_daily = len(storage._load_manifest(path, 1)["files"])
        storage.evolve_partition_spec(path, [("identity", "event_type")])
        storage.write_snapshot_partitioned(
            spark,
            ev.filter(F.col("ts") >= cut),
            path,
            [("identity", "event_type")],
            mode="append",
        )
        where = {"event_type": ("in", ["view", "error"])}
        keep, total = storage.partition_pruned_files(path, where, spark=spark)
        assert total == n_daily + 5, (total, n_daily)
        assert len(keep) == n_daily + 2, (len(keep), n_daily)
        cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot_partitioned(spark, path, where)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q96_rename_column",
    sql="""
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y') AS yr,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS amount_cents
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def q96_rename_column(spark, sf_dir):
    """COLUMN MAPPING: rename without rewriting a byte (r11 —
    :func:`storage.rename_column`, the Delta column-mapping shape
    reduced to the name layer): half of orders commits as v1, the
    ``price`` column renames to ``amount`` in a METADATA-ONLY commit
    (asserted: v2's file list is byte-identical to v1's), the second
    half appends ARRIVING IN LOGICAL NAMES (translated to the table's
    physical schema at write, so all files stay uniform), and the read
    aggregates under the new name. Time travel to v1 still answers in
    the old name (asserted) — names version like data. The oracle
    aggregates raw orders, so a green row pins that the rename moved no
    rows and the mapped append landed whole. The r12 lift of the
    partial-rewrite refusals (DML runs mapped — see q96b),
    materialize_column_mapping, stats/partition-spec re-key, and the
    change-feed guard are pinned in tests/test_column_mapping.py."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    src = t.orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_totalprice").alias("price"),
    )
    path = tempfile.mkdtemp(prefix="q96_rename_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, src.filter("o_orderkey % 2 = 0"), path)
        files_v1 = sorted(storage._load_manifest(path, 1)["files"])
        storage.rename_column(path, "price", "amount")
        assert sorted(storage._load_manifest(path, 2)["files"]) == files_v1, (
            "rename moved data"
        )
        assert storage.read_snapshot(spark, path, version=1).columns[-1] == (
            "price"
        ), "time travel lost the old name"
        late = (
            src.filter("o_orderkey % 2 = 1")
            .withColumnRenamed("price", "amount")
        )
        storage.write_snapshot(spark, late, path, mode="append")
        cents = F.floor(F.col("amount") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot(spark, path)
            .groupBy(F.date_format("d", "yyyy").alias("yr"))
            .agg(F.count("*").alias("n"), F.sum(cents).alias("amount_cents"))
            .orderBy("yr")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q97_optimize_partitions",
    sql="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY 1 ORDER BY 1
    """,
)
def q97_optimize_partitions(spark, sf_dir):
    """PARTITION-SCOPED OPTIMIZE (r11 —
    :func:`storage.optimize_partitions`, Delta's ``OPTIMIZE t WHERE``):
    events land as FOUR daily-partitioned append commits (each day
    accumulates 4 small files — the streaming-ingest pathology), then
    one call folds ONLY the first week's partitions back to one file per
    day and leaves the rest untouched (asserted: matched days fold to 1
    file each, unmatched days keep all 4 commits' files, tuples/stats
    carried). One distributed job regardless of how many partitions
    match — the transform columns are recomputed from source columns,
    which is the payoff of HIDDEN partitioning. The oracle aggregates
    the optimized slice from raw events, so a green row pins that the
    fold moved every row exactly once. DV materialization, None-tuple
    repair, and the no-match no-op are pinned in
    tests/test_partitioned.py."""
    import datetime as dt
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    ev = t.events.select("event_id", "ts", "event_type", "value")
    path = tempfile.mkdtemp(prefix="q97_optp_")
    try:
        shutil.rmtree(path)
        spec = [("days", "ts")]
        for q in range(4):  # 4 commits, each a quarter of every day
            storage.write_snapshot_partitioned(
                spark, ev.filter(F.col("event_id") % 4 == q), path, spec,
                mode=("overwrite" if q == 0 else "append"),
            )
        man = storage._load_manifest(path, 4)
        days = {
            v[1][0] for v in man["partition"]["values"].values()
        }
        assert len(man["files"]) == 4 * len(days)
        res = storage.optimize_partitions(
            spark, path,
            {"ts": ("between", dt.datetime(2024, 1, 1),
                    dt.datetime(2024, 1, 7, 23, 59, 59, 999999))},
        )
        assert res["partitions_matched"] == 7, res
        assert res["files_rewritten"] == 28, res
        man2 = storage._load_manifest(path, res["version"])
        assert len(man2["files"]) == 7 + 4 * (len(days) - 7)
        cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot_partitioned(
                spark, path,
                {"ts": ("between", dt.datetime(2024, 1, 1),
                        dt.datetime(2024, 1, 7, 23, 59, 59, 999999))},
            )
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("day")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q98_generated_columns",
    sql="""
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y') AS yr,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def q98_generated_columns(spark, sf_dir):
    """GENERATED COLUMNS (r11 — :func:`storage.add_generated_column`,
    Delta's GENERATED ALWAYS AS): declare ``yr = date_format(d,
    'yyyy')`` on the committed half of orders (add validates the
    existing data first), then append the second half WITHOUT the
    column — the write computes it — and attempt an append carrying a
    WRONG yr, which refuses with nothing committed (asserted on the
    version number; the oracle hash would also catch a leak). The
    result aggregates on the generated column, so a green row pins that
    computed and pre-existing values agree with the declared expression
    row-for-row. DML/MOR/branch enforcement, rename refusal, and the
    drop lifecycle are pinned in tests/test_generated_columns.py."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    src = t.orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_totalprice").alias("price"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy").alias("yr"),
    )
    path = tempfile.mkdtemp(prefix="q98_gen_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, src.filter("o_orderkey % 2 = 0"), path)
        storage.add_generated_column(
            spark, path, "yr", "date_format(d, 'yyyy')"
        )
        storage.write_snapshot(
            spark,
            src.filter("o_orderkey % 2 = 1").drop("yr"),
            path,
            mode="append",
        )
        v_before = storage.snapshot_versions(path)[-1]
        try:
            storage.write_snapshot(
                spark,
                src.filter("o_orderkey % 2 = 1").withColumn(
                    "yr", F.lit("1900")
                ),
                path,
                mode="append",
            )
            raise AssertionError("wrong generated value was not refused")
        except ValueError as e:
            assert "yr" in str(e)
        assert storage.snapshot_versions(path)[-1] == v_before
        cents = F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot(spark, path)
            .groupBy("yr")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("yr")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q96b_mapped_dml",
    sql="""
    WITH src AS (
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS d,
               o_totalprice AS amount
        FROM orders
    ), evens AS (
        SELECT o_orderkey, d,
               CASE WHEN o_orderkey % 10 = 0 THEN amount + 1
                    ELSE amount END AS amount
        FROM src
        WHERE o_orderkey % 2 = 0 AND NOT (amount < 1000.0)
    ), odds AS (
        SELECT o_orderkey, d, amount FROM src WHERE o_orderkey % 2 = 1
    ), u AS (
        SELECT * FROM evens UNION ALL SELECT * FROM odds
    )
    SELECT strftime(d, '%Y') AS yr,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(amount * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS amount_cents
    FROM u GROUP BY 1 ORDER BY 1
    """,
)
def q96b_mapped_dml(spark, sf_dir):
    """MAPPED-TABLE DML (r12 — the r11 verdict's top ask): after
    :func:`storage.rename_column`, the ENTIRE partial-rewrite DML suite
    runs on the mapped table with NO ``materialize_column_mapping`` —
    rename stays metadata-only forever (Delta column-mapping parity).
    Flow: half of orders commits hidden-partitioned by years(d) (v1),
    ``price`` renames to ``amount`` (v2, metadata-only), then a COW
    DELETE and an UPDATE run in the LOGICAL vocabulary, the second half
    APPENDS partitioned (arriving logical, landing physical), and a
    partition-scoped OPTIMIZE folds one year — all on the mapped table.
    Asserted in-query: the mapping survives every commit, and every
    data file of the final version carries the PHYSICAL column name
    (one physical schema table-wide). The oracle replays delete/update/
    append arithmetic on raw orders, so a green row pins that logical-
    name DML touched exactly the right rows. Stats re-keying and the
    per-verb pins live in tests/test_column_mapping.py."""
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    src = t.orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_totalprice").alias("price"),
    )
    path = tempfile.mkdtemp(prefix="q96b_mdml_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot_partitioned(
            spark, src.filter("o_orderkey % 2 = 0"), path,
            [("years", "d")],
        )
        storage.rename_column(path, "price", "amount")
        storage.delete_where_snapshot(spark, path, "amount < 1000.0")
        storage.update_where_snapshot(
            spark, path, {"amount": F.col("amount") + 1},
            "o_orderkey % 10 = 0",
        )
        storage.write_snapshot_partitioned(
            spark,
            src.filter("o_orderkey % 2 = 1")
            .withColumnRenamed("price", "amount"),
            path, [("years", "d")], mode="append",
        )
        storage.optimize_partitions(
            spark, path, {"d": ("between", datetime.date(1994, 1, 1),
                                datetime.date(1994, 12, 31))},
        )
        assert storage.column_mapping(path) == {"amount": "price"}, (
            "a DML verb materialized the mapping"
        )
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        for rel in man["files"]:
            names = pq.ParquetFile(
                os.path.join(path, rel)
            ).schema_arrow.names
            assert "price" in names and "amount" not in names, (
                f"file {rel} broke the one-physical-schema invariant"
            )
        cents = F.floor(F.col("amount") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot(spark, path)
            .groupBy(F.date_format("d", "yyyy").alias("yr"))
            .agg(F.count("*").alias("n"),
                 F.sum(cents).alias("amount_cents"))
            .orderBy("yr")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q65b_type_widening",
    sql="""
    WITH evens AS (
        SELECT CAST(event_id AS BIGINT) AS event_id, event_type, value
        FROM events WHERE event_id % 2 = 0
          AND NOT (event_id % 5 = 0)
    ), odds AS (
        SELECT CAST(event_id + 1099511627776 AS BIGINT) AS event_id,
               event_type, value
        FROM events WHERE event_id % 2 = 1
    ), u AS (
        SELECT * FROM evens UNION ALL SELECT * FROM odds
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           MAX(event_id) AS max_id
    FROM u GROUP BY 1 ORDER BY 1
    """,
)
def q65b_type_widening(spark, sf_dir):
    """TYPE WIDENING as a metadata-only commit (r12 —
    :func:`storage.widen_column_type`, the Iceberg/Delta type-promotion
    shape): v1 commits events with ``event_id`` as INT, the column
    widens to BIGINT with ZERO data movement (asserted: v2's file list
    is byte-identical), and the append lands values ABOVE the int32
    range (event_id + 2^40) next to the narrow files — the reader
    upcasts int32 files in the vectorized parquet scan via the forced
    schema, so one plan reads both eras. A COW delete then rewrites its
    touched files IN the widened type (evolution materializes as data
    is naturally touched). Time travel to v1 still answers in INT
    (asserted) — types version like data and names. The oracle replays
    the widen+append+delete arithmetic on raw events; a green row pins
    value fidelity across the width boundary. Narrowing refusals, DV
    interplay, and the drop-column tombstone live in
    tests/test_schema_evolution.py."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    ev = t.events.select(
        F.col("event_id").cast("int").alias("event_id"),
        "event_type", "value",
    )
    path = tempfile.mkdtemp(prefix="q65b_widen_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(
            spark, ev.filter("event_id % 2 = 0"), path
        )
        files_v1 = sorted(storage._load_manifest(path, 1)["files"])
        storage.widen_column_type(path, "event_id", "bigint")
        assert sorted(
            storage._load_manifest(path, 2)["files"]
        ) == files_v1, "widen moved data"
        assert dict(
            storage.read_snapshot(spark, path, version=1).dtypes
        )["event_id"] == "int", "time travel lost the narrow era type"
        storage.write_snapshot(
            spark,
            ev.filter("event_id % 2 = 1").withColumn(
                "event_id",
                (F.col("event_id") + F.lit(1 << 40)).cast("bigint"),
            ),
            path, mode="append",
        )
        storage.delete_where_snapshot(
            spark, path, f"event_id % 5 = 0 AND event_id < {1 << 40}"
        )
        cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(cents).alias("sum_cents"),
                 F.max("event_id").alias("max_id"))
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q91b_update_dv",
    sql="""
    WITH u AS (
        SELECT o_orderkey,
               CASE WHEN o_orderpriority = '1-URGENT'
                    THEN o_totalprice + 1000 ELSE o_totalprice
               END AS price,
               o_orderpriority AS pri
        FROM orders
    )
    SELECT pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM u GROUP BY pri ORDER BY pri
    """,
)
def q91b_update_dv(spark, sf_dir):
    """DV-BACKED UPDATE (r12 — Delta's deletion-vector update shape, the
    UPDATE twin of q78b's DV delete): matched rows' positions land in
    per-file deletion vectors and their UPDATED images APPEND as new
    files — ZERO existing files rewrite (asserted: ``files_rewritten ==
    0`` and every v1 file still referenced by v2), so the write costs
    O(matched rows) no matter how large the touched files are. Readers
    resolve through the standard DV anti-join; time travel to v1 reads
    the pre-update world (asserted); OPTIMIZE/purge materialize later.
    The oracle applies the same CASE arithmetic to raw orders — a green
    row pins that every urgent row was masked exactly once and its
    updated image landed exactly once. Partitioned-tuple and purge
    interplay pinned in tests/test_update_where.py."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    src = t.orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("pri"),
    )
    path = tempfile.mkdtemp(prefix="q91b_udv_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, src, path)
        files_v1 = set(storage._load_manifest(path, 1)["files"])
        r = storage.update_where_snapshot(
            spark, path, {"price": F.col("price") + 1000},
            "pri = '1-URGENT'", mode="dv",
        )
        assert r["files_rewritten"] == 0, r
        assert r["dv_files_written"] >= 1, r
        man = storage._load_manifest(path, r["version"])
        assert files_v1 <= set(man["files"]), "DV update rewrote a file"
        assert storage.read_snapshot(spark, path, version=1).count() == (
            storage.read_snapshot(spark, path).count()
        ), "row count drifted through the DV update"
        cents = F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long")
        return (
            storage.read_snapshot(spark, path)
            .groupBy("pri")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q65c_drop_column",
    sql="""
    WITH u AS (
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS d,
               o_totalprice AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey + 100000000,
               CAST(o_orderdate AS DATE) AS d,
               o_totalprice + 1
        FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT strftime(d, '%Y') AS yr,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM u GROUP BY 1 ORDER BY 1
    """,
)
def q65c_drop_column(spark, sf_dir):
    """DROP COLUMN as a metadata-only commit (r12 —
    :func:`storage.drop_column`, the mapping-layer tombstone): orders
    commits WITH a ``note`` column, the column drops with ZERO data
    movement (asserted: v2's file list is byte-identical to v1's), a
    post-drop append arrives WITHOUT it, and every read projects only
    the live schema — the dead bytes in the old files are never read
    (the forced-scan projection). Time travel to v1 resurrects the
    column (asserted) — schemas version like data. The oracle never
    sees ``note`` at all, so a green row pins that the drop removed the
    column from the readable surface without disturbing a single row of
    the survivors. Name-reuse tombstone refusal, re-admission via full
    rewrite, and the spec/constraint guards live in
    tests/test_schema_evolution.py."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    src = t.orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_totalprice").alias("price"),
        F.concat(F.lit("n-"), F.col("o_orderkey")).alias("note"),
    )
    path = tempfile.mkdtemp(prefix="q65c_drop_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, src, path)
        files_v1 = sorted(storage._load_manifest(path, 1)["files"])
        storage.drop_column(path, "note")
        assert sorted(
            storage._load_manifest(path, 2)["files"]
        ) == files_v1, "drop moved data"
        assert "note" in storage.read_snapshot(
            spark, path, version=1
        ).columns, "time travel lost the pre-drop era"
        late = src.filter("o_orderkey % 7 = 0").drop("note").select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            "d",
            (F.col("price") + 1).alias("price"),
        )
        storage.write_snapshot(spark, late, path, mode="append")
        head = storage.read_snapshot(spark, path)
        assert head.columns == ["o_orderkey", "d", "price"]
        cents = F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long")
        return (
            head.groupBy(F.date_format("d", "yyyy").alias("yr"))
            .agg(F.count("*").alias("n"),
                 F.sum(cents).alias("sum_cents"))
            .orderBy("yr")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q86d_mor_delete",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS tp,
               0 AS ci, CAST(0 AS BIGINT) AS seq
        FROM orders
    ), d1 AS (
        SELECT k, pri, tp + 1000, 1, CAST(1 AS BIGINT)
        FROM base WHERE k % 10 = 3
    ), u AS (
        SELECT * FROM base UNION ALL SELECT * FROM d1
    ), r AS (
        SELECT k, pri, tp,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY ci DESC, seq DESC) AS rn
        FROM u
    ), w AS (
        SELECT k, pri, tp FROM r WHERE rn = 1
    ), fin AS (
        SELECT * FROM w WHERE NOT (pri = '1-URGENT' AND k % 7 = 0)
    ), ph AS (
        SELECT 1 AS phase, pri, tp FROM fin
        UNION ALL SELECT 2, pri, tp FROM fin
        UNION ALL SELECT 3, pri, tp FROM fin
    )
    SELECT phase, pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM ph GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q86d_mor_delete(spark, sf_dir):
    """DELETE on a live MOR table (r13, r12 verdict #1 — DML on the
    streaming-CDC substrate without compacting first): tombstone rows
    land as ONE delta group (:func:`storage.delete_where_snapshot`'s
    MOR materialization), zero base files rewritten. The predicate
    is judged against the RESOLVED view (a key whose latest delta value
    no longer matches is spared). Phase 1 reads post-delete, phase 2
    after MINOR compaction (the fold must carry tombstones still
    masking base rows), phase 3 after MAJOR compaction (tombstones
    shed). Structural asserts: the delete commit's base file list is
    byte-identical, minor keeps base untouched, major drops the chain.
    Reference: the importer's long-lived upsert loop
    (handler/incoming_instance_handler.go:285-303) must accept deletes."""
    import json
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
        F.lit(0).cast("long").alias("seq"),
    )
    d1 = base.filter(F.col("k") % 10 == 3).withColumn(
        "tp", F.col("tp") + 1000
    ).withColumn("seq", F.lit(1).cast("long"))
    path = tempfile.mkdtemp(prefix="snapshot_mor_del_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, base, path)
        storage.upsert_delta_snapshot(spark, path, d1, ["k"], "seq")
        mdir = os.path.join(path, "_manifests")
        with open(os.path.join(mdir, "v2.json")) as f:
            pre_files = json.load(f)["files"]
        r = storage.delete_where_snapshot(
            spark, path, "pri = '1-URGENT' AND k % 7 = 0"
        )
        assert r["files_rewritten"] == 0 and r["rows_deleted"] > 0
        with open(os.path.join(mdir, f"v{r['version']}.json")) as f:
            man = json.load(f)
        assert man["files"] == pre_files, "MOR delete touched base files"
        p1 = storage.read_snapshot(spark, path)
        v_minor = storage.compact_mor(spark, path, minor=True)
        with open(os.path.join(mdir, f"v{v_minor}.json")) as f:
            man = json.load(f)
        assert man["files"] == pre_files, "minor compaction touched base"
        assert len(man["mor"]["deltas"]) == 1
        p2 = storage.read_snapshot(spark, path)
        v_major = storage.compact_mor(spark, path)
        with open(os.path.join(mdir, f"v{v_major}.json")) as f:
            assert "mor" not in json.load(f), "major kept the chain"
        p3 = storage.read_snapshot(spark, path)
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        u = (
            p1.withColumn("phase", F.lit(1))
            .unionByName(p2.withColumn("phase", F.lit(2)))
            .unionByName(p3.withColumn("phase", F.lit(3)))
        )
        return (
            u.groupBy("phase", "pri")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("phase", "pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q86e_mor_merge",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS tp,
               0 AS ci, CAST(0 AS BIGINT) AS seq
        FROM orders
    ), d1 AS (
        SELECT k, pri, tp + 1000, 1, CAST(1 AS BIGINT)
        FROM base WHERE k % 10 = 3
    ), u AS (
        SELECT * FROM base UNION ALL SELECT * FROM d1
    ), r AS (
        SELECT k, pri, tp,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY ci DESC, seq DESC) AS rn
        FROM u
    ), w AS (
        SELECT k, pri, tp FROM r WHERE rn = 1
    ), upd AS (
        SELECT k, tp + 111 AS tp FROM base WHERE k % 20 = 7
    ), merged AS (
        SELECT w.k, w.pri, COALESCE(upd.tp, w.tp) AS tp
        FROM w LEFT JOIN upd ON w.k = upd.k
        WHERE w.k % 20 <> 3
        UNION ALL
        SELECT k + 30000000, pri, tp FROM base WHERE k % 1000 = 13
    ), ph AS (
        SELECT 1 AS phase, pri, tp FROM merged
        UNION ALL SELECT 2, pri, tp FROM merged
    )
    SELECT phase, pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM ph GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q86e_mor_merge(spark, sf_dir):
    """MERGE INTO a live MOR table (r13): one source carrying updates
    (k%20=7 — tp overwritten from the source), deletes (k%20=3 — a
    subset of keys whose LATEST row is a delta upsert, so the tombstone
    must outrank the chain) and inserts (new keys k+30000000), applied
    as ONE delta group by :func:`storage.merge_into_snapshot` — zero
    base rewrites, untouched keys never re-materialized. Phase 1 reads
    post-merge, phase 2 after minor
    compaction (fold keeps the tombstones masking). Structural asserts:
    base file list byte-identical, exactly one group added."""
    import json
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
        F.lit(0).cast("long").alias("seq"),
    )
    d1 = base.filter(F.col("k") % 10 == 3).withColumn(
        "tp", F.col("tp") + 1000
    ).withColumn("seq", F.lit(1).cast("long"))
    upd = (
        base.filter(F.col("k") % 20 == 7)
        .withColumn("tp", F.col("tp") + 111)
        .withColumn("seq", F.lit(2).cast("long"))
        .withColumn("del", F.lit(False))
    )
    dl = (
        base.filter(F.col("k") % 20 == 3)
        .withColumn("seq", F.lit(2).cast("long"))
        .withColumn("del", F.lit(True))
    )
    ins = (
        base.filter(F.col("k") % 1000 == 13)
        .withColumn("k", F.col("k") + 30000000)
        .withColumn("seq", F.lit(2).cast("long"))
        .withColumn("del", F.lit(False))
    )
    src = upd.unionByName(dl).unionByName(ins)
    path = tempfile.mkdtemp(prefix="snapshot_mor_mrg_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, base, path)
        storage.upsert_delta_snapshot(spark, path, d1, ["k"], "seq")
        mdir = os.path.join(path, "_manifests")
        with open(os.path.join(mdir, "v2.json")) as f:
            pre = json.load(f)
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"],
            update_set={"tp": "src_tp"},
            delete_condition="src_del",
            insert=True,
        )
        with open(os.path.join(mdir, f"v{v}.json")) as f:
            man = json.load(f)
        assert man["files"] == pre["files"], "MOR merge touched base"
        assert (
            len(man["mor"]["deltas"]) == len(pre["mor"]["deltas"]) + 1
        ), "merge must land exactly ONE delta group"
        p1 = storage.read_snapshot(spark, path)
        storage.compact_mor(spark, path, minor=True)
        p2 = storage.read_snapshot(spark, path)
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        u = p1.withColumn("phase", F.lit(1)).unionByName(
            p2.withColumn("phase", F.lit(2))
        )
        return (
            u.groupBy("phase", "pri")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("phase", "pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q96c_mapped_mor",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS tp,
               0 AS ci, CAST(0 AS BIGINT) AS seq
        FROM orders
    ), d1 AS (
        SELECT k, pri, tp + 1000, 1, CAST(1 AS BIGINT)
        FROM base WHERE k % 10 = 3
    ), d2 AS (
        SELECT k, pri, tp + 111, 2, CAST(2 AS BIGINT)
        FROM base WHERE k % 20 = 7
    ), u AS (
        SELECT * FROM base UNION ALL SELECT * FROM d1
        UNION ALL SELECT * FROM d2
    ), r AS (
        SELECT k, pri, tp,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY ci DESC, seq DESC) AS rn
        FROM u
    ), w AS (
        SELECT pri, tp AS amount FROM r WHERE rn = 1
    )
    SELECT pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(amount * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM w GROUP BY 1 ORDER BY 1
    """,
)
def q96c_mapped_mor(spark, sf_dir):
    """COLUMN MAPPING through a MOR delta chain (r13, r12 verdict #3 —
    rename no longer refuses on the streaming-CDC substrate): delta
    commits land BEFORE and AFTER a ``rename_column``, the post-rename
    delta arrives under the NEW logical name but its files carry the
    table's ONE physical schema, and the resolved read emits the
    latest-logical names WITHOUT compact_mor. Structural asserts: every
    commit group's files (base, pre- and post-rename deltas) share the
    physical name, time travel to the pre-rename version answers era
    names, base file list byte-identical through the rename (it is
    metadata-only)."""
    import json
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
        F.lit(0).cast("long").alias("seq"),
    )
    d1 = base.filter(F.col("k") % 10 == 3).withColumn(
        "tp", F.col("tp") + 1000
    ).withColumn("seq", F.lit(1).cast("long"))
    d2 = (
        base.filter(F.col("k") % 20 == 7)
        .withColumn("tp", F.col("tp") + 111)
        .withColumn("seq", F.lit(2).cast("long"))
        .withColumnRenamed("tp", "amount")  # post-rename LOGICAL name
    )
    path = tempfile.mkdtemp(prefix="snapshot_mapped_mor_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(spark, base, path)
        storage.upsert_delta_snapshot(spark, path, d1, ["k"], "seq")
        v_ren = storage.rename_column(path, "tp", "amount")
        storage.upsert_delta_snapshot(spark, path, d2, ["k"], "seq")
        mdir = os.path.join(path, "_manifests")
        with open(os.path.join(mdir, "v2.json")) as f:
            pre = json.load(f)
        with open(
            os.path.join(mdir, f"v{v_ren + 1}.json")
        ) as f:
            man = json.load(f)
        assert man["files"] == pre["files"], "rename touched base files"
        assert man["column_mapping"] == {"amount": "tp"}
        for grp in [man["files"]] + man["mor"]["deltas"]:
            for rel in grp:
                names = pq.ParquetFile(
                    os.path.join(path, rel)
                ).schema_arrow.names
                assert "tp" in names and "amount" not in names, rel
        # time travel answers ERA names (pre-rename: tp)
        assert "tp" in storage.read_snapshot(spark, path, version=2).columns
        head = storage.read_snapshot(spark, path)
        assert "amount" in head.columns and "tp" not in head.columns
        cents = F.floor(F.col("amount") * 100 + F.lit(0.5)).cast("long")
        return (
            head.groupBy("pri")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q93c_partitioned_mor",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderkey % 8 AS grp,
               o_orderpriority AS pri, o_totalprice AS tp,
               0 AS ci, CAST(0 AS BIGINT) AS seq
        FROM orders
    ), d1 AS (
        SELECT k, grp, pri, tp + 1000, 1, CAST(1 AS BIGINT)
        FROM base WHERE k % 10 = 3
    ), d2 AS (
        SELECT k, grp, pri, tp + 2000, 2, CAST(2 AS BIGINT)
        FROM base WHERE k % 7 = 2
    ), u AS (
        SELECT * FROM base UNION ALL SELECT * FROM d1
        UNION ALL SELECT * FROM d2
    ), r AS (
        SELECT k, grp, pri, tp,
               ROW_NUMBER() OVER (PARTITION BY grp, k
                                  ORDER BY ci DESC, seq DESC) AS rn
        FROM u
    ), w AS (
        SELECT k, grp, pri, tp FROM r WHERE rn = 1
    ), fin AS (
        SELECT * FROM w WHERE NOT (pri = '1-URGENT' AND k % 5 = 0)
    ), v AS (
        SELECT 'full' AS view, pri, tp FROM fin
        UNION ALL
        SELECT 'pruned', pri, tp FROM fin WHERE grp IN (2, 5)
    )
    SELECT view, pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM v GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q93c_partitioned_mor(spark, sf_dir):
    """HIDDEN-PARTITIONED MOR table end to end (r14, r13 verdict #2 —
    the production streaming-CDC layout): a partitioned base takes two
    delta-group upserts and a MOR DELETE, every chain file lands
    hive-routed with a REAL partition tuple
    (:func:`storage._write_delta_group_routed`), and the partitioned
    read prunes base AND chain by tuple BEFORE the latest-wins window
    (:func:`storage.read_snapshot_partitioned`'s r14 MOR dispatch).
    Soundness lives in the spec rule: partition sources are MOR KEY
    columns, so a key's tuple never changes across its commits and
    per-partition resolution equals global resolution restricted to the
    partition. Structural asserts: every live file is tupled; the
    pruned read opens ONLY the two subscribed partitions' directories.
    The 'pruned'/'full' twin views hash-pin pruned ≡ filter against the
    DuckDB replay. Reference: the importer's long-lived per-dataset
    upsert loop (handler/incoming_instance_handler.go:285-303) is a
    partitioned table in any real deployment (Hudi partitions MOR
    natively)."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 8).alias("grp"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
        F.lit(0).cast("long").alias("seq"),
    )
    d1 = base.filter(F.col("k") % 10 == 3).withColumn(
        "tp", F.col("tp") + 1000
    ).withColumn("seq", F.lit(1).cast("long"))
    d2 = base.filter(F.col("k") % 7 == 2).withColumn(
        "tp", F.col("tp") + 2000
    ).withColumn("seq", F.lit(2).cast("long"))
    path = tempfile.mkdtemp(prefix="q93c_morpart_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot_partitioned(
            spark, base, path, [("identity", "grp")],
            stats_cols=["k", "grp"],
        )
        storage.upsert_delta_snapshot(spark, path, d1, ["grp", "k"], "seq")
        storage.upsert_delta_snapshot(spark, path, d2, ["grp", "k"], "seq")
        storage.delete_where_snapshot(
            spark, path, "pri = '1-URGENT' AND k % 5 = 0"
        )
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        vals = man["partition"]["values"]
        live = list(man["files"]) + [
            rel for grp in man["mor"]["deltas"] for rel in grp
        ]
        assert len(man["mor"]["deltas"]) == 3  # d1, d2, tombstones
        assert all(vals.get(rel) is not None for rel in live), (
            "untupled chain file"
        )
        where = {"grp": ("in", [2, 5])}
        pruned = storage.read_snapshot_partitioned(spark, path, where)
        for f in pruned.inputFiles():
            assert "_p0=2/" in f or "_p0=5/" in f, (
                f"pruned MOR read opened an unsubscribed partition: {f}"
            )
        full = storage.read_snapshot(spark, path)
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        u = full.withColumn("view", F.lit("full")).unionByName(
            pruned.withColumn("view", F.lit("pruned"))
        )
        return (
            u.groupBy("view", "pri")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("view", "pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q86f_mor_update",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS tp,
               0 AS ci, CAST(0 AS BIGINT) AS seq
        FROM orders
    ), d1 AS (
        SELECT k, pri, tp + 1000, 1, CAST(1 AS BIGINT)
        FROM base WHERE k % 10 = 3
    ), u AS (
        SELECT * FROM base UNION ALL SELECT * FROM d1
    ), r AS (
        SELECT k, pri, tp,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY ci DESC, seq DESC) AS rn
        FROM u
    ), w AS (
        SELECT k, pri, tp FROM r WHERE rn = 1
    ), fin AS (
        SELECT k, pri,
               CASE WHEN pri = '2-HIGH' AND k % 3 = 1
                    THEN tp + 50 ELSE tp END AS tp
        FROM w
    ), ph AS (
        SELECT 1 AS phase, pri, tp FROM fin
        UNION ALL SELECT 2, pri, tp FROM fin
        UNION ALL SELECT 3, pri, tp FROM fin
    )
    SELECT phase, pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM ph GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q86f_mor_update(spark, sf_dir):
    """UPDATE on a live MOR table (r14 — oracling the r13 MOR
    :func:`storage.update_where_snapshot`, completing the q86d/q86e
    DML row set): matched rows' updated images land as ONE plain upsert
    delta group, zero base files rewritten; the predicate and every RHS
    are judged against the RESOLVED view (a row whose latest delta
    value no longer matches is spared; assignments see pre-update
    values). Phase 1 reads post-update, phase 2 after MINOR compaction,
    phase 3 after MAJOR. Structural asserts: the update commit's base
    file list is byte-identical and files_rewritten == 0; PRUNE PARITY —
    the same update with a key-range ``prune`` on a twin table probes
    fewer files and resolves to the identical table."""
    import json
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
        F.lit(0).cast("long").alias("seq"),
    )
    d1 = base.filter(F.col("k") % 10 == 3).withColumn(
        "tp", F.col("tp") + 1000
    ).withColumn("seq", F.lit(1).cast("long"))
    path = tempfile.mkdtemp(prefix="q86f_mor_upd_")
    twin = tempfile.mkdtemp(prefix="q86f_mor_upd_twin_")
    try:
        shutil.rmtree(path)
        shutil.rmtree(twin)

        def _fixture(p):
            # range-sharded base: per-file key stats are disjoint, so
            # the prune-parity assert below can actually skip files
            storage.write_snapshot(
                spark, base.repartitionByRange(4, "k"), p,
                stats_cols=["k"],
            )
            storage.upsert_delta_snapshot(spark, p, d1, ["k"], "seq")

        # main and twin are disjoint table paths with no data
        # dependency: build them concurrently (guide §2.6) so the second
        # chain's jobs back-fill the first chain's stragglers. r15: the
        # kmax bound (needed only by the post-fixture twin predicate,
        # reads only the source table) rides the same window instead of
        # serializing ahead of it.
        _, _, kmax = run_concurrently(
            lambda: _fixture(path),
            lambda: _fixture(twin),
            lambda: base.agg(F.max("k")).collect()[0][0],
        )
        mdir = os.path.join(path, "_manifests")
        with open(os.path.join(mdir, "v2.json")) as f:
            pre_files = json.load(f)["files"]
        pred = "pri = '2-HIGH' AND k % 3 = 1"
        # the two updates hit disjoint tables — overlap them too
        r, r2 = run_concurrently(
            lambda: storage.update_where_snapshot(
                spark, path, {"tp": "tp + 50"}, pred
            ),
            # prune parity: the same update, key-range-pruned, on twin
            lambda: storage.update_where_snapshot(
                spark, twin, {"tp": "tp + 50"},
                pred + f" AND k <= {kmax // 2}",
                prune=("k", 0, kmax // 2),
            ),
        )
        assert r["files_rewritten"] == 0 and r["rows_updated"] > 0
        with open(os.path.join(mdir, f"v{r['version']}.json")) as f:
            man = json.load(f)
        assert man["files"] == pre_files, "MOR update touched base files"
        assert r2["files_probed"] < r["files_probed"], (
            r2["files_probed"], r["files_probed"]
        )
        p1 = storage.read_snapshot(spark, path)
        v_minor = storage.compact_mor(spark, path, minor=True)
        with open(os.path.join(mdir, f"v{v_minor}.json")) as f:
            man = json.load(f)
        assert man["files"] == pre_files, "minor compaction touched base"
        assert len(man["mor"]["deltas"]) == 1
        p2 = storage.read_snapshot(spark, path)
        v_major = storage.compact_mor(spark, path)
        with open(os.path.join(mdir, f"v{v_major}.json")) as f:
            assert "mor" not in json.load(f), "major kept the chain"
        p3 = storage.read_snapshot(spark, path)
        # twin parity on the pruned half: pruned-update rows == full
        # update restricted to the pruned predicate's range
        twin_rows = storage.read_snapshot(spark, twin).filter(
            f"k <= {kmax // 2}"
        )
        main_rows = p1.filter(f"k <= {kmax // 2}")

        # order-insensitive multiset equality WITHOUT collecting ~75k
        # rows to the driver (guide §5 — the old sorted-collect compare
        # was the single most expensive phase of this query at sf0.1):
        # per-side count + sum of per-row xxhash64 over all columns.
        # r15: BOTH sides ride one tagged-union aggregate — the former
        # per-side .first() pair was two sequential driver-blocking jobs
        # (3 AQE jobs each) scanning resolved views the scheduler could
        # run in one (guide §1.2); values are identical (the tag column
        # is excluded from the hash).
        cols = sorted(twin_rows.columns)
        sides = (
            twin_rows.withColumn("_side", F.lit(0))
            .unionByName(main_rows.withColumn("_side", F.lit(1)))
            .groupBy("_side")
            .agg(
                F.count(F.lit(1)).alias("n"),
                # decimal(38) accumulator: 75k 64-bit hashes sum to
                # ~1e24, far inside decimal range (ANSI mode would
                # overflow a long sum)
                F.sum(
                    F.xxhash64(*cols).cast("decimal(38,0)")
                ).alias("h"),
            )
            .collect()
        )
        sigs = {r["_side"]: (r["n"], r["h"]) for r in sides}
        assert sigs.get(0) == sigs.get(1), "prune parity broken"
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        u = (
            p1.withColumn("phase", F.lit(1))
            .unionByName(p2.withColumn("phase", F.lit(2)))
            .unionByName(p3.withColumn("phase", F.lit(3)))
        )
        return (
            u.groupBy("phase", "pri")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("phase", "pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(twin, ignore_errors=True)


@register(
    "q97b_optimize_partitions_mor",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderkey % 4 AS grp,
               o_orderpriority AS pri, o_totalprice AS tp,
               0 AS ci, CAST(0 AS BIGINT) AS seq
        FROM orders
    ), d1 AS (
        SELECT k, grp, pri, tp + 1000, 1, CAST(1 AS BIGINT)
        FROM base WHERE k % 10 = 3
    ), d2 AS (
        SELECT k, grp, pri, tp + 2000, 2, CAST(2 AS BIGINT)
        FROM base WHERE k % 7 = 2
    ), u AS (
        SELECT * FROM base UNION ALL SELECT * FROM d1
        UNION ALL SELECT * FROM d2
    ), r AS (
        SELECT k, grp, pri, tp,
               ROW_NUMBER() OVER (PARTITION BY grp, k
                                  ORDER BY ci DESC, seq DESC) AS rn
        FROM u
    ), w AS (
        SELECT k, grp, pri, tp FROM r WHERE rn = 1
    ), fin AS (
        SELECT * FROM w WHERE NOT (pri = '1-URGENT' AND k % 5 = 0)
    ), ph AS (
        SELECT 1 AS phase, grp, pri, tp FROM fin
        UNION ALL SELECT 2, grp, pri, tp FROM fin
    )
    SELECT phase, grp, pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM ph GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q97b_optimize_partitions_mor(spark, sf_dir):
    """Partition-scoped OPTIMIZE on a MOR table (r14, r13 verdict #4 —
    the maintenance verb that runs at 100 TB, where compacting a whole
    CDC table's chain for one hot partition is never on the table):
    after two upsert groups and a tombstone group land on a
    hidden-partitioned MOR table, partition grp=1's chain is folded
    MINOR (one group at the chain's end, tombstones carried) and
    partition grp=2 is MATERIALIZED major (its chain gone, resolved
    rows as fresh base files) — phase 1 reads after the minor fold,
    phase 2 after the major. Both phases must hash-equal the plain
    latest-wins replay: the folds are pure physical-layout moves.
    Structural asserts: unmatched partitions' base AND delta files are
    byte-identical on disk; grp=2 has no chain files after the major;
    grp=1's fold landed at the chain's end."""
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 4).alias("grp"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
        F.lit(0).cast("long").alias("seq"),
    )
    d1 = base.filter(F.col("k") % 10 == 3).withColumn(
        "tp", F.col("tp") + 1000
    ).withColumn("seq", F.lit(1).cast("long"))
    d2 = base.filter(F.col("k") % 7 == 2).withColumn(
        "tp", F.col("tp") + 2000
    ).withColumn("seq", F.lit(2).cast("long"))
    path = tempfile.mkdtemp(prefix="q97b_moropt_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot_partitioned(
            spark, base, path, [("identity", "grp")],
            stats_cols=["k", "grp"],
        )
        storage.upsert_delta_snapshot(spark, path, d1, ["grp", "k"], "seq")
        storage.upsert_delta_snapshot(spark, path, d2, ["grp", "k"], "seq")
        storage.delete_where_snapshot(
            spark, path, "pri = '1-URGENT' AND k % 5 = 0"
        )
        man0 = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )

        def _live(man):
            return list(man["files"]) + [
                rel for g in man["mor"]["deltas"] for rel in g
            ]

        def _tup(man, rel):
            return man["partition"]["values"][rel][1]

        untouched = {
            rel: os.path.getsize(os.path.join(path, rel))
            for rel in _live(man0)
            if _tup(man0, rel) not in (["1"], ["2"], [1], [2])
        }
        assert untouched, "fixture must have unmatched partitions"
        res_minor = storage.optimize_partitions(
            spark, path, {"grp": ("=", 1)}, minor=True
        )
        assert res_minor["partitions_matched"] == 1
        p1 = storage.read_snapshot(spark, path)
        man1 = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        fold = [
            rel for rel in man1["mor"]["deltas"][-1]
            if _tup(man1, rel) in (["1"], [1])
        ]
        assert fold, "minor fold produced no grp=1 group at chain end"
        res_major = storage.optimize_partitions(
            spark, path, {"grp": ("=", 2)}
        )
        assert res_major["partitions_matched"] == 1
        man2 = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        g2_chain = [
            rel
            for g in man2["mor"]["deltas"]
            for rel in g
            if _tup(man2, rel) in (["2"], [2])
        ]
        assert g2_chain == [], "major left grp=2 chain files"
        for rel, sz in untouched.items():
            assert os.path.getsize(os.path.join(path, rel)) == sz, (
                f"unmatched file {rel} changed on disk"
            )
            assert rel in _live(man2), f"unmatched file {rel} dropped"
        p2 = storage.read_snapshot(spark, path)
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        u = p1.withColumn("phase", F.lit(1)).unionByName(
            p2.withColumn("phase", F.lit(2))
        )
        return (
            u.groupBy("phase", "grp", "pri")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
            .orderBy("phase", "grp", "pri")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q92b_merge_evolve",
    sql="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri,
               o_totalprice AS tp
        FROM orders
    ), mx AS (SELECT MAX(k) AS m FROM base),
    src AS (
        SELECT k, tp + 5 AS tp, CAST(k % 3 AS DOUBLE) / 10 AS disc
        FROM base WHERE k % 10 = 7 AND k <= (SELECT m FROM mx) // 4
        UNION ALL
        SELECT k + (SELECT m FROM mx), 100.0, 0.5
        FROM base WHERE k % 50 = 1
    ), matched AS (
        SELECT b.k, b.pri,
               CASE WHEN s.k IS NOT NULL THEN s.tp ELSE b.tp END AS tp,
               s.disc
        FROM base b LEFT JOIN src s USING (k)
    ), inserted AS (
        SELECT s.k, CAST(NULL AS VARCHAR) AS pri, s.tp, s.disc
        FROM src s WHERE s.k NOT IN (SELECT k FROM base)
    ), world AS (
        SELECT * FROM matched UNION ALL SELECT * FROM inserted
    )
    SELECT pri, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(tp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(SUM(CAST(FLOOR(disc * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS disc_cents,
           CAST(SUM(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_disc
    FROM world GROUP BY 1 ORDER BY 1 NULLS FIRST
    """,
)
def q92b_merge_evolve(spark, sf_dir):
    """MERGE with SCHEMA EVOLUTION (r14, r13 verdict #7 — Delta's
    ``WHEN NOT MATCHED ... withSchemaEvolution``): the CDC source grew
    a column (``disc``) the target never had; with
    ``schema_evolution=True`` one MERGE commit extends the committed
    schema additively — matched rows take the new value via UPDATE SET
    on the source-only column, NOT-MATCHED inserts carry it, and every
    untouched row resolves as a typed NULL because kept files are read
    under the FORCED manifest schema (the q65 additive discipline; no
    file rewrite pays for the evolution). Structural asserts: the
    schema grew by exactly ``disc``; kept files were not rewritten
    (byte-identical rel list minus the touched set); a second, plain
    merge on the evolved table still works. Refusals (reserved name,
    dropped-name resurrection, all-NULL source column, MOR twin) are
    pinned in tests/test_schema_evolution.py."""
    import json
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("tp"),
    )
    path = tempfile.mkdtemp(prefix="q92b_merge_evo_")
    try:
        shutil.rmtree(path)
        # r15 (guide §2.6): the kmax bound only parameterizes the MERGE
        # source built below — it reads the source table while the fixture
        # write lands on a fresh disjoint path, so the two driver-blocking
        # steps overlap instead of serializing.
        _, mx = run_concurrently(
            lambda: storage.write_snapshot(
                spark, base.repartitionByRange(4, "k"), path,
                stats_cols=["k"],
            ),
            lambda: base.agg(F.max("k")).first()[0],
        )
        src = (
            base.filter((F.col("k") % 10 == 7) & (F.col("k") <= mx // 4))
            .select(
                "k",
                (F.col("tp") + 5).alias("tp"),
                ((F.col("k") % 3).cast("double") / 10).alias("disc"),
            )
            .unionByName(
                base.filter(F.col("k") % 50 == 1).select(
                    (F.col("k") + F.lit(mx)).alias("k"),
                    F.lit(100.0).alias("tp"),
                    F.lit(0.5).alias("disc"),
                )
            )
        )
        mdir = os.path.join(path, "_manifests")
        with open(os.path.join(mdir, "v1.json")) as f:
            m1 = json.load(f)
        assert "disc" not in m1["schema"]
        v = storage.merge_into_snapshot(
            spark, path, src, ["k"],
            update_set={"tp": "src_tp", "disc": "src_disc"},
            insert=True, schema_evolution=True,
        )
        with open(os.path.join(mdir, f"v{v}.json")) as f:
            m2 = json.load(f)
        assert set(m2["schema"]) == set(m1["schema"]) | {"disc"}, (
            "schema must grow by exactly disc"
        )
        # evolution rewrote only TOUCHED files: some v1 file survives
        # byte-identical in v2 (forced-schema reads NULL-fill it)
        carried = set(m1["files"]) & set(m2["files"])
        assert carried, "evolution rewrote every file — kept set empty"
        # a plain merge still works on the evolved table
        v3 = storage.merge_into_snapshot(
            spark, path,
            spark.createDataFrame(
                [(int(mx) * 3, "5-LOW", 1.0, 0.0)],
                "k long, pri string, tp double, disc double",
            ),
            ["k"], insert=True,
        )
        storage.delete_where_snapshot(spark, path, f"k = {int(mx) * 3}")
        head = storage.read_snapshot(spark, path)
        cents = F.floor(F.col("tp") * 100 + F.lit(0.5)).cast("long")
        dcents = F.floor(F.col("disc") * 100 + F.lit(0.5)).cast("long")
        return (
            head.groupBy("pri")
            .agg(
                F.count("*").alias("n"),
                F.sum(cents).alias("sum_cents"),
                F.sum(dcents).alias("disc_cents"),
                F.sum(
                    F.when(F.col("disc").isNull(), 1).otherwise(0)
                ).alias("n_null_disc"),
            )
            .orderBy(F.col("pri").asc_nulls_first())
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
