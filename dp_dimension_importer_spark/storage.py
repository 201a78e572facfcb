"""Physical table layout: partitioned and bucketed parquet writes.

This is the piece that turns the engine's "repoint the catalog at
partitioned / bucketed tables" claim (catalog.py module docstring) into
working code. Two layouts, each killing a different cost at 100 TB:

* **Partitioned writes** (``partitionBy`` → one directory per value):
  partition PRUNING happens at file-listing time, so a filter on the
  partition column never touches excluded files at all — the scan cost is
  proportional to the data you asked for, not the table size. The audit
  (tests/test_plans.py) pins ``PartitionFilters`` in the scan node.

* **Bucketed writes** (``bucketBy(n, key)`` + ``sortBy`` → fixed file
  fan-out per bucket): every reader joining or aggregating ON THE BUCKET
  KEY skips its Exchange entirely — the scan's output partitioning already
  satisfies the required distribution. For the fact-to-fact joins that
  dominate a 100 TB star schema (lineitem ⋈ orders on orderkey), bucketing
  both sides with the same count turns every downstream join from a
  full-table shuffle into a zipped per-bucket merge. The audit pins
  zero ``Exchange`` nodes in a bucketed sort-merge join AND in a
  bucket-key aggregate.

Bucketed tables go through ``saveAsTable`` (bucket metadata lives in the
session catalog; a bare ``parquet(path)`` write cannot record it). Pass
``path`` to make the table EXTERNAL at a location you own — dropping the
catalog entry then never deletes data. Bucket counts should be sized so
one bucket of the biggest table fits an executor's memory (at 100 TB and
1024 buckets that is ~100 GB/bucket pre-compression — size up accordingly;
counts must MATCH across tables you intend to co-join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from dp_dimension_importer_spark.session import local_frame

#: default parquet codec for every writer here: zstd compresses the text-
#: heavy tables ~30-40% smaller than snappy at similar CPU — at 100 TB
#: that is the difference in scan time, shuffle spill, and storage bill.
PARQUET_CODEC = "zstd"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    compression: str = PARQUET_CODEC,
) -> None:
    """Write ``df`` as parquet partitioned by ``partition_cols`` (one
    directory level per column, low-cardinality columns only — each
    value is a directory; a high-cardinality partition column is the
    classic small-files trap).

    The explicit-width repartition pins the exchange against AQE
    coalescing (the hive-writer lesson, ``_write_partitioned_files``):
    without it a small write collapses to ONE task that opens every
    partition directory's file sequentially; with it each partition
    value lands wholly in one task (one file per value per write, fewer
    files than the per-task-per-value fan-out) and file creation runs in
    parallel across the session's shuffle width."""
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (df.repartition(width, *partition_cols)
     .write.mode(mode).option("compression", compression)
     .partitionBy(*partition_cols).parquet(path))


def read_partitioned(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """Read a partitioned parquet table; filters on partition columns
    prune directories before any file is opened. ``schema`` (DDL,
    INCLUDING the partition columns) skips the footer-sampling
    inference job when the caller knows the layout it wrote (guide §6)
    — partition-directory discovery still applies."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    mode: str = "overwrite",
    path: str | None = None,
    sort: bool = True,
    compression: str = PARQUET_CODEC,
) -> None:
    """Write ``df`` as a bucketed (and, by default, per-bucket sorted)
    parquet table registered in the session catalog. Sorting within
    buckets lets a sort-merge join skip its per-task Sort too, and gives
    min/max row-group pruning on the key.

    One hard rule at scale: the writer must not produce one file per
    (task × bucket) — Spark does NOT shuffle for a bucketBy write, so a
    T-task write of a B-bucket table emits up to T×B small files (at
    1000 executors × 1024 buckets, millions). The explicit
    ``repartition(n_buckets, bucket_col)`` here aligns write tasks with
    buckets (both sides hash with the same Murmur3 pmod), so each task
    holds exactly one bucket's rows and the output is ``n_buckets``
    files."""
    w = (
        df.repartition(n_buckets, bucket_col)
        .write.mode(mode)
        .format("parquet")
        .option("compression", compression)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort:
        w = w.sortBy(bucket_col)
    if path is not None:
        w = w.option("path", path)  # external table: data outlives catalog
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table THROUGH THE CATALOG — ``spark.table`` is what
    carries the bucket spec to the planner; reading the parquet path
    directly would silently lose it (and reintroduce the shuffle)."""
    return spark.table(table)


def write_sharded(
    df: DataFrame,
    path: str,
    n_shards: int,
    order_col: str | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
    compression: str = PARQUET_CODEC,
) -> None:
    """Write a size-controlled training-shard set — the defense against
    the two output pathologies of a 100 TB job: the SMALL-FILES problem
    (one file per task × partition — thousands of KB-sized parquet files
    that throttle every later scan on listing + footer reads) and its
    inverse (one monster file per skewed partition that a single reader
    must chew through).

    * ``n_shards`` fixes the file fan-out: a round-robin ``repartition``
      (or ``repartitionByRange`` on ``order_col``, which keeps a global
      sort order across shard files — what a curriculum or
      deterministic-iteration loader wants) produces exactly that many
      balanced write tasks.
    * ``max_records_per_file`` caps rows per file on top of that, so one
      oversized range still splits instead of producing a monster file.
    """
    part = (
        df.repartitionByRange(n_shards, order_col)
        if order_col is not None
        else df.repartition(n_shards)
    )
    w = part.write.mode(mode).option("compression", compression)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


#: bits per clustering column in the Morton code (16 rank-buckets/column —
#: enough spread for file-level skipping at any realistic shard count; the
#: code is a write-time routing key, not an identity, so low precision is
#: fine and keeps the bucket-boundary when-chain inside codegen)
ZORDER_BITS = 4


def _morton_code(bucket_cols, bits: int):
    """Interleave the bits of N rank-bucket columns into one Z-order code:
    bit j of column i lands at position j·N + i, so a range of codes is a
    compact hyper-rectangle-ish region of the N-dim rank space. Pure
    shift/or arithmetic on small ints — codegen'd, no UDF."""
    from pyspark.sql import functions as F

    n = len(bucket_cols)
    code = F.lit(0)
    for i, c in enumerate(bucket_cols):
        for j in range(bits):
            code = code.bitwiseOR(
                F.shiftleft(F.shiftright(c, j).bitwiseAND(F.lit(1)), j * n + i)
            )
    return code


def write_clustered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_shards: int,
    mode: str = "overwrite",
    compression: str = PARQUET_CODEC,
) -> None:
    """Z-order-style MULTI-column clustering for data skipping — the gap
    :func:`write_sharded` leaves open: range-sharding on ``order_col``
    gives tight min/max file stats on ONE column; a predicate on any
    other column still touches every file. This writer rank-quantizes
    each clustering column (boundaries from a distributed
    ``approxQuantile`` — a sample, never a global sort), interleaves the
    bucket bits into a Morton code, and ``repartitionByRange``s on the
    code: each output file covers a compact region of the JOINT rank
    space, so parquet min/max stats prune files for predicates on ANY
    clustered column or combination (the on-disk audit shows a 2-column
    predicate skipping most files vs an unclustered layout).

    Rank quantization (not value-width buckets) makes the layout skew-
    immune: a heavy-hitter value occupies many buckets of its own instead
    of dragging half the table into one. All arithmetic is codegen'd
    expressions; the only driver materialization is the ~2^bits·|cols|
    boundary values. The code column is dropped before writing — it is a
    routing key, not data. Files are additionally sorted by the code
    within each shard so row-group stats stay tight inside big files."""
    (
        zorder_layout(df, cols, n_shards)
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )


def zorder_layout(df: DataFrame, cols: list[str], n_shards: int) -> DataFrame:
    """The clustering transform behind :func:`write_clustered`, factored
    so any writer can adopt it (the maintenance rewrites of
    :func:`_maintain` cluster with it): rank-quantize each column,
    interleave the bucket bits into a Morton code, range-repartition
    into ``n_shards`` and sort within each — the returned frame's
    partitions ARE the to-be-written files, each covering a compact
    region of the joint rank space."""
    from pyspark.sql import functions as F

    if not cols or n_shards < 1:
        raise ValueError("need ≥1 clustering column and ≥1 shard")
    n_buckets = 1 << ZORDER_BITS
    qs = [i / n_buckets for i in range(1, n_buckets)]
    # ONE multi-column approxQuantile pass (not a scan per column), over
    # double-casted copies so numeric/date/decimal all rank uniformly
    casted = df.select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    )
    all_cuts = casted.approxQuantile(cols, qs, 0.01)
    bucket_exprs = []
    for c, cuts in zip(cols, all_cuts):
        if not cuts:
            # approxQuantile returns [] for an all-null / non-castable
            # column — every row would land in bucket 0 and the promised
            # skipping on this column would silently not exist
            raise ValueError(
                f"zorder_layout: column {c!r} has no castable non-null "
                "values to rank-quantize — clustering on it is a no-op"
            )
        b = F.lit(0)
        for cut in cuts:  # monotone when-chain: count boundaries passed
            b = b + F.when(F.col(c).cast("double") > cut, 1).otherwise(0)
        bucket_exprs.append(b)
    code = _morton_code(bucket_exprs, ZORDER_BITS).alias("__zcode")
    return (
        df.withColumn("__zcode", code)
        .repartitionByRange(n_shards, F.col("__zcode"))
        .sortWithinPartitions("__zcode")
        .drop("__zcode")
    )


def _maintain(
    spark: SparkSession,
    path: str,
    man: dict,
    head: int,
    base,
    names: tuple = ("files_rewritten", None),
    groups=None,
    minor: bool = False,
    compression: str = PARQUET_CODEC,
    cluster: tuple | None = None,
    n_out: int | None = None,
    target_bytes: int | None = None,
    stats_cols=(),
    extra=None,
) -> dict:
    """The one pipeline of the maintenance verbs (:func:`optimize_snapshot`,
    :func:`optimize_snapshot_incremental`,
    :func:`compact_small_files_snapshot`,
    :func:`purge_deletion_vectors`, :func:`optimize_partitions` and
    :func:`compact_mor`). The verb resolves the head ``man`` (version
    ``head``, :func:`_dml_head`) and picks ``base`` files and, for a
    chain fold, ``groups`` (the picked files of each delta group) — the
    only verb-specific step. Then:

    1. **Read**: base files through the DV-aware scan under the forced
       physical schema (:func:`_scan_with_pos`); a chain fold through
       one latest-wins resolve of ``_chain_manifest(man, base,
       groups)``. ``minor`` keeps the tombstones: they still mask base
       rows the fold never reads.
    2. **Layout**: Z-order on ``cluster`` (``(cols, n_shards)``; an
       empty frame stays unclustered), a round-robin fan-out to
       ``n_out`` files, and a row cap derived from the picked files' own
       bytes per row when ``target_bytes`` is set.
    3. **Write**: base rewrites through :func:`_route_rewrite`, a chain
       fold through :func:`_write_delta_group_routed`; both give a
       partitioned table real tuples and keep a mapped table's physical
       names.
    4. **Commit**: a base rewrite replaces the picked files
       (:func:`_commit_replace`: it rebases onto a disjoint commit and
       refuses one that touched a picked file or moved the MOR chain).
       A chain fold commits the re-built chain (:func:`_chain_manifest`)
       and refuses every race, since the chain it resolved moved: a
       minor fold appends one group after the groups it left, a major
       one adds base files; a major fold that picked every file of the
       table commits a plain manifest.

    Nothing picked commits nothing. Returns ``{"version", names[0]:
    files rewritten, "files_kept", names[1]: files written}`` (a None
    name leaves its key out) plus ``extra(files rewritten, new
    tuples)``, no-ops included."""
    import os
    import uuid

    import pyarrow.parquet as _pq

    mor = man.get("mor")
    chain = mor["deltas"] if groups is not None else []
    picked = list(base) + [rel for grp in groups or () for rel in grp]
    pool = len(man["files"]) + sum(len(grp) for grp in chain)

    def _result(version, n=0, written=(), values=None) -> dict:
        out = {"version": version, names[0]: n, "files_kept": pool - n}
        if names[1]:
            out[names[1]] = len(written)
        out.update(extra(n, values or {}) if extra else {})
        return out

    if not picked:
        return _result(head)
    mapping = man.get("column_mapping") or {}
    if groups is None:
        df, cols = _scan_with_pos(
            spark, path, picked, man.get("dv") or {}, mapping,
            _phys_schema(man),
        )
        df = df.select(*cols)
    else:
        df = _resolve_mor(
            spark, path, _chain_manifest(man, base, groups),
            keep_tombstones=minor and bool(mor.get("op_col")),
        )
    if cluster and not df.isEmpty():
        df = zorder_layout(df, *cluster)
    if n_out:
        df = df.repartition(n_out)
    cap = None
    if target_bytes is not None:
        # compressed bytes in approximate compressed bytes out: the
        # picked files' own bytes per row size the rewrite's files
        n_bytes = n_rows = 0
        for rel in picked:
            fp = os.path.join(path, rel)
            try:
                n_bytes += os.path.getsize(fp)
                n_rows += _pq.ParquetFile(fp).metadata.num_rows
            except OSError:
                pass
        if n_bytes and n_rows:
            cap = max(1, int(target_bytes * n_rows // n_bytes))
    token = uuid.uuid4().hex[:12]
    if groups is None:
        new_files, new_values = _route_rewrite(
            df, path, man, token, compression, mapping, cap
        )
        version = _commit_replace(
            path, man, token, removed=picked, new_files=new_files,
            new_values=new_values, stats_cols=stats_cols,
        )
        return _result(version, len(picked), new_files, new_values)
    new_files, new_values = _write_delta_group_routed(
        df, path, man, token, compression, cap
    )
    new_stats = _new_file_stats(path, man, new_files, mapping, stats_cols)
    gone = set(picked)
    left = [[rel for rel in grp if rel not in gone] for grp in chain]
    if minor:  # a fully folded chain restarts with the fold's group
        manifest = _chain_manifest(
            man, man["files"],
            (left if any(left) else []) + ([new_files] if new_files else []),
            new_files, new_values, new_stats,
        )
    elif len(picked) == pool:
        manifest = _replace_files(
            {k: v for k, v in man.items() if k != "mor"}, picked,
            new_files=new_files, new_values=new_values, new_stats=new_stats,
        )
    else:  # emptied groups stay: they hold commit ranks
        manifest = _chain_manifest(
            man, [rel for rel in man["files"] if rel not in gone] + new_files,
            left, new_files, new_values, new_stats,
        )

    def _refuse(head_man: dict) -> dict:
        raise ConcurrentCommitError(
            "the MOR chain moved concurrently — this fold read the old "
            "chain; re-run the verb"
        )

    version = _commit_manifest(path, manifest, token, rebase=_refuse)
    return _result(version, len(picked), new_files, new_values)


def optimize_snapshot(
    spark: SparkSession,
    path: str,
    cols: list[str],
    n_shards: int = 8,
) -> int:
    """Table-format OPTIMIZE: rewrite every live file of the CURRENT
    snapshot version Z-order-clustered on ``cols`` and commit the
    rewrite as a NEW version with per-file min/max stats for those
    columns (plus the table's own stats columns) — same rows, better
    layout, so :func:`read_snapshot_pruned` skips files for predicates
    on any clustered column. Deletion vectors materialize, a MOR chain
    resolves into plain base files, a hidden-partitioned table keeps its
    spec (files come out with real tuples), and a column-mapped table
    keeps its mapping. Readers of every prior version are untouched
    (snapshot isolation — the property an in-place re-layout cannot
    offer), time travel still reaches the pre-optimize layout, and a
    crash mid-rewrite leaves the table at the old version; superseded
    data files are reclaimed by ``vacuum_snapshots``. A racing append
    survives: the commit rebases onto it (a racing change to a rewritten
    file refuses). Returns the new version number (the head when the
    table has no file).

    An EMPTY current version (a delete-everything is legal) still
    commits — there is nothing to rank-quantize, so the empty frame is
    committed unclustered; ``zorder_layout``'s all-null refusal stays
    reserved for non-empty tables whose clustering column genuinely
    cannot rank (found by the r9 hypothesis model: overwrite →
    delete-all → optimize crashed)."""
    man, head, _ = _dml_head(path, None)
    mor = man.get("mor")
    return _maintain(
        spark, path, man, head, man["files"],
        groups=mor["deltas"] if mor else None,
        cluster=(cols, n_shards), stats_cols=cols,
    )["version"]


def optimize_snapshot_incremental(
    spark: SparkSession,
    path: str,
    cols: list[str],
    since_version: int,
    n_shards: int = 4,
    compression: str = PARQUET_CODEC,
) -> dict:
    """INCREMENTAL OPTIMIZE — the only OPTIMIZE a 100 TB table can afford
    daily: Z-order-rewrite ONLY the files added after ``since_version``
    (typically the last full/incremental optimize), carrying every
    already-clustered file untouched. Each optimize batch is internally
    clustered with tight per-file stats, which is what read-side pruning
    consumes — per-file, never globally — so batched clustering loses
    nothing pruning can see while rewriting O(new data) instead of
    O(table). The caller names the baseline version explicitly (the API
    twin of ``snapshot_changes``' version pair): no hidden marker state,
    and any prefix can serve as the clustered baseline.

    Returns ``{"version", "files_clustered", "files_kept",
    "files_written"}``; no new version when nothing was added, or when
    the added files hold no row. An added file's deletion vector
    applies in the read, so the rewrite drops its deleted rows and the
    commit drops the vector. Refuses MOR tables (deltas aren't in the
    file list; compact first)."""
    import os

    import pyarrow.parquet as _pq

    man, head, _ = _dml_head(path, None)
    versions = snapshot_versions(path)
    if since_version not in versions:
        raise FileNotFoundError(
            f"baseline version {since_version} not committed "
            f"(have {versions}) — vacuumed?"
        )
    if man.get("mor"):
        raise ValueError(
            "incremental OPTIMIZE on a MOR table: a live chain's base "
            "file list only moves via compaction, so there is nothing "
            "incremental to cluster — compact_mor folds the whole "
            "chain; optimize_partitions(where, minor=True|False) is "
            "the partition-scoped maintenance verb (r14)"
        )
    base_files = set(_load_manifest(path, since_version)["files"])
    new_rels = [rel for rel in man["files"] if rel not in base_files]
    # added files holding zero rows (an empty append's schema-only part
    # files) leave nothing to cluster, nothing worth rewriting
    if not any(
        _pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
        for rel in new_rels
    ):
        new_rels = []
    return _maintain(
        spark, path, man, head, new_rels,
        ("files_clustered", "files_written"), compression=compression,
        cluster=(cols, n_shards), stats_cols=cols,
    )


def compact_small_files_snapshot(
    spark: SparkSession,
    path: str,
    min_file_bytes: int = 8 << 20,
    compression: str = PARQUET_CODEC,
    target_file_bytes: int | None = None,
) -> dict:
    """Incremental small-file COMPACTION — the other half of OPTIMIZE
    (:func:`optimize_snapshot` is the full Z-order rewrite; this is the
    cheap daily pass the snapshot-layer scale note prescribes so the
    live-file count tracks data size, not commit count): every file
    smaller than ``min_file_bytes`` is read once, its deletion vector
    applied, and rewritten as a handful of right-sized files; files
    already at size carry into the new manifest untouched (copy-on-write,
    byte-identical — the delete verb's discipline). Outputs aim at
    ``target_file_bytes`` (default 4× the threshold — the Delta/Iceberg
    OPTIMIZE convention of a target well above the small-file cut), so
    one pass lands files that do NOT re-qualify as small and the daily
    job converges in a single step instead of asymptotically. Stats,
    when the table carries them, are recomputed for the new files and
    carried for the rest; the txn watermark map and a MOR chain carry
    unchanged (base-file compaction is resolution-neutral). Fewer than
    two small files → no-op, no commit. Returns ``{"version",
    "files_compacted", "files_kept", "files_written"}``."""
    import os

    man, head, _ = _dml_head(path, None)
    sizes = {
        rel: os.path.getsize(os.path.join(path, rel)) for rel in man["files"]
    }
    small = [rel for rel, n in sizes.items() if n < min_file_bytes]
    # estimate MERGED output bytes, not input-sum: each tiny parquet file
    # carries ~0.5 KB of header/footer/dictionary overhead that merging
    # sheds (98 ten-row files measured 52 KB on disk but 12 KB merged),
    # and compact only when the fan-out to the TARGET actually REDUCES
    # the file count — otherwise tiny outputs would re-qualify as
    # "small" and a daily job would rewrite the same bytes forever
    est = sum(max(256, sizes[rel] - 512) for rel in small)
    n_out = -(-est // (target_file_bytes or 4 * min_file_bytes)) or 1
    if len(small) < 2 or len(small) <= n_out:
        small = []
    # round-robin repartition, not coalesce: coalesce glues INPUT
    # partitions and leaves the size skew that made the files small
    return _maintain(
        spark, path, man, head, small,
        ("files_compacted", "files_written"), compression=compression,
        n_out=int(n_out),
    )


def compact_latest(
    df: DataFrame, key_cols: list[str], seq_col: str
) -> DataFrame:
    """Latest-wins compaction: one surviving row per ``key_cols``, the one
    with the greatest ``seq_col``. ``max_by(struct(row), seq)`` — a single
    hash aggregate with map-side partial max, so the exchange carries one
    row per surviving key, never the history (the win_latest_per_key
    plan). The CDC verbs' per-key batch compaction (:func:`_upsert_rows`)."""
    from pyspark.sql import functions as F

    cols = df.columns
    pick = F.max_by(F.struct(*cols), F.col(seq_col)).alias("m")
    return df.groupBy(*key_cols).agg(pick).select("m.*")


# ---------------------------------------------------------------------------
# Snapshot / manifest table layer ("table-format-lite"): the package's one
# commit protocol, reduced to its load-bearing minimum:
#
#   <path>/data/<token>/part-*.parquet    immutable data files, one dir per
#                                         producing write (never rewritten)
#   <path>/_manifests/v<N>.json          the committed file list of version N
#
# A version EXISTS iff its manifest file exists; the manifest is published
# with write-tmp-then-hard-link, and ``os.link`` fails atomically with
# EEXIST if another writer claimed the same version — optimistic
# concurrency without any lock service. Readers resolve a manifest ONCE and
# then read only immutable files, so a concurrent commit can never show a
# reader a half-written table, and a crash before the hard-link leaves the
# table at its previous version. The manifest's ``txn`` map ({app_id:
# highest committed batch id}) is the one idempotence mark: data and mark
# land in the same hard-link. On object stores, swap the hard-link claim
# for the store's if-none-match put; the layout is unchanged.
#
# Scale bound: a manifest is one JSON holding every live file path (plus
# optional per-file stats and the txn watermark map), so commit and read
# planning are O(live files) driver-side work — fine to ~10^5 files per
# table. Past that, real table formats split manifests and add a manifest
# LIST (Iceberg) or checkpointed log segments (Delta); the natural upgrade
# here is sharding v<N>.json by file-path hash with a tiny index header,
# which changes no verb's semantics. Appends in particular should be
# compacted periodically (optimize_snapshot) so the live-file count stays
# bounded by data size, not commit count.
# ---------------------------------------------------------------------------


def _manifest_dir(path: str) -> str:
    import os

    return os.path.join(path, "_manifests")


def snapshot_versions(path: str) -> list[int]:
    """Committed versions, ascending (empty if the table doesn't exist)."""
    import glob
    import os
    import re

    out = []
    for p in glob.glob(os.path.join(_manifest_dir(path), "v*.json")):
        m = re.fullmatch(r"v(\d+)\.json", os.path.basename(p))
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def write_snapshot(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    compression: str = PARQUET_CODEC,
    stats_cols: list[str] | None = None,
    enforce_schema: bool = True,
    mode: str = "overwrite",
    txn: tuple[str, int] | None = None,
) -> int:
    """Commit ``df`` as the table's next snapshot version; returns the
    version number. Data files land under a fresh ``data/<token>/``
    directory first; the version exists only once its manifest hard-link
    succeeds, so a crash anywhere before that leaves the table exactly at
    the previous version (orphaned data files are reclaimed by
    ``vacuum_snapshots``). Version numbers are claimed optimistically —
    on EEXIST (another writer won the race) the commit REBASES onto the
    new head and retries with the next number (both racing writers
    succeed, Iceberg/Delta optimistic concurrency); the data files need
    no rewrite because manifests, not directory names, define
    membership. The rebase refuses (:class:`ConcurrentCommitError`) when
    the race was NOT disjoint — the competing commit changed the
    schema/constraints/generated/mapping contracts or turned the table
    MOR — because this commit's rows were never validated against the
    new contracts.

    ``stats_cols``: also record per-file min/max for those columns in
    the manifest (harvested from parquet FOOTERS — no data pages read),
    enabling ``read_snapshot_pruned``. Stats ride in the same manifest
    whose hard-link IS the commit, so readers never see files without
    their stats.

    Schema contract: every manifest records the committed schema, and
    ``enforce_schema=True`` (default) allows only ADDITIVE evolution —
    the new snapshot must keep every existing column at its existing
    type (new columns are fine; time travel + ``mergeSchema`` handles
    the read side, q65's contract). A dropped or retyped column raises
    BEFORE any data is written, because the rejected commit would
    silently break every downstream reader of that column — pass
    ``enforce_schema=False`` for a deliberate breaking rewrite.

    ``mode='append'``: the new version's file list is the previous
    version's PLUS this commit's files — streaming micro-batch ingestion's
    shape (prior files untouched, their recorded stats carried forward).

    ``txn=(app_id, batch_id)``: transactional idempotence for
    at-least-once writers (Delta's txn action): every manifest carries a
    cumulative ``{app_id: highest_committed_batch_id}`` watermark map, and
    a commit whose ``batch_id`` is ≤ its app's watermark is SKIPPED — no
    data written, the current latest version returned — so a redelivered
    foreachBatch micro-batch can never land twice. Watermarks never
    regress: every verb carries the map forward (including RESTORE, which
    keeps the LATEST map rather than the restored version's stale one)."""
    import glob
    import json
    import os
    import uuid

    versions = snapshot_versions(path)
    prev: dict = {}
    if versions:
        with open(
            os.path.join(_manifest_dir(path), f"v{versions[-1]}.json")
        ) as f:
            prev = json.load(f)
    if txn is not None:
        app_id, batch_id = txn
        if batch_id <= (prev.get("txn") or {}).get(app_id, -1):
            return versions[-1]  # already committed: idempotent skip
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown snapshot write mode {mode!r}")
    if mode == "append" and prev.get("mor"):
        # a raw append would outrank nothing and dodge resolution — on a
        # MOR table new rows go through upsert_delta_snapshot (or
        # compact_mor first); silently dropping the delta chain here
        # would be data loss
        raise ValueError(
            "append into a MOR table: use upsert_delta_snapshot, or "
            "compact_mor before appending"
        )
    df = _admit(df, prev, "write_snapshot")
    new_schema = {f.name: f.dataType.simpleString() for f in df.schema}
    if enforce_schema and prev:
        for col_name, col_type in (prev.get("schema") or {}).items():
            if new_schema.get(col_name) != col_type:
                raise ValueError(
                    f"snapshot schema evolution must be additive: column "
                    f"{col_name!r} was {col_type}, new commit has "
                    f"{new_schema.get(col_name)!r} (pass "
                    f"enforce_schema=False for a breaking rewrite)"
                )
    if mode == "append" and prev.get("dropped"):
        reborn = sorted(
            c for c in new_schema
            if c not in (prev.get("schema") or {}) and c in prev["dropped"]
        )
        if reborn:
            raise ValueError(
                f"columns {reborn} reuse DROPPED column names whose bytes "
                "still live in old files — the forced scan would "
                "resurrect stale values; rewrite the table (overwrite) "
                "before reusing the name"
            )

    mapping = (
        (prev.get("column_mapping") or {}) if mode == "append" else {}
    )
    if mapping:
        # appended files must share the table's PHYSICAL schema: write
        # with physical names, keep logical everywhere else (the mapped
        # read translates back); an overwrite instead MATERIALIZES the
        # rename — fresh files carry logical names, the map is cleared
        df = df.withColumnsRenamed(mapping)
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, "data", token)
    (df.write.mode("error").option("compression", compression)
     .parquet(data_dir))
    new_files = sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
    )
    return _commit_write(
        path, prev, token, mode == "append", new_schema, new_files,
        stats_cols, txn,
    )


def _commit_write(
    path: str,
    prev: dict,
    token: str,
    append: bool,
    new_schema: dict,
    new_files: list,
    stats_cols: list[str] | None = None,
    txn: tuple | None = None,
    fresh: dict | None = None,
    new_values: dict | None = None,
    rebase: bool = True,
) -> int:
    """Commit a write's ``new_files`` on the table head ``prev`` — the
    commit shared by :func:`write_snapshot`,
    :func:`write_snapshot_partitioned` and
    :func:`materialize_column_mapping`. An append adds them to the
    head's files (carried files keep their tuples, DVs and stats; on a
    hidden-partitioned table, new files without ``new_values`` tuples
    map to None — pruning degrades, never lies); an overwrite replaces
    them under the rewrite's policies. ``fresh`` is a partitioned
    write's own block (``{"specs", "current", "values"}``): an overwrite
    writes it with ``new_values``, an append uses it when the head has
    none. ``stats_cols`` harvests the new files' stats (footers speak
    the physical names an append wrote); ``txn`` advances the watermark
    map.

    Racing-writer rebase (r11 verdict #3): the files are already on disk
    and disjoint from the competing commit's, so the manifest is rebuilt
    on the new head unless the head turned MOR, committed this ``txn``
    batch, or moved a policy (:func:`_require_policies`; a racing table
    creation must have created exactly this commit's table). ``rebase``
    False refuses every race: a rewrite of rows it read."""
    new_stats = None
    if stats_cols is not None:
        mapping = (prev.get("column_mapping") or {}) if append else {}
        new_stats = _stats_logical(new_files, path, stats_cols, mapping)

    def _build(on: dict) -> dict:
        marks = dict(on.get("txn") or {})
        if txn is not None:
            marks[txn[0]] = txn[1]
        if append:
            base = {**on, "schema": new_schema, "txn": marks}
            if fresh:
                base["partition"] = on.get("partition") or fresh
            return _replace_files(
                base, new_files=new_files, new_values=new_values,
                new_stats=new_stats,
            )
        m = {
            "files": new_files, "schema": new_schema,
            **_policies(on, rewrite=True),
        }
        if fresh:
            m["partition"] = {**fresh, "values": new_values}
        if new_stats is not None:
            m["stats"] = new_stats
        if marks:
            m["txn"] = marks
        return m

    def _rebase(head: dict) -> dict:
        if head.get("mor"):
            raise ConcurrentCommitError(
                "concurrent commit made the table MOR — a write would "
                "dodge delta resolution; use upsert_delta_snapshot"
            )
        created = {"schema": new_schema}
        if fresh:
            created["partition"] = fresh
        _require_policies(head, prev or created)
        if txn is not None and txn[1] <= (head.get("txn") or {}).get(
            txn[0], -1
        ):
            raise ConcurrentCommitError(
                f"txn batch {txn} already committed by a concurrent "
                "writer — re-run the verb for the idempotent skip"
            )
        return _build(head)

    return _commit_manifest(
        path, _build(prev), token, rebase=_rebase if rebase else None
    )


def _require_key_disjoint(rels, stats, key_cols, src_bounds, what, path):
    """Key-range commit validation (r13, r12 verdict #4 — the Iceberg
    validation-based MERGE rebase): every concurrently-added file must
    have, on at least one key column, recorded [min, max] stats provably
    DISJOINT from the MERGE source's key range — then the racing rows
    cannot contain any source key, so neither the matched set nor the
    NOT-MATCHED insert decision is affected and the merge may rebase.
    A file with no stats gets ONE footer metadata read: zero rows means
    provably harmless (Spark's writer emits schema-only part files),
    anything else refuses — conservative by construction. ``src_bounds``:
    {key col: (encoded lo, encoded hi)}; ``stats`` values are the
    manifest's encoded [min, max] pairs."""
    import os

    import pyarrow.parquet as pq

    for rel in rels:
        per = (stats or {}).get(rel) or {}
        for kc in key_cols:
            s, b = per.get(kc), src_bounds.get(kc)
            if s is not None and b is not None and (
                s[1] < b[0] or s[0] > b[1]
            ):
                break  # provably disjoint on this key column
        else:
            try:
                n = pq.ParquetFile(
                    os.path.join(path, rel)
                ).metadata.num_rows
            except OSError:
                n = -1
            if n == 0:
                continue  # empty part file: cannot contain any key
            raise ConcurrentCommitError(
                f"{what}: concurrently-added file {rel!r} has no "
                "key-column stats provably disjoint from the MERGE "
                "source's key range — its rows may contain source keys "
                "(a NOT-MATCHED insert would write-skew); re-run the "
                "merge against the new head"
            )


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between this verb's read of the table
    head and its manifest hard-link, and the commit could not be safely
    rebased onto the new head. The verb's work is NOT committed — re-run
    it against the new head (read-modify-write verbs must re-read;
    at-least-once writers with ``txn`` get the idempotent skip)."""


def _dml_head(path: str, branch: str | None):
    """Head loader for the DML verbs (r14 — DML on branches, the WAP
    gap: audits could only stage blind writes, never the delete/merge
    they actually wanted to validate before publishing): returns
    ``(manifest, head id, expected next branch commit)``. On main the
    head id is the latest version and the third slot None; on a branch
    it is the branch-local head number (0 = the fork point) and the
    commit number the DML must claim. Branch DML is SINGLE-CLAIM
    optimistic: a racing branch writer surfaces as
    :class:`ConcurrentCommitError`, never a silent lost update."""
    if branch is None:
        head, man = _snapshot_manifest(path)
        return man, head, None
    # numbers before the head read: a commit landing in between makes
    # the claim of head + 1 collide instead of renumbering a stale head
    bvs = branch_versions(path, branch)
    man = _branch_head_manifest(path, branch)
    head = bvs[-1] if bvs else 0
    return man, head, head + 1


def _commit_branch_manifest(
    path: str, name: str, manifest: dict, token: str, bv: int
) -> int:
    """Claim branch commit ``bv`` EXACTLY (tmp + fsync + hard-link) —
    every branch commit, DML or :func:`write_snapshot_to_branch`: its
    manifest is derived from the branch head, so losing the claim means
    the head moved and the derivation is stale — refuse, never
    renumber."""
    import json
    import os

    bdir = _branch_dir(path, name)
    tmp = os.path.join(bdir, f".tmp-{token}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    final = os.path.join(bdir, f"b{bv}.json")
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"branch {name!r} advanced concurrently (b{bv} already "
            "claimed) — re-run the verb against the new branch head"
        )
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
    return bv


def _commit_dml_manifest(
    path, manifest, token, branch, expect_bv, rebase=None
) -> int:
    """Commit sink shared by the DML verbs: main commits go through
    :func:`_commit_manifest` (optimistic rebase and all); branch
    commits claim their pre-computed number via
    :func:`_commit_branch_manifest` (no rebase — branch audit sessions
    are single-writer by design, racing ones refuse loudly)."""
    if branch is None:
        return _commit_manifest(path, manifest, token, rebase=rebase)
    return _commit_branch_manifest(path, branch, manifest, token, expect_bv)


def _commit_manifest(path, manifest, token, rebase=None) -> int:
    """Claim the next version number optimistically and publish
    ``manifest`` under it (hard-link = the atomic commit). Shared by
    every snapshot-mutating verb — write, merge, optimize, delete. The
    manifest is published exactly as built: table policies are the
    builders' business (:func:`_policies`), so main and branch commits
    declare the same policies by construction.

    EEXIST on the hard-link means another writer committed first. The
    pre-r12 behavior — silently retry the SAME manifest under the next
    number — was a lost update for any commit built against the old head
    (a racing appender's files vanished from the new latest). Now
    (r11 verdict #3, the Iceberg/Delta optimistic-concurrency shape):

    * ``rebase=None`` (read-modify-write verbs: DELETE/UPDATE/MERGE,
      metadata verbs) → raise :class:`ConcurrentCommitError`; the
      verb's derivation is stale by definition and must re-run (the MOR
      chain folds pass a rebase that always refuses, naming the chain).
    * ``rebase=callable`` (append-shaped commits, which ARE disjoint
      from any racing commit unless the table's contracts moved) → the
      callable receives the competing head manifest, validates
      no-conflict (schema/constraints/mapping/MOR drift), and returns
      the manifest rebuilt on the new head; the claim retries with it.
      It raises ConcurrentCommitError itself on a real conflict."""
    import json
    import os

    import time

    # ADVICE r8: callers that re-publish a LOADED manifest (restore, the
    # empty-delta txn advance) may pass a dict still carrying the prior
    # version's "version" / "committed_at" keys, which would override the
    # freshly claimed values in the dump below — strip them here so no
    # caller can mislabel a commit.
    manifest = {
        k: v
        for k, v in manifest.items()
        if k not in ("version", "committed_at")
    }
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{token}.json")
    pending_rebase = False
    while True:
        version = (snapshot_versions(path) or [0])[-1] + 1
        # ADVICE r9: committed_at is wall-clock; a clock step backwards
        # would make AS-OF resolution ambiguous between adjacent versions.
        # Clamp to >= the previous version's instant so the sequence is
        # monotone non-decreasing by construction.
        committed_at = time.time()
        prev_man: dict = {}
        if version > 1:
            try:
                with open(
                    os.path.join(mdir, f"v{version - 1}.json")
                ) as pf:
                    prev_man = json.load(pf)
                prev_ct = prev_man.get("committed_at")
                if prev_ct is not None:
                    committed_at = max(committed_at, float(prev_ct))
            except (OSError, ValueError):
                pass  # prev vacuumed / unreadable: wall clock stands
        if pending_rebase:
            # rebase against the LATEST head (recomputed this iteration —
            # more commits may have landed since the failed claim, and
            # rebasing onto only the conflicting version would drop them)
            if version > 1 and not prev_man:
                raise ConcurrentCommitError(
                    f"competing head v{version - 1} of {path!r} is "
                    "unreadable — cannot validate the race was disjoint"
                )
            manifest = {
                k: v
                for k, v in rebase(prev_man).items()
                if k not in ("version", "committed_at")
            }
            pending_rebase = False
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": version,
                    "committed_at": committed_at,
                    **manifest,
                },
                f,
            )
        final = os.path.join(mdir, f"v{version}.json")
        try:
            os.link(tmp, final)  # atomic claim: EEXIST = lost the race
        except FileExistsError:
            if rebase is None:
                raise ConcurrentCommitError(
                    f"lost the commit race for {path!r} v{version}: "
                    "another writer committed first and this manifest "
                    "was derived from the old head — re-run the verb "
                    "against the new head"
                ) from None
            pending_rebase = True
            continue
        finally:
            if os.path.exists(final):
                os.unlink(tmp)
        return version


def version_asof(path: str, ts: float) -> int:
    """TIMESTAMP time travel resolution (``AS OF <instant>``): the newest
    retained version whose commit instant is ≤ ``ts`` (manifests record
    ``committed_at`` at hard-link time). Raises if every retained version
    is newer — the instant predates retained history (vacuum may have
    expired the version that WAS current then; resolving to a later one
    would silently answer a different question)."""
    import json
    import os

    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    best = None
    for v in versions:
        mpath = os.path.join(_manifest_dir(path), f"v{v}.json")
        with open(mpath) as f:
            ct = json.load(f).get("committed_at")
        if ct is None:
            # ADVICE r9: manifests committed before committed_at existed
            # must not be skipped (that would resolve an asof instant past
            # the version that WAS current then). The manifest file's
            # mtime is the hard-link instant — the same event
            # committed_at records — so it is the honest fallback.
            ct = os.path.getmtime(mpath)
        if ct <= ts:
            best = v
    if best is None:
        raise FileNotFoundError(
            f"no retained version of {path!r} committed at or before "
            f"{ts} (earliest retained is v{versions[0]})"
        )
    return best


def _resolve_selector(
    path: str,
    version: int | None,
    tag: str | None,
    asof: float | None,
) -> int | None:
    """Shared version-selector resolution for the snapshot readers: at
    most one of ``version`` / ``tag`` / ``asof``; returns the resolved
    version number (None = latest)."""
    if sum(x is not None for x in (version, tag, asof)) > 1:
        raise ValueError("pass at most one of version, tag, asof")
    if tag is not None:
        tags = list_tags(path)
        if tag not in tags:
            raise FileNotFoundError(
                f"no tag {tag!r} on {path!r} (have {sorted(tags)})"
            )
        return tags[tag]
    if asof is not None:
        return version_asof(path, asof)
    return version


def _snapshot_manifest(
    path: str,
    version: int | None = None,
    tag: str | None = None,
    asof: float | None = None,
) -> tuple[int, dict]:
    """``(version, manifest)`` of the retained version the selector names
    (the latest by default): the one version lookup of every reader and
    every verb that starts from a committed version."""
    version = _resolve_selector(path, version, tag, asof)
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"version {version} not committed (have {versions}) — vacuumed?"
        )
    return version, _load_manifest(path, version)


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    tag: str | None = None,
    asof: float | None = None,
) -> DataFrame:
    """Read a committed snapshot — the latest by default, any retained
    ``version`` (time travel), a named ``tag`` (:func:`tag_snapshot`),
    or the version current AS OF a unix instant (``asof``,
    :func:`version_asof`). The manifest is resolved once, then only the
    immutable files it lists are read: concurrent commits are invisible,
    and a filter/projection on top prunes and pushes down exactly as on
    a plain parquet read."""
    _, manifest = _snapshot_manifest(path, version, tag, asof)
    return _manifest_df(spark, path, manifest)


def _manifest_df(spark: SparkSession, path: str, manifest: dict) -> DataFrame:
    """Resolve ONE manifest to its DataFrame — the MOR/DV/plain dispatch
    shared by :func:`read_snapshot` and :func:`read_branch`."""
    import os

    if not manifest.get("files") and not manifest.get("mor"):
        # a legitimately EMPTY table (e.g. the corrective commit after a
        # prev-less publish race) or a scoped read that kept no file:
        # typed empty frame from the recorded schema, not a zero-path
        # parquet read (which errors); a local relation collects with no
        # job
        ddl = _schema_ddl(manifest.get("schema") or {}) or "dummy string"
        return local_frame(spark, [], StructType.fromDDL(ddl))
    if manifest.get("mor"):
        # merge-on-read upserts: latest-wins resolution of the delta
        # chain (see upsert_delta_snapshot); versions without deltas
        # pay nothing
        return _resolve_mor(spark, path, manifest)
    mapping = manifest.get("column_mapping")
    dv_map = manifest.get("dv") or {}
    force = _phys_schema(manifest)
    if not dv_map:
        reader = spark.read
        if force:
            reader = reader.schema(_schema_ddl(force))
        return _apply_mapping(
            reader.parquet(
                *(os.path.join(path, rel) for rel in manifest["files"])
            ),
            mapping,
        )
    # merge-on-read: anti-join the version's deletion vectors (see
    # delete_where_snapshot mode="dv"); a version without DVs pays zero
    data, cols = _scan_with_pos(
        spark, path, manifest["files"], dv_map, force_schema=force
    )
    return _apply_mapping(data.select(*cols), mapping)


def _upsert_rows(
    changes: DataFrame, key_cols: list[str], seq_col: str,
    not_null: tuple[str, ...] = (),
) -> DataFrame:
    """The rows an upsert of ``changes`` lands: the latest per key
    (:func:`compact_latest`), with a NULL key, seq or ``not_null``
    column failing the batch in the source's first pass (no extra job).
    MERGE matches no NULL key, so a stored NULL-key row would be
    inserted again by every later batch; a key whose rows all carry a
    NULL seq would compact to an all-NULL row."""
    from pyspark.sql import functions as F

    changes = changes.withColumns({
        c: F.when(
            F.col(c).isNull(),
            F.raise_error(F.lit(
                f"change row has a NULL {'key ' if c in key_cols else ''}"
                f"{c!r}"
            )),
        ).otherwise(F.col(c))
        for c in [*key_cols, seq_col, *not_null]
    })
    return compact_latest(changes, key_cols, seq_col)


def merge_upsert_snapshot(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    txn: tuple[str, int] | None = None,
) -> int:
    """CDC upsert with SNAPSHOT ISOLATION — the reference's idempotent
    node-upsert (`store/store.go:16-20`) at table scale: per ``key_cols``
    the row with the greatest ``seq_col`` wins (the change row on a
    tie), so unknown keys insert, absent keys are untouched and
    re-applying a batch changes nothing. ``changes`` must carry exactly
    the table's columns, and a change row with a NULL key fails the
    batch before anything is written: MERGE matches no NULL key, so
    every redelivery would insert that row again. The batch is
    compacted to its latest row per key (:func:`compact_latest`) and
    lands through :func:`merge_into_snapshot`: only files holding a
    changed key are rewritten, and ``txn`` is that verb's idempotence
    watermark. Returns the new version."""
    from pyspark.sql import functions as F

    _, man = _snapshot_manifest(path)
    cols = list(man.get("schema") or {})
    if set(cols) != set(changes.columns):
        raise ValueError(
            f"schema mismatch: table {sorted(cols)} vs "
            f"changes {sorted(changes.columns)}"
        )
    newer = F.col(f"src_{seq_col}") >= F.col(seq_col)
    return merge_into_snapshot(
        spark, path, _upsert_rows(changes, key_cols, seq_col), key_cols,
        update_set={
            c: F.when(newer, F.col(f"src_{c}")).otherwise(F.col(c))
            for c in cols if c not in key_cols
        },
        insert=True, txn=txn,
    )


def stage_snapshot(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    compression: str = PARQUET_CODEC,
    stats_cols: list[str] | None = None,
) -> dict:
    """WRITE step of WRITE-AUDIT-PUBLISH (Iceberg's WAP workflow on this
    layer's commit protocol): write ``df``'s data files under a fresh
    ``data/<token>/`` directory and return a STAGED handle — the files
    are INVISIBLE to every reader because no manifest references them
    (exactly the crash-invisibility property the snapshot tests pin, used
    deliberately). Audit the candidate with :func:`read_staged`; then
    either :func:`publish_snapshot` (atomic manifest hard-link, same
    commit point as every verb) or :func:`abandon_staged` (drop the
    files; an un-abandoned orphan is reclaimed by ``vacuum_snapshots``
    like any crashed commit). The audit reads the EXACT bytes that would
    publish — no re-write between audit and publish, so the check can
    never drift from the published data."""
    import glob
    import os
    import uuid

    vs = snapshot_versions(path)
    prev = _load_manifest(path, vs[-1]) if vs else {}
    # WAP stages are writes: the audit step must never be the only thing
    # standing between a violating row and publish
    df = _admit(df, prev, "stage_snapshot")
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, "data", token)
    (df.write.mode("error").option("compression", compression)
     .parquet(data_dir))
    files = sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
    )
    manifest: dict = {
        "files": files,
        "schema": {f.name: f.dataType.simpleString() for f in df.schema},
        # record the maps the stage validated against (empty included) so
        # publish can detect a table that grew constraints/generated
        # contracts INSIDE the stage->audit->publish window and
        # re-validate; a published candidate fully replaces the table's
        # files, so it carries the rewrite's policies
        "constraints": {},
        "generated": {},
        **_policies(prev, rewrite=True),
    }
    if stats_cols is not None:
        manifest["stats"] = collect_file_stats(files, path, stats_cols)
    return {"token": token, "manifest": manifest}


def read_staged(spark: SparkSession, path: str, staged: dict) -> DataFrame:
    """AUDIT-side read of a staged (unpublished) candidate — the same
    files :func:`publish_snapshot` would commit, by construction."""
    import os

    return spark.read.schema(
        _schema_ddl(_phys_schema(staged["manifest"]))
    ).parquet(
        *(os.path.join(path, rel) for rel in staged["manifest"]["files"])
    )


def _missing_files(path: str, manifest: dict) -> list[str]:
    """Manifest data files that no longer exist on disk (module-level so
    the publish-race corrective path is unit-testable by patching)."""
    import os

    return [
        rel
        for rel in manifest["files"]
        if not os.path.exists(os.path.join(path, rel))
    ]


def publish_snapshot(
    path: str, staged: dict, enforce_schema: bool = True,
    spark: SparkSession | None = None,
) -> int:
    """PUBLISH step of WAP: commit a staged candidate as the table's next
    version — pure metadata (the manifest hard-link), zero data movement,
    so the window between a passed audit and visibility is one atomic
    filesystem op. Schema/txn rules are checked HERE against the latest
    committed version (not at stage time): publish is the serialization
    point, and a table that evolved between stage and publish must be
    re-validated against what it evolved into. That includes CHECK
    constraints and generated-column contracts (ADVICE r11 low): when
    the latest maps differ from the ones in force at stage time, the
    staged rows were never validated against them — pass ``spark`` and
    publish re-validates (one aggregate over the staged files); without
    a session it refuses rather than inherit an unvalidated map."""
    import json
    import os

    prev: dict = {}
    versions = snapshot_versions(path)
    if versions:
        with open(
            os.path.join(_manifest_dir(path), f"v{versions[-1]}.json")
        ) as f:
            prev = json.load(f)
    new_schema = staged["manifest"]["schema"]
    if enforce_schema and prev:
        for col_name, col_type in (prev.get("schema") or {}).items():
            if new_schema.get(col_name) != col_type:
                raise ValueError(
                    f"snapshot schema evolution must be additive: column "
                    f"{col_name!r} was {col_type}, staged candidate has "
                    f"{new_schema.get(col_name)!r}"
                )
    manifest = dict(staged["manifest"])
    latest_cons = prev.get("constraints") or {}
    latest_gen = prev.get("generated") or {}
    staged_cons = manifest.get("constraints") or {}
    staged_gen = manifest.get("generated") or {}
    if latest_cons != staged_cons or latest_gen != staged_gen:
        drifted_cons = {
            n: e for n, e in latest_cons.items()
            if staged_cons.get(n) != e
        }
        drifted_gen = {
            c: e for c, e in latest_gen.items()
            if staged_gen.get(c) != e
        }
        if drifted_cons or drifted_gen:
            if spark is None:
                raise ValueError(
                    "table grew constraints/generated contracts between "
                    f"stage and publish (constraints {drifted_cons}, "
                    f"generated {drifted_gen}) — pass spark= so publish "
                    "can re-validate the staged rows against them"
                )
            audit_df = spark.read.schema(
                _schema_ddl(_phys_schema(manifest))
            ).parquet(
                *(
                    os.path.join(path, rel)
                    for rel in manifest["files"]
                )
            ) if manifest["files"] else None
            if audit_df is not None:
                _admit(
                    audit_df,
                    {
                        "constraints": drifted_cons,
                        "generated": drifted_gen,
                        "schema": new_schema,
                    },
                    "publish_snapshot (contract added after stage)",
                )
        # re-validated (or only drops drifted): publish under the maps
        # the table evolved into
        manifest["constraints"] = latest_cons
        manifest["generated"] = latest_gen
    if prev.get("txn"):
        manifest["txn"] = prev["txn"]  # watermarks never regress
    # ADVICE r9: a staged candidate is deliberately vacuumable (it looks
    # like any crashed commit), so a routine vacuum running inside the
    # stage->audit->publish window may have reclaimed its files. Committing
    # anyway would publish a LATEST version with dangling references and
    # break every subsequent read — check before the commit, and re-check
    # after (a vacuum that enumerated manifests BEFORE our hard-link can
    # still unlink the files just after our pre-check).
    gone = _missing_files(path, manifest)
    if gone:
        raise ValueError(
            f"staged candidate {staged['token']!r} reclaimed by vacuum "
            f"(missing {gone[:3]}{'...' if len(gone) > 3 else ''}) — "
            "re-stage and re-audit"
        )
    version = _commit_manifest(path, manifest, staged["token"])
    gone = _missing_files(path, manifest)
    if gone:
        # ADVICE r10 (medium): NEVER unlink the committed v{version}
        # manifest — the next _commit_manifest would reuse the number
        # with different content, so a reader/tagger that observed
        # v{version} in the window would silently name different data
        # (and a tag pinned to it would survive the unlink pointing at
        # reused content). Version numbers are immutable once claimed:
        # leave the dangling manifest in place and commit a CORRECTIVE
        # follow-up re-publishing the pre-publish head (the
        # restore_snapshot shape), so the table head stays readable and
        # v{version} reads fail loudly on its missing files instead of
        # succeeding on somebody else's data.
        corrective = dict(prev) if prev else {
            "files": [], "schema": dict(new_schema),
        }
        corrective.pop("version", None)
        if manifest.get("txn"):
            corrective["txn"] = manifest["txn"]  # watermarks never regress
        import uuid

        _commit_manifest(path, corrective, uuid.uuid4().hex[:12])
        raise ValueError(
            f"staged candidate {staged['token']!r} reclaimed by a vacuum "
            f"racing the publish — v{version} is dangling and a "
            "corrective commit restored the prior head; re-stage and "
            "re-audit"
        )
    return version


def abandon_staged(path: str, staged: dict) -> None:
    """Drop a staged candidate that failed its audit — its directory and
    nothing else; committed versions are untouched."""
    import os
    import shutil

    shutil.rmtree(
        os.path.join(path, "data", staged["token"]), ignore_errors=True
    )


def merge_apply_changes(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    txn: tuple[str, int] | None = None,
) -> int:
    """Full MERGE with DELETE markers — the verb a real CDC feed needs
    that :func:`merge_upsert_snapshot` (upsert-only) cannot express:
    ``changes`` carries the table's columns plus ``op``, and per key
    the HIGHEST-``seq_col`` change decides — ``op = 'D'`` removes the
    key, any other op replaces (or inserts) the row. Applied with
    snapshot isolation: the result commits as a NEW version, prior
    versions stay readable. Returns the new version.

    Semantics pinned by the oracle: a delete for an absent key is a
    no-op; an insert arriving after a delete IN THE SAME feed wins if its
    seq is higher (per-key compaction happens before the merge, so intra-
    feed ordering is by seq alone); ties within a feed are a caller
    contract violation, as in every other (key, seq) verb here. A NULL
    key, seq or ``op`` fails the batch before anything is written: a
    NULL op would neither delete nor insert its key.

    The feed is compacted to its latest row per key
    (:func:`_upsert_rows`) and lands through ONE
    :func:`merge_into_snapshot`: DELETE when the op is ``'D'``, UPDATE
    SET every non-key column from the source, INSERT only a non-delete.
    Only files holding a changed key are rewritten, a racing commit
    rebases or refuses under MERGE's key-range gates, and ``txn`` is
    that verb's idempotence watermark (a redelivered batch is skipped
    before any file is written)."""
    from pyspark.sql import functions as F

    _, man = _snapshot_manifest(path)
    cols = list(man.get("schema") or {})
    missing = [c for c in cols + ["op"] if c not in changes.columns]
    if missing:
        raise ValueError(
            f"merge_apply_changes: feed lacks column(s) {missing} "
            "(needs the table schema plus 'op')"
        )
    delete = F.col("src_op") == "D"
    return merge_into_snapshot(
        spark, path,
        _upsert_rows(changes, key_cols, seq_col, not_null=("op",)),
        key_cols,
        update_set={c: F.col(f"src_{c}") for c in cols if c not in key_cols},
        delete_condition=delete, insert=~delete, txn=txn,
    )


# ---------------------------------------------------------------------------
# Deletion vectors — merge-on-read DELETE (the Delta DV / Iceberg v2
# position-delete idea on this layer's manifests)
# ---------------------------------------------------------------------------

DV_MAGIC = b"DVS1"


def _register_self_by_value() -> None:
    """Ship this module by value so DV closures unpickle on executors
    whose driver runs from a foreign cwd (the avro_codec mechanism)."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])


def dv_encode(positions) -> bytes:
    """Serialize row positions as a DV sidecar payload: magic + count +
    gap-encoded unsigned varints over the sorted positions. Gap encoding
    gives the size behavior that makes roaring bitmaps the table-format
    standard without a bitmap library: a deleted contiguous span costs 1
    byte/row, sparse deletes ~2-5 bytes/row."""
    out = bytearray(DV_MAGIC)

    def uv(n: int) -> None:
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                return

    pos = sorted({int(p) for p in positions})
    if pos and pos[0] < 0:
        raise ValueError("negative row position")
    uv(len(pos))
    prev = -1
    for p in pos:
        uv(p - prev - 1)  # strictly increasing → gaps ≥ 0
        prev = p
    return bytes(out)


def dv_decode(data: bytes) -> list[int]:
    """Strict inverse of :func:`dv_encode` (sorted ascending)."""
    if data[:4] != DV_MAGIC:
        raise ValueError("bad deletion-vector magic")
    pos = 4

    def uv() -> int:
        nonlocal pos
        shift = acc = 0
        while True:
            if pos >= len(data) or shift > 63:
                raise ValueError("truncated deletion vector")
            b = data[pos]
            pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return acc
            shift += 7

    n = uv()
    out: list[int] = []
    prev = -1
    for _ in range(n):
        prev = prev + 1 + uv()
        out.append(prev)
    if pos != len(data):
        raise ValueError("trailing bytes in deletion vector")
    return out


def _dv_rows(spark: SparkSession, path: str, dv_rels: list[str]) -> DataFrame:
    """(_fname, _pos) frame of every deleted position in the given DV
    sidecars, decoded DISTRIBUTED (binaryFile → mapInPandas — the driver
    never holds a bitmap). A sidecar is named ``<data basename>.dv``, so
    the target data file is self-described; basenames are unique across
    the table because Spark part-file names embed a per-write UUID."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("_fname", T.StringType()),
            T.StructField("_pos", T.LongType()),
        ]
    )

    _register_self_by_value()

    def _expand(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                fname = os.path.basename(r["path"])[: -len(".dv")]
                pp = dv_decode(bytes(r["content"]))
                yield pd.DataFrame(
                    {"_fname": [fname] * len(pp), "_pos": pp}
                )

    raw = (
        spark.read.format("binaryFile")
        .load([os.path.join(path, rel) for rel in dv_rels])
        .select("path", "content")
    )
    return raw.mapInPandas(_expand, schema=schema)


def _check_reserved(cols, reserved: tuple) -> None:
    """Refuse tables whose user schema collides with the layer's internal
    row-identity / resolution columns (ADVICE r7: a user column named
    ``_pos`` would make DV-aware reads ambiguous or silently drop it).
    A clear error at the seam beats an AnalysisException deep in a
    window plan."""
    clash = sorted(set(cols) & set(reserved))
    if clash:
        raise ValueError(
            f"column name(s) {clash} are reserved by the snapshot layer "
            f"(internal columns: {sorted(reserved)}); rename them before "
            "using DV deletes or MOR upserts on this table"
        )


def _stats_logical(
    new_files: list[str], path: str, logical_cols: list[str],
    mapping: dict | None,
) -> dict:
    """Footer-harvest per-file stats for a possibly column-mapped table:
    footers speak PHYSICAL names, the manifest speaks LOGICAL — harvest
    physical, store logical (the write_snapshot append discipline, shared
    by every mapped rewrite verb)."""
    if not mapping:
        return collect_file_stats(new_files, path, logical_cols)
    inv = {p: l for l, p in mapping.items()}
    harvested = collect_file_stats(
        new_files, path, [mapping.get(c, c) for c in logical_cols]
    )
    return {
        rel: {inv.get(c, c): v for c, v in per.items()}
        for rel, per in harvested.items()
    }


def _phys_schema(man: dict) -> dict | None:
    """``{physical col: type}`` — the scan schema every read FORCES.

    The committed manifest schema is the table's truth; schema
    INFERENCE samples one parquet footer, which on any mixed-schema
    file set (an additive append next to older files, widened types,
    dropped columns) is nondeterministic in uuid-directory order — a
    DML rewrite planning against a stale sampled footer would silently
    DROP the newer column's values from the files it rewrites (latent
    data-loss bug found by test_drop_column_lifecycle flaking in the
    r12 full-suite run). Forcing the schema makes every read
    deterministic: absent columns null-fill, narrow files upcast in the
    vectorized scan, dropped/tombstoned bytes are never projected."""
    mapping = man.get("column_mapping") or {}
    return {
        mapping.get(c, c): t for c, t in (man.get("schema") or {}).items()
    } or None


def _schema_ddl(phys_schema: dict) -> str:
    return ", ".join(f"`{c}` {t}" for c, t in phys_schema.items())


def _scan_with_pos(
    spark: SparkSession, path: str, rels: list[str], dv_map: dict,
    mapping: dict | None = None, force_schema: dict | None = None,
) -> tuple[DataFrame, list[str]]:
    """Scan manifest files with (_fname, _pos) row-identity columns
    prepended and DV-deleted rows anti-joined out; returns (frame, data
    columns). The anti-join keys on (file basename, row position) — AQE
    broadcasts the DV side when it is small (the common case: deletes
    are a sliver of the table); a huge DV degrades to a shuffled anti
    join, never to a driver-side bitmap. ``mapping`` (logical->physical,
    the manifest's column_mapping) renames the scanned columns to their
    LOGICAL names so DML predicates/assignments speak the reader's
    vocabulary; the returned columns are then logical too."""
    import os

    from pyspark.sql import functions as F

    # the whole DV stack keys row identity on (file BASENAME, position):
    # sidecars are named <data basename>.dv and the anti-join matches on
    # _metadata's basename. A manifest with colliding basenames would
    # silently cross-apply vectors — raise instead (the partitioned
    # writer renames its files to keep the invariant; this guard catches
    # hand-built manifests)
    seen: dict[str, str] = {}
    for rel in rels:
        b = os.path.basename(rel)
        if b in seen:
            raise ValueError(
                f"duplicate data-file basename {b!r} in one manifest "
                f"({seen[b]!r} vs {rel!r}): DV row identity would be "
                "ambiguous"
            )
        seen[b] = rel
    reader = spark.read
    if force_schema:
        # widened/dropped columns: the committed schema outranks file
        # footers (Spark's parquet reader upcasts int32->bigint etc. in
        # the vectorized scan; omitted columns are never read)
        reader = reader.schema(_schema_ddl(force_schema))
    df = reader.parquet(*(os.path.join(path, rel) for rel in rels))
    cols = df.columns
    _check_reserved(cols, ("_fname", "_pos"))
    data = df.select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        .alias("_fname"),
        F.col("_metadata.row_index").alias("_pos"),
        "*",
    )
    dv_rels = [dv_map[rel] for rel in rels if rel in dv_map]
    if dv_rels:
        data = data.join(
            _dv_rows(spark, path, dv_rels), ["_fname", "_pos"], "left_anti"
        )
    if mapping:
        data = _apply_mapping(data, mapping)
        cols = [
            {p: l for l, p in mapping.items()}.get(c, c) for c in cols
        ]
    return data, cols


# ---------------------------------------------------------------------------
# Table policies: the rules a manifest declares about its rows and files —
# CHECK constraints and generated columns (every written row must satisfy
# them), and column mapping, widened and dropped columns (how the files on
# disk map to the committed schema) — plus the partition spec. Every
# manifest builder carries them from the manifest it builds on
# (_policies; partition tuples through _carry_partition /
# _carry_partition_mor), every optimistic rebase refuses when one moved
# (_require_policies), and every verb that writes new rows admits them
# against the policies (_admit; maintenance rewrites re-lay rows that were
# admitted when first committed). The commit itself (_commit_manifest and
# the branch claim) knows nothing of policies, so no commit path can skip
# one.
# ---------------------------------------------------------------------------

_POLICY_KEYS = (
    "constraints", "generated", "column_mapping", "widened", "dropped",
)


def _policies(man: dict, rewrite: bool = False) -> dict:
    """The policy keys a manifest built on ``man`` carries. ``rewrite``:
    a full rewrite (overwrite, WAP stage) keeps only the row contracts —
    its fresh files carry logical names at the committed types, so the
    column mapping is materialized and the widened/dropped markers are
    recorded as cleared."""
    pol = {k: man[k] for k in _POLICY_KEYS if man.get(k)}
    if rewrite:
        pol.pop("column_mapping", None)
        pol["widened"], pol["dropped"] = {}, []
    return pol


def _require_policies(head: dict, man: dict, schema: bool = True) -> None:
    """The rebase check every optimistic commit shares: this commit was
    derived from ``man`` and lost its claim to ``head``. Its rows were
    admitted, and its files written, under ``man``'s policies, schema
    and partition spec, so a competitor that moved any of them makes
    the commit refuse with :class:`ConcurrentCommitError`. ``schema``
    False: a delta-group commit merges schemas additively (the verb
    checks the shared columns' types). Each verb adds its own checks
    (MOR refusal, txn, key-disjointness, touched files)."""
    for key in _POLICY_KEYS + (("schema",) if schema else ()):
        if (head.get(key) or None) != (man.get(key) or None):
            what = (
                "dropped/widened columns" if key in ("dropped", "widened")
                else key
            )
            raise ConcurrentCommitError(
                f"table {what} changed concurrently — this commit was "
                "derived under the old contract; re-run the verb against "
                "the new head"
            )
    hpart, mpart = head.get("partition") or {}, man.get("partition") or {}
    if (
        hpart.get("specs") != mpart.get("specs")
        or hpart.get("current") != mpart.get("current")
    ):
        raise ConcurrentCommitError(
            "partition spec evolved concurrently — this commit's tuples "
            "were computed under the old spec; re-run the verb"
        )


def _admit(df: DataFrame, man: dict, verb: str) -> DataFrame:
    """Admit the rows a verb is about to write under ``man``'s row
    policies, before any file lands, and return the frame to write.
    Omitted generated columns are computed (cast to the committed
    type); supplied generated values (null-safe equality) and every
    CHECK constraint are checked in ONE aggregate pass. SQL CHECK
    semantics: a row violates only when the expression is FALSE — NULL
    passes. A violation raises ValueError naming the contract; a
    violated constraint pays a second pass for sample rows."""
    from pyspark.sql import functions as F

    gen = man.get("generated") or {}
    cons = man.get("constraints") or {}
    schema = man.get("schema") or {}
    present = set(df.columns)
    mismatch = {}
    for col, expr in sorted(gen.items()):
        val = F.expr(expr)
        if schema.get(col):
            val = val.cast(schema[col])
        if col in present:
            mismatch[f"generated column {col!r} ({expr})"] = (
                ~F.col(col).eqNullSafe(val)
            )
        else:
            df = df.withColumn(col, val)
    violates = {
        n: ~F.coalesce(F.expr(cons[n]), F.lit(True)) for n in sorted(cons)
    }
    checks = list(mismatch.values()) + list(violates.values())
    if not checks:
        return df
    try:
        counts = df.agg(*(
            F.sum(F.when(c, 1).otherwise(0)).alias(f"c{i}")
            for i, c in enumerate(checks)
        )).first()
    except Exception as e:  # noqa: BLE001 — surface WHICH contract broke
        raise ValueError(
            f"{verb}: CHECK constraint or generated-column expression "
            f"failed to evaluate against the written schema {df.columns} "
            f"(constraints {dict(cons)}, generated {dict(gen)}): {e}"
        ) from e
    n_bad = [counts[i] or 0 for i in range(len(checks))]
    bad_gen = [name for name, n in zip(mismatch, n_bad) if n]
    if bad_gen:
        raise ValueError(
            f"{verb}: supplied values disagree with " + "; ".join(bad_gen)
            + " — omit the column to have it computed"
        )
    bad = {
        name: n for name, n in zip(violates, n_bad[len(mismatch):]) if n
    }
    if bad:
        worst = min(bad)
        sample = df.filter(violates[worst]).limit(3).collect()
        raise ValueError(
            f"{verb}: CHECK constraint violated — "
            + "; ".join(
                f"{n!r} ({cons[n]}): {c} row(s)"
                for n, c in sorted(bad.items())
            )
            + f"; sample for {worst!r}: {[tuple(r) for r in sample]}"
        )
    return df


def _replace_files(
    man: dict,
    removed=(),
    dv_set: dict | None = None,
    new_files=(),
    new_values: dict | None = None,
    new_stats: dict | None = None,
) -> dict:
    """The manifest of a FILE-REPLACING commit built on ``man``: its
    files minus ``removed``, plus ``new_files``, under ``man``'s schema
    and policies. Surviving files keep their deletion vectors
    (``dv_set`` attaches new ones), partition tuples
    (:func:`_carry_partition`; ``new_values`` tuples the new files) and
    stats (``new_stats`` adds the new files'); the txn watermarks and
    the MOR chain carry over. Shared by the first claim and the rebase
    of :func:`_commit_replace` and of COW MERGE, and the appends of
    :func:`write_snapshot`, :func:`write_snapshot_partitioned` and
    :func:`write_snapshot_to_branch`."""
    rm = set(removed)
    files = [f for f in man.get("files") or [] if f not in rm]
    files += list(new_files)
    m2 = {"files": files, "schema": man.get("schema"), **_policies(man)}
    dv = {rel: d for rel, d in (man.get("dv") or {}).items() if rel not in rm}
    dv.update(dv_set or {})
    if dv:
        m2["dv"] = dv
    _carry_partition(man, m2, new_files, new_values)
    if man.get("stats") or new_stats:
        keep = set(files)
        m2["stats"] = {
            rel: v for rel, v in (man.get("stats") or {}).items()
            if rel in keep
        }
        m2["stats"].update(new_stats or {})
    for carry in ("txn", "mor"):
        if man.get(carry):
            m2[carry] = man[carry]
    return m2


def _new_file_stats(
    path: str, man: dict, new_files, mapping: dict | None, stats_cols=()
) -> dict | None:
    """Footer stats of a rewrite's new files over the table's stats
    columns plus ``stats_cols``; None when neither asks for any."""
    if "stats" not in man and not stats_cols:
        return None
    cols = set(stats_cols)
    cols.update(c for per in (man.get("stats") or {}).values() for c in per)
    return _stats_logical(new_files, path, sorted(cols), mapping)


def _commit_replace(
    path: str,
    man: dict,
    token: str,
    removed=(),
    dv_set: dict | None = None,
    new_files=(),
    new_values: dict | None = None,
    stats_cols=(),
    branch: str | None = None,
    expect_bv: int | None = None,
) -> int:
    """Commit a FILE-REPLACING change to ``man``: a COW delete/update, DV
    delete/update or maintenance base rewrite (:func:`_maintain`)
    replaces ``removed`` files (and/or attaches ``dv_set``
    sidecars) with ``new_files``. The new files' stats are harvested
    once; both the first claim and the rebase build their manifest with
    :func:`_replace_files`. ``branch`` commits a single claim (no
    rebase — see :func:`_commit_dml_manifest`).

    Optimistic-concurrency rebase (r12 — Iceberg's snapshot-isolation
    validation for row-level DML): if a racing commit did NOT touch
    exactly those files — they are still referenced by the new head
    with unchanged DV state — and no table contract moved, the two
    commits are disjoint and BOTH succeed: the loser rebuilds its
    manifest on the head (racing append+delete, or two deletes on
    different files, no longer hard-fail). A shared file, a DV added by
    the competitor on a file we rewrote/masked, a schema/constraint/
    mapping/spec-relevant change, a vanished file, or a MOR head
    refuses with :class:`ConcurrentCommitError` — the verb re-runs
    against the new head. MERGE deliberately does not commit through
    here: its NOT-MATCHED inserts assumed keys absent from the WHOLE
    table, so its rebase must prove a concurrent append key-disjoint
    (the write-skew serializable-vs-snapshot distinction)."""
    new_stats = _new_file_stats(
        path, man, new_files, man.get("column_mapping"), stats_cols
    )
    touched = set(removed) | set(dv_set or {})
    base_dv = man.get("dv") or {}

    def _build(on: dict) -> dict:
        return _replace_files(
            on, removed, dv_set, new_files, new_values, new_stats
        )

    def _rebase(head: dict) -> dict:
        if head.get("mor"):
            raise ConcurrentCommitError(
                "the MOR chain moved concurrently — re-run the verb"
                if man.get("mor")
                else "table became MOR concurrently — re-run the verb"
            )
        _require_policies(head, man)
        head_files = set(head.get("files") or [])
        head_dv = head.get("dv") or {}
        for rel in touched:
            if rel not in head_files:
                raise ConcurrentCommitError(
                    f"file {rel!r} was rewritten/removed by a "
                    "concurrent commit — re-run the verb"
                )
            if head_dv.get(rel) != base_dv.get(rel):
                raise ConcurrentCommitError(
                    f"a concurrent commit changed {rel!r}'s deletion "
                    "vector — masking/rewriting it now would drop those "
                    "deletes; re-run the verb"
                )
        return _build(head)

    return _commit_dml_manifest(
        path, _build(man), token, branch, expect_bv, rebase=_rebase
    )


def _write_dv_sidecars(
    pos_df: DataFrame, path: str, token: str, probe_rels: list,
    dv_map: dict,
) -> list:
    """Distributed deletion-vector sidecar writer shared by the DV
    DELETE and DV UPDATE: one ``applyInPandas`` task per touched file
    unions the file's existing vector with the new positions and writes
    ``data/<token>/<basename>.dv`` atomically (attempt-unique temp +
    ``os.replace`` — ADVICE r7: a speculative/zombie task twin must
    never leave a torn sidecar at the referenced path). Returns the
    collected |touched-files|-row summary (fname, dv_rel, n_new)."""
    import os
    import uuid as _uuid

    import pandas as pd
    from pyspark.sql import types as T

    _register_self_by_value()
    data_dir = os.path.join(path, "data", token)
    os.makedirs(data_dir, exist_ok=True)
    old_dv_abs = {
        os.path.basename(rel): os.path.join(path, dv_map[rel])
        for rel in probe_rels
        if rel in dv_map
    }
    out_schema = T.StructType(
        [
            T.StructField("fname", T.StringType()),
            T.StructField("dv_rel", T.StringType()),
            T.StructField("n_new", T.LongType()),
        ]
    )

    def _write_dv(key, pdf):
        fname = key[0]
        new_pos = [int(p) for p in pdf["_pos"]]
        old: list[int] = []
        oldp = old_dv_abs.get(fname)
        if oldp is not None:
            with open(oldp, "rb") as fh:
                old = dv_decode(fh.read())
        rel = os.path.join("data", token, fname + ".dv")
        final = os.path.join(path, rel)
        tmp = f"{final}.{_uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "wb") as fh:
                fh.write(dv_encode(old + new_pos))
            os.replace(tmp, final)
        except BaseException:
            # ADVICE r8: failed attempts must not orphan temp files
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        return pd.DataFrame(
            {"fname": [fname], "dv_rel": [rel], "n_new": [len(new_pos)]}
        )

    return (
        pos_df.groupBy("_fname")
        .applyInPandas(_write_dv, schema=out_schema)
        .collect()
    )


def delete_where_snapshot(
    spark: SparkSession,
    path: str,
    predicate,
    compression: str = PARQUET_CODEC,
    prune: tuple | None = None,
    mode: str = "cow",
    partition_where: dict | None = None,
    point: tuple | None = None,
    branch: str | None = None,
) -> dict:
    """DELETE every row where ``predicate`` is TRUE (SQL string or
    Column; rows where it is NULL are KEPT, SQL DELETE semantics) and
    commit the result as a new version. A delete that matches nothing
    commits nothing; readers of prior versions are unaffected and
    superseded files are reclaimed by :func:`vacuum_snapshots`.

    DELETE and :func:`update_where_snapshot` run one pipeline: resolve
    the head (main, or ``branch``), scope the files, derive the row
    change (the only verb-specific step), admit it, and materialize it
    by table mode.

    Scoping is write-side FILE SKIPPING: files outside the scope are
    carried into the new version without being read. Each option is a
    caller contract, the read-side twin of :func:`read_snapshot_pruned`:
    ``prune=(col, lo, hi)`` — the predicate can only be TRUE for rows
    with ``col`` in [lo, hi], so files whose recorded [min, max] cannot
    intersect are skipped; ``partition_where`` — the predicate is FALSE
    outside the matching partitions of a hidden-partitioned table (a
    one-day delete reads one day's files); ``point=(col, values)`` — the
    predicate can only be TRUE for ``col IN values``, so files whose
    bloom sidecar (:func:`index_bloom_snapshot`) rejects every value are
    skipped. Files lacking stats, a tuple or an index entry are always
    read. On a MOR table ``prune`` and ``point`` must name a MOR key
    column (a non-key value can move between commits of one key, so
    skipping on it would resurrect a superseded row).

    Materialization by table mode:

    * copy-on-write (``mode="cow"``): one probe scan aggregates matched
      rows to their files (at most |files| rows reach the driver); it is
      DV-aware in both modes, so rows already deleted never match again
      and counts are exact. Files without a match carry untouched —
      stats, partition tuples and deletion vectors kept; files with one
      are rewritten without the doomed rows, through the hive writer on
      a partitioned table (real tuples) and under physical names on a
      column-mapped one, with fresh footer stats. A rewrite materializes
      the file's existing deletion vector.
    * deletion vectors (``mode="dv"``, Delta DV / Iceberg position
      deletes): no data file is touched. Matched positions land in
      per-file ``.dv`` sidecars, written distributed (one
      ``applyInPandas`` task per touched file unions its old vector);
      every snapshot reader anti-joins them, and OPTIMIZE, purge or any
      copy-on-write rewrite materializes them. Stats of masked files
      become upper bounds — pruning stays conservative-correct.
    * MOR tables (either ``mode``): the predicate is judged against the
      resolved latest-wins view, and the change lands as ONE delta group
      — tombstones (key, seq, op='D') for DELETE — with zero base files
      rewritten. Minor compaction folds tombstones forward still
      masking; major compaction sheds them.

    ``branch`` runs the same verb against a branch head in every mode:
    the result is the next branch commit (``version`` is then the
    branch-local number), main is untouched until :func:`fast_forward`,
    and a racing branch writer refuses. On main a racing commit on other
    files rebases (:func:`_commit_replace`); a MOR delta group derived
    from the resolved view never rebases.

    Returns ``{"version", "rows_deleted", "files_rewritten",
    "files_kept", "files_probed"}`` plus ``"dv_files_written"`` on a
    COW/DV table or ``"delta_files_written"`` on a MOR table.
    ``version`` is the unchanged head on a no-op; ``files_probed``
    counts the files in scope (base and delta files on MOR)."""
    return _where_dml(
        spark, path, predicate, None, compression, prune, mode,
        partition_where, point, branch,
    )


def update_where_snapshot(
    spark: SparkSession,
    path: str,
    assignments: dict,
    predicate,
    compression: str = PARQUET_CODEC,
    prune: tuple | None = None,
    mode: str = "cow",
    partition_where: dict | None = None,
    point: tuple | None = None,
    branch: str | None = None,
) -> dict:
    """UPDATE: set ``assignments`` (``{col: new-value Column or SQL
    string}``) on every row where ``predicate`` is TRUE and commit the
    result as a new version. SQL UPDATE semantics: rows where the
    predicate is NULL are untouched, and every right-hand side sees the
    PRE-update values (one projection over the original columns, so
    ``{"a": "b", "b": "a"}`` swaps). An assigned column must already
    exist (new columns arrive by a write commit) and keeps its committed
    type (the value is cast); the updated rows are admitted against the
    table's generated columns and CHECK constraints before any file
    lands. Partial/aggregate-merge MOR tables refuse: a full image whose
    NULL means NULL would read back as "keep the prior value".

    Scoping, branches and races follow :func:`delete_where_snapshot`.
    Materialization: copy-on-write rewrites the matching files; DV mode
    masks the matched rows' positions and APPENDS their updated images
    as new files, so no existing file is rewritten and the write costs
    O(matched rows); a MOR table appends the images as one delta group
    that outranks the old rows by commit order.

    Returns ``{"version", "rows_updated", "files_rewritten",
    "files_kept", "files_probed"}`` plus ``"dv_files_written"`` in DV
    mode or ``"delta_files_written"`` on a MOR table."""
    return _where_dml(
        spark, path, predicate, assignments, compression, prune, mode,
        partition_where, point, branch,
    )


def _dml_scope(
    spark: SparkSession,
    path: str,
    man: dict,
    verb: str,
    partition_where: dict | None = None,
    ranges=(),
    points=(),
):
    """The files a verb must read under ``man`` — the scoping step of
    DELETE/UPDATE, MERGE and the pruned reads. ``partition_where`` keeps
    the matching partitions; each ``(col, lo, hi)`` of ``ranges`` skips
    the files whose recorded [min, max] on ``col`` cannot meet [lo, hi];
    each ``(col, values)`` of ``points`` skips the files whose bloom
    sidecar rejects every value (:func:`_bloom_point_keep`: literal
    values, or a frame holding ``col``). DELETE/UPDATE pass their
    ``prune`` and ``point``, MERGE its source's key bounds and its
    pinned source keys. A file without a partition tuple, stats or an
    index entry always stays in scope, and an empty scope probes no
    bloom. On a MOR table base files and every delta group are scoped
    alike: sound because each filter is on a key column (partition spec
    sources are MOR keys; range and point columns are checked here), so
    all rows of an in-scope key live in kept files and the latest-wins
    winner over them is the true one. Returns ``(scope, n)``: the probe
    rels of a COW/DV table, or the pruned read manifest of a MOR table
    (empty groups keep their commit rank), and the number of files
    kept."""
    mor = man.get("mor")
    rels = list(man["files"]) + [
        rel for grp in (mor or {}).get("deltas", []) for rel in grp
    ]
    if partition_where is not None and man.get("partition"):
        rels = _partition_keep(man["partition"], rels, partition_where, spark)
    stats = man.get("stats") or {}
    for col, lo, hi in ranges:
        if mor and col not in mor["key_cols"]:
            raise ValueError(
                f"MOR {verb} prune column {col!r} must be a MOR key "
                f"column {mor['key_cols']} — non-key stats can't prune a "
                "chain soundly (a superseded row would resurrect as winner)"
            )
        elo, ehi = _stat_encode(lo), _stat_encode(hi)
        rels = [
            rel for rel in rels
            if (s_ := stats.get(rel, {}).get(col)) is None
            or not (s_[1] < elo or s_[0] > ehi)
        ]
    for col, values in points:
        _bloom_live_rels(man, col)  # refuses a non-key column on MOR
        if rels:
            rels = _bloom_point_keep(spark, path, man, col, values, rels)
    if not mor:
        return rels, len(rels)
    keep = set(rels)
    scoped = _chain_manifest(
        man, [rel for rel in man["files"] if rel in keep],
        [[rel for rel in grp if rel in keep] for grp in mor["deltas"]],
    )
    return scoped, len(rels)


def _where_dml(
    spark: SparkSession, path: str, predicate, assignments: dict | None,
    compression: str, prune: tuple | None, mode: str,
    partition_where: dict | None, point: tuple | None, branch: str | None,
) -> dict:
    """The one pipeline of :func:`delete_where_snapshot` (``assignments``
    None) and :func:`update_where_snapshot`: (1) resolve the head and
    check the verb against it, (2) scope the files (:func:`_dml_scope`),
    (3) derive the row change — DELETE drops the matched rows or
    tombstones them, UPDATE projects the assignments over the pre-update
    values and admits the images (:func:`_admit`) — and (4) materialize
    it by table mode: a COW rewrite (:func:`_route_rewrite` +
    :func:`_commit_replace`), DV sidecars (:func:`_write_dv_sidecars`,
    plus UPDATE's appended images), or one MOR delta group
    (:func:`_write_delta_group_routed` + :func:`_commit_group`). Every
    no-op returns the same result shape as a commit."""
    import os
    import shutil
    import uuid

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    verb = "delete" if assignments is None else "update"
    if mode not in ("cow", "dv"):
        raise ValueError(f"unknown {verb} mode {mode!r}")
    man, head_id, expect_bv = _dml_head(path, branch)
    mor = man.get("mor")
    schema = man["schema"]
    if mor:
        if assignments is not None and mor.get("merge") in (
            "partial", "aggregate"
        ):
            raise ValueError(
                "UPDATE on a partial/aggregate-merge MOR table is not "
                "supported: a full image whose NULL genuinely means NULL "
                "would read back as 'keep prior value' and resurrect "
                "older data — send partial upserts (and tombstone "
                "deletes), or compact_mor (major) to materialize first"
            )
        _check_reserved(schema, (MOR_OP_COL,))
    missing = [c for c in assignments or () if c not in schema]
    if missing:
        raise ValueError(
            f"UPDATE assigns non-existent column(s) {missing} — schema "
            "evolution happens via a write, never an UPDATE" if mor
            else f"UPDATE cannot assign non-existent columns {missing} — "
            "new columns arrive via a write commit (schema evolution), "
            "not UPDATE"
        )
    scope, n_probed = _dml_scope(
        spark, path, man, verb, partition_where,
        [prune] if prune else (), [point] if point else (),
    )
    written_key = (
        "delta_files_written" if mor
        else "dv_files_written" if mode == "dv" or assignments is None
        else None
    )

    def _result(version, rows=0, rewritten=0, written=0) -> dict:
        out = {
            "version": version,
            f"rows_{verb}d": rows,
            "files_rewritten": rewritten,
            "files_kept": len(man["files"]) - rewritten,
            "files_probed": n_probed,
        }
        if written_key:
            out[written_key] = written
        return out

    if not n_probed:  # scoping proves no file can hold a matched row
        return _result(head_id)
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    hit = F.coalesce(pred, F.lit(False))  # a NULL predicate leaves the row

    def _images(rows: DataFrame) -> DataFrame:
        # all right-hand sides over the PRE-update columns, cast to the
        # committed types
        return _admit(rows.select(*(
            F.when(hit, (
                F.expr(assignments[c]) if isinstance(assignments[c], str)
                else assignments[c]
            ).cast(t)).otherwise(F.col(c)).alias(c)
            if c in assignments else F.col(c)
            for c, t in schema.items()
        )), man, "update_where_snapshot")

    token = uuid.uuid4().hex[:12]
    if mor:
        matched = _resolve_mor(spark, path, scope).filter(hit)
        rows = (
            _images(matched) if assignments is not None
            else matched.select(
                *mor["key_cols"], F.col(mor["seq_col"]),
                F.lit(MOR_DELETE_OP).alias(MOR_OP_COL),
            )
        )
        new_files, new_values = _write_delta_group_routed(
            rows, path, man, token, compression
        )
        if not new_files:
            return _result(head_id)
        n_rows = sum(
            _pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
            for rel in new_files
        )
        version = _commit_group(
            path, {**man, "mor": {**mor, "op_col": MOR_OP_COL}}, token,
            new_files, new_values, branch=branch, expect_bv=expect_bv,
        )
        return _result(version, n_rows, written=len(new_files))
    # column-mapped tables scan logical (predicates speak logical names)
    # and write physical: a rename stays metadata-only through DML
    dv_map = man.get("dv") or {}
    mapping = man.get("column_mapping") or {}
    data, _ = _scan_with_pos(
        spark, path, scope, dv_map, mapping, _phys_schema(man)
    )
    if mode == "dv":
        matched = data.filter(hit)
        summary = _write_dv_sidecars(
            matched.select("_fname", "_pos"), path, token, scope, dv_map
        )
        if not summary:
            shutil.rmtree(
                os.path.join(path, "data", token), ignore_errors=True
            )
            return _result(head_id)
        new_files, new_values = (), None
        if assignments is not None:
            new_files, new_values = _route_rewrite(
                _images(matched), path, man, token + "u", compression,
                mapping,
            )
        rel_of = {os.path.basename(rel): rel for rel in man["files"]}
        version = _commit_replace(
            path, man, token,
            dv_set={rel_of[r["fname"]]: r["dv_rel"] for r in summary},
            new_files=new_files, new_values=new_values,
            branch=branch, expect_bv=expect_bv,
        )
        return _result(
            version, sum(r["n_new"] for r in summary), written=len(summary)
        )
    touched = {
        r["_fname"]: r["n"]
        for r in data.filter(hit).groupBy("_fname")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not touched:
        return _result(head_id)
    touched_rels = [
        rel for rel in scope if os.path.basename(rel) in touched
    ]
    # the rewrite reads through the DV-aware scan: a rewritten file's
    # deletion vector is materialized and dies with it
    rows, _ = _scan_with_pos(
        spark, path, touched_rels, dv_map, mapping, _phys_schema(man)
    )
    rows = (
        _images(rows) if assignments is not None
        else rows.filter(~hit).select(*schema)
    )
    new_files, new_values = _route_rewrite(
        rows, path, man, token, compression, mapping
    )
    version = _commit_replace(
        path, man, token, removed=touched_rels, new_files=new_files,
        new_values=new_values, branch=branch, expect_bv=expect_bv,
    )
    return _result(
        version, sum(touched.values()), rewritten=len(touched_rels)
    )


def _source_key_profile(
    source: DataFrame, key_cols: list[str]
) -> tuple[int, int, dict]:
    """ONE aggregate job over the (already pinned) MERGE source: row
    count, distinct-key count, and per-key-column [min, max]. Shared by
    both MERGE paths — replaces a duplicate-key check job plus one
    bounds job per key column (optimization guide §1.2: fewer passes;
    the source's lineage is an arbitrary caller query, so every extra
    action re-ran it). Distinctness is over a STRUCT of the key columns,
    which groups NULL keys together exactly like the groupBy the dup
    check used to run."""
    from pyspark.sql import functions as F

    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.count_distinct(F.struct(*key_cols)).alias("_nk"),
    ]
    for i, kc in enumerate(key_cols):
        aggs.append(F.min(F.col(kc)).alias(f"_lo{i}"))
        aggs.append(F.max(F.col(kc)).alias(f"_hi{i}"))
    row = source.agg(*aggs).first()
    bounds = {}
    for i, kc in enumerate(key_cols):
        if row[f"_lo{i}"] is not None:
            bounds[kc] = (row[f"_lo{i}"], row[f"_hi{i}"])
    return row["_n"], row["_nk"], bounds


def _merge_evolution_cols(
    man: dict, source: DataFrame, key_cols: list[str],
    schema_evolution: bool,
) -> dict[str, str]:
    """MERGE schema evolution (r14, r13 verdict #7 — Delta's ``WHEN NOT
    MATCHED ... withSchemaEvolution``): with ``schema_evolution=True``,
    source-only columns extend the committed schema ADDITIVELY in the
    same commit — NOT-MATCHED inserts carry their values, existing rows
    resolve as typed NULLs (the q65/q86b forced-schema discipline: kept
    files simply lack the column and the manifest schema outranks
    footers). Returns {new col: simpleString type}; empty without the
    opt-in. Refuses: reserved physical names, names whose physical
    twins are DROP tombstones (stale-byte resurrection), and all-NULL
    source columns (no inferable type — cast explicitly)."""
    if not schema_evolution:
        return {}
    schema = man.get("schema") or {}
    mapping = man.get("column_mapping") or {}
    dropped = set(man.get("dropped") or [])
    new_cols: dict[str, str] = {}
    for f in source.schema:
        c, t = f.name, f.dataType.simpleString()
        if c in schema or c in key_cols:
            continue
        if t == "void":
            raise ValueError(
                f"MERGE schema evolution cannot infer a type for "
                f"all-NULL source column {c!r} — cast it explicitly"
            )
        if mapping.get(c, c) in dropped:
            raise ValueError(
                f"MERGE schema evolution: column {c!r} reuses a DROPPED "
                "column name whose bytes still live in old files — "
                "rewrite the table before reusing the name"
            )
        new_cols[c] = t
    if new_cols:
        _check_reserved(
            new_cols, ("_fname", "_pos", "_ci", "_rn", MOR_OP_COL,
                       "_t", "_s")
        )
    return new_cols


def _insert_generated(
    out: DataFrame, gen: dict, schema: dict, cols: list[str]
) -> DataFrame:
    """MERGE's NOT-MATCHED inserts get the generated ``cols`` (``gen``:
    the table's ``{col: expr}``) that neither the source nor
    ``insert_values`` supplied computed from the inserted row's values,
    the rule an append follows. Matched rows keep their values, so an
    update that leaves one stale still refuses in :func:`_admit`.
    ``out`` flags inserted rows in ``_s``, dropped here."""
    from pyspark.sql import functions as F

    return out.withColumns({
        c: F.when(F.col("_s"), F.expr(gen[c]).cast(schema[c]))
        .otherwise(F.col(c))
        for c in cols
    }).drop("_s")


def merge_into_snapshot(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    update_set: dict | None = None,
    delete_condition=None,
    insert=True,
    insert_values: dict | None = None,
    compression: str = PARQUET_CODEC,
    txn: tuple[str, int] | None = None,
    partition_where: dict | None = None,
    schema_evolution: bool = False,
    branch: str | None = None,
) -> int:
    """SQL-style conditional MERGE INTO (Delta/Iceberg's most-used DML
    verb; :func:`merge_apply_changes`, its caller, maps an op-column
    feed onto these clauses):

    * WHEN MATCHED [AND ``delete_condition``] THEN DELETE — the
      condition may reference target columns by name and source columns
      as ``src_<col>``;
    * WHEN MATCHED THEN UPDATE SET ``update_set`` (``{target col:
      expr}``, same name scoping; omitted target columns carry);
    * WHEN NOT MATCHED [AND ``insert``] THEN INSERT (``insert=True``,
      or a condition with the same name scoping: a source row failing
      it is not inserted; values from the source's same-named columns,
      overridable per column via ``insert_values``; absent columns
      NULL, absent generated columns computed from the inserted row).

    Clause order matches the SQL standard: a matched row tests DELETE
    first, then UPDATE. Source rows must be key-unique — duplicate
    source keys make MERGE ambiguous and raise up front (the classic
    "multiple source rows matched" error), costing one aggregate over
    the SOURCE only. Every assignment and insert is cast to the
    committed column type, and clauses speak logical names on a
    column-mapped table. ``schema_evolution=True`` adds the source-only
    columns to the schema in the same commit
    (:func:`_merge_evolution_cols`): inserts carry their values,
    existing rows read them as NULL.

    MERGE runs the pipeline of :func:`delete_where_snapshot`: resolve
    the head (main, or ``branch``), scope the files, derive the row
    change, admit it, and materialize it by table mode. The source is
    pinned once; its per-key-column [min, max] and its keys scope the
    files (:func:`_dml_scope`): a file whose key stats cannot meet the
    source's key range, or whose bloom sidecar
    (:func:`index_bloom_snapshot`) rejects every source key, holds no
    matched key and is never read. ``partition_where`` scopes too,
    under a STRONGER contract than DELETE's: every source KEY must lie
    in the matching partitions, else a NOT-MATCHED insert could
    duplicate a key living in an excluded file (the fit is a
    partition-aligned merge key: per-region or per-day CDC batches).

    * copy-on-write: one DV-aware probe joins the scoped files' keys
      with the source's and rewrites only the files holding a matched
      key, in one full-outer join of the touched files with the source
      that also yields the NOT-MATCHED inserts. Every other file carries
      untouched (stats, partition tuples and DVs intact), so the cost is
      O(scoped key scan + touched data + |source|). Rewrites route
      through the hive writer on a partitioned table and write physical
      names on a column-mapped one.
    * MOR tables: the source joins the latest-wins view of the scoped
      files, and only rows a clause rewrites land, as ONE delta group
      of images and delete tombstones: no base file is rewritten and
      untouched keys keep winning from older commits. The merge must
      key on the MOR key columns; partial/aggregate-merge tables refuse
      (a full image's NULL would read back as "keep the prior value").

    A merge that matches nothing and inserts nothing commits nothing.
    ``txn`` gives at-least-once writers the manifest idempotence
    watermark: a redelivered batch returns the head. On main a racing
    commit rebases only when it provably holds no source key (key-range
    stats of the files it added, removed or masked; a racing MOR
    upsert's new groups), else :class:`ConcurrentCommitError`;
    ``branch`` stages the merge as the next branch commit, and a racing
    branch writer refuses. :func:`merge_upsert_snapshot` (and through it
    the streaming merge sink) is this verb with one latest-wins UPDATE
    SET; :func:`merge_apply_changes` adds a DELETE clause and an
    ``insert`` condition. Returns the new version (the branch-local
    number on a branch)."""
    import os
    import uuid

    from pyspark.sql import functions as F

    man, head_id, expect_bv = _dml_head(path, branch)
    mor = man.get("mor")
    if mor:
        if mor.get("merge") in ("partial", "aggregate"):
            raise ValueError(
                "MERGE INTO on a partial/aggregate-merge MOR table is not "
                "supported: a "
                "full image whose NULL genuinely means NULL would read "
                "back as 'keep prior value' and resurrect older data — "
                "send partial upserts (and tombstone deletes), or "
                "compact_mor (major) to materialize first"
            )
        _check_reserved(man["schema"], (MOR_OP_COL,))
        if mor["key_cols"] != list(key_cols):
            raise ValueError(
                f"MERGE INTO a MOR table must merge on its MOR key columns "
                f"{mor['key_cols']} (got {list(key_cols)}) — tombstones and "
                "images resolve per MOR key"
            )
    # WHEN NOT MATCHED AND <insert>: a condition (a Column or SQL text)
    insert_when = insert if isinstance(insert, (str, Column)) else None
    insert = insert_when is not None or bool(insert)
    if update_set is None and delete_condition is None and not insert:
        raise ValueError("MERGE INTO with no clauses is a no-op — pass "
                         "update_set, delete_condition, and/or insert")
    new_cols = _merge_evolution_cols(
        man, source, key_cols, schema_evolution
    )
    schema = {**man["schema"], **new_cols}
    bad = [c for c in (update_set or {}) if c not in schema]
    if bad:
        raise ValueError(
            f"UPDATE SET assigns non-existent target columns {bad}"
        )
    missing_keys = [c for c in key_cols if c not in source.columns]
    if missing_keys:
        raise ValueError(f"source lacks merge key columns {missing_keys}")
    if txn is not None and txn[1] <= (man.get("txn") or {}).get(txn[0], -1):
        return head_id  # redelivered batch: idempotent skip
    # pin the (possibly non-deterministic) source FIRST: the duplicate
    # check, key bounds, scope, join and write must all see the SAME
    # rows, and the source's lineage (an arbitrary caller query) is
    # computed once, not once per check
    source = source.localCheckpoint(eager=True)
    n_src, n_src_keys, bounds = _source_key_profile(source, key_cols)
    if n_src > n_src_keys:
        raise ValueError(
            "MERGE INTO source has duplicate keys — multiple source rows "
            "would match one target row (compact the source per key first)"
        )
    # bounds for EVERY key column: the scope uses the stats-carrying
    # ones, the key-range rebase below validates with all of them
    src_bounds = {
        kc: (_stat_encode(lo), _stat_encode(hi))
        for kc, (lo, hi) in bounds.items()
    }
    scope, n_probed = _dml_scope(
        spark, path, man, "merge", partition_where,
        [(kc, lo, hi) for kc, (lo, hi) in bounds.items()],
        [(kc, source) for kc in key_cols],
    )
    keys = source.select(*key_cols).distinct()
    mapping = man.get("column_mapping") or {}
    dv_map = man.get("dv") or {}
    touched = []
    if not mor and scope:
        # PROBE: which scoped files hold a source key — at most |files|
        # rows reach the driver
        data, _ = _scan_with_pos(
            spark, path, scope, dv_map, mapping, _phys_schema(man)
        )
        hit = {
            r["_fname"] for r in data.select("_fname", *key_cols)
            .join(keys, key_cols).select("_fname").distinct().collect()
        }
        touched = [
            rel for rel in man["files"] if os.path.basename(rel) in hit
        ]
    if not mor and not touched and (not insert or n_src == 0):
        return head_id  # nothing matched, nothing to insert: no-op
    if mor and n_probed:
        # only matched keys can contribute delta rows: shrink the
        # resolved view to the source's keys before the clause join
        tgt = _resolve_mor(spark, path, scope).join(
            keys, key_cols, "left_semi"
        )
    elif touched:
        tdata, tcols = _scan_with_pos(
            spark, path, touched, dv_map, mapping, _phys_schema(man)
        )
        tgt = tdata.select(*tcols)
    else:  # no file can hold a matched key
        tgt = local_frame(spark, [], StructType.fromDDL(_schema_ddl(schema)))
    src = source.withColumnsRenamed(
        {c: f"src_{c}" for c in source.columns if c not in key_cols}
    )
    j = (
        tgt.withColumn("_t", F.lit(True))
        .join(src.withColumn("_s", F.lit(True)), key_cols, "full_outer")
    )

    def _expr(v):
        return F.expr(v) if isinstance(v, str) else v

    if insert_when is not None:  # a source-only row failing it is dropped
        j = j.filter(
            F.col("_t").isNotNull()
            | F.coalesce(_expr(insert_when), F.lit(False))
        )
    matched = F.col("_t").isNotNull() & F.col("_s").isNotNull()
    s_only = F.col("_t").isNull() & F.col("_s").isNotNull()
    doomed = F.lit(False)
    if delete_condition is not None:
        doomed = matched & F.coalesce(_expr(delete_condition), F.lit(False))
    if mor:
        # a row lands only when a clause REWRITES it (doomed rows as
        # tombstones): untouched keys ride the older commits for free
        emit = doomed
        if insert:
            emit = emit | s_only
        if update_set:
            emit = emit | matched
        j = j.filter(emit)
    else:  # the touched files' other rows carry, doomed rows go
        j = j.filter(~doomed if insert else ~doomed & ~s_only)
    src_names = set(src.columns)
    out_cols, derive = [], []
    gen = man.get("generated") or {}
    for c, t in schema.items():
        # cast EVERYTHING to the committed type — key columns included:
        # the full-outer join coerces a key to the WIDER of target and
        # source types, and an uncast write would land files whose
        # physical type contradicts the manifest schema (a lossy source
        # key is the caller's contract breach, like every cast here).
        # A schema-evolution column is absent from every target row.
        val = F.lit(None).cast(t) if c in new_cols else F.col(c).cast(t)
        if update_set and c in update_set:
            val = F.when(
                matched & ~doomed, _expr(update_set[c]).cast(t)
            ).otherwise(val)
        if insert:
            if insert_values and c in insert_values:
                ins = _expr(insert_values[c]).cast(t)
            elif c in key_cols:
                ins = F.col(c).cast(t)
            elif f"src_{c}" in src_names:
                ins = F.col(f"src_{c}").cast(t)
            else:
                ins = F.lit(None).cast(t)
                if c in gen:
                    derive.append(c)
            val = F.when(s_only, ins).otherwise(val)
        if mor and c not in key_cols and c != mor["seq_col"]:
            # tombstones carry keys + seq only; masked columns NULL
            val = F.when(doomed, F.lit(None).cast(t)).otherwise(val)
        out_cols.append(val.alias(c))
    op = [
        F.when(doomed, F.lit(MOR_DELETE_OP))
        .otherwise(F.lit(None).cast("string")).alias(MOR_OP_COL)
    ] if mor else []
    out = _insert_generated(
        j.select(*out_cols, *op, s_only.alias("_s")), gen, schema, derive
    )
    evolved = {**man, "schema": schema}
    if not mor:
        out = _admit(out, evolved, "merge_into_snapshot")
    elif gen or man.get("constraints"):
        # only images are admitted: tombstones carry keys + seq only
        out = _admit(
            out.filter(F.col(MOR_OP_COL).isNull()).drop(MOR_OP_COL),
            evolved, "merge_into_snapshot",
        ).withColumn(MOR_OP_COL, F.lit(None).cast("string")).unionByName(
            out.filter(F.col(MOR_OP_COL) == MOR_DELETE_OP)
        )
    token = uuid.uuid4().hex[:12]
    if mor:
        new_files, new_values = _write_delta_group_routed(
            out, path, man, token, compression
        )
        if not new_files:
            return head_id  # matched nothing, inserted nothing

        def _key_disjoint(head: dict) -> None:
            """Key-range-validated MOR rebase: a racing delta UPSERT
            whose groups' key stats provably cannot contain any source
            key leaves this merge's matched set and images intact — the
            group re-appends onto the winner's chain and both succeed
            (N streaming CDC writers stop serializing by retry).
            Anything else refuses."""
            if head.get("dv"):
                raise ConcurrentCommitError(
                    "deletion vectors appeared concurrently — re-run"
                )
            if (head.get("schema") or None) != (man.get("schema") or None):
                raise ConcurrentCommitError(
                    "table schema changed concurrently — re-run the merge"
                )
            prefix = mor["deltas"]
            if head["mor"]["deltas"][: len(prefix)] != prefix:
                raise ConcurrentCommitError(
                    "delta chain was rewritten concurrently (minor "
                    "compaction?) — re-run the merge"
                )
            racing = [
                rel for grp in head["mor"]["deltas"][len(prefix):]
                for rel in grp
            ]
            _require_key_disjoint(
                racing, head.get("stats") or {}, mor["key_cols"],
                src_bounds, "MOR MERGE rebase", path,
            )

        return _commit_group(
            path, {**evolved, "mor": {**mor, "op_col": MOR_OP_COL}},
            token, new_files, new_values, txn=txn, on_race=_key_disjoint,
            branch=branch, expect_bv=expect_bv,
        )
    new_files, new_values = _route_rewrite(
        out, path, man, token, compression, mapping
    )
    new_stats = _new_file_stats(path, man, new_files, mapping)

    def _build(on: dict) -> dict:
        # the EVOLVED schema commits, with this batch's txn watermark
        marks = dict(on.get("txn") or {})
        if txn is not None:
            marks[txn[0]] = txn[1]
        return _replace_files(
            {**on, "schema": schema, "txn": marks}, removed=touched,
            new_files=new_files, new_values=new_values, new_stats=new_stats,
        )

    def _rebase(head: dict) -> dict:
        """Key-range-validated COW rebase (Iceberg's validation admits
        concurrent appends and deletes): a competing commit whose
        added, removed or DV-masked files provably cannot contain any
        source key leaves the matched set, the touched/kept split and
        the NOT-MATCHED decisions intact — build on its head and both
        commits succeed. Anything else (a probed file removed or
        masked, a vanished DV, policy or spec drift, overlapping or
        stats-less files) refuses."""
        if head.get("mor"):
            raise ConcurrentCommitError(
                "table became MOR concurrently — re-run the merge"
            )
        _require_policies(head, man)
        man_files = set(man["files"])
        head_files = list(head.get("files") or [])
        head_set = set(head_files)
        touched_set = set(touched)
        removed = [f for f in man["files"] if f not in head_set]
        if any(f in touched_set for f in removed):
            # (1) a probed file was removed/rewritten: this merge's
            # rewrite of it would resurrect the competitor's deleted
            # rows (or duplicate its rewrite) — never admissible
            raise ConcurrentCommitError(
                "a concurrent commit removed/rewrote a file this merge "
                "probed — the matched pre-images are stale; re-run the "
                "merge against the new head"
            )
        if removed:
            # (2) removed KEPT files: harmless iff their key ranges are
            # provably disjoint from the source (a pruned probe may not
            # have scanned every kept file, so 'kept' alone does not
            # prove source-key absence)
            _require_key_disjoint(
                removed, man.get("stats") or {}, key_cols, src_bounds,
                "MERGE rebase (concurrently removed files)", path,
            )
        hdv = head.get("dv") or {}
        for rel in sorted(set(hdv) | set(dv_map)):
            if hdv.get(rel) == dv_map.get(rel):
                continue
            if rel in touched_set:
                raise ConcurrentCommitError(
                    "deletion vectors moved on a file this merge probed "
                    "— the matched pre-images are stale; re-run the "
                    "merge against the new head"
                )
            if rel not in head_set:
                continue  # file itself removed: judged by gate (2)
            if rel in dv_map and rel not in hdv:
                raise ConcurrentCommitError(
                    "a deletion vector vanished concurrently (restore/"
                    "purge) — re-run the merge against the new head"
                )
            # (3) new/grown DV on a kept file: the masked rows live in
            # that file — admit only when it provably holds no source key
            _require_key_disjoint(
                [rel], man.get("stats") or {}, key_cols, src_bounds,
                "MERGE rebase (concurrent DV growth)", path,
            )
        added = [f for f in head_files if f not in man_files]
        _require_key_disjoint(
            added, head.get("stats") or {}, key_cols, src_bounds,
            "MERGE rebase", path,
        )
        # the gates admitted the head's file set and DV state: build on it
        return _build(head)

    return _commit_dml_manifest(
        path, _build(man), token, branch, expect_bv, rebase=_rebase
    )


def _dv_count(dv_abs: str) -> int:
    """Deleted-position count of a DV sidecar, from the header alone
    (magic + one varint) — no full decode, no position list in memory."""
    with open(dv_abs, "rb") as fh:
        head = fh.read(14)  # magic + worst-case 10-byte varint
    if head[:4] != DV_MAGIC:
        raise ValueError("bad deletion-vector magic")
    acc = shift = 0
    for b in head[4:]:
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc
        shift += 7
    raise ValueError("truncated deletion-vector header")


def purge_deletion_vectors(
    spark: SparkSession,
    path: str,
    min_density: float = 0.0,
    compression: str = PARQUET_CODEC,
) -> dict:
    """REORG … APPLY (PURGE): the merge-on-read MAINTENANCE verb.

    DV deletes (``delete_where_snapshot(..., mode="dv")``) are O(matched
    rows) at write time but tax EVERY subsequent read with the anti-join,
    and the tax grows with vector density. This verb pays the debt down:
    every data file whose deletion vector covers **more than**
    ``min_density`` of its rows is rewritten WITHOUT its deleted rows
    (one Spark job for all victims together — purge doubles as
    compaction of the rewritten set) and its sidecar is dropped from the
    manifest; files below the bar keep their vectors, files without
    vectors carry forward untouched. ``min_density=0.0`` (default)
    materializes every vector — the full REORG.

    The decision inputs are metadata-only: vector cardinality from the
    sidecar HEADER (:func:`_dv_count` — the position list is never
    decoded on the driver) and row counts from parquet footers, a
    per-file metadata read on the driver exactly like the layer's other
    manifest verbs (manifests are driver-scale by design; the row data
    of victims is read and rewritten distributed).

    Returns ``{"version", "files_purged", "files_kept", "dvs_kept",
    "rows_materialized"}`` — ``version`` is the pre-existing latest when
    nothing crossed the bar (no empty commits), ``rows_materialized``
    counts deleted rows physically dropped. Prior versions stay
    readable; superseded files and sidecars are reclaimed by
    :func:`vacuum_snapshots`."""
    import os

    import pyarrow.parquet as pq

    man, head, _ = _dml_head(path, None)
    dv_map = man.get("dv") or {}
    victims: list[str] = []
    n_del = 0
    for rel, dv_rel in sorted(dv_map.items()):
        n = _dv_count(os.path.join(path, dv_rel))
        n_rows = pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
        if n_rows == 0 or n / n_rows >= min_density:
            victims.append(rel)
            n_del += n
    return _maintain(
        spark, path, man, head, victims, ("files_purged", None),
        compression=compression,
        extra=lambda n, _: {
            "dvs_kept": len(dv_map) - n,
            "rows_materialized": n_del if n else 0,
        },
    )


# ---------------------------------------------------------------------------
# Merge-on-read UPSERTS — delta files + latest-wins resolution (the
# Hudi-MOR / Paimon-LSM idea on this layer's manifests; the UPDATE-side
# twin of deletion vectors: DVs make deletes O(matched), these make
# upserts O(changes))
# ---------------------------------------------------------------------------


# Delete-capable MOR chains (r13): delta rows may carry this physical
# column; a winning MOR_DELETE_OP row masks its key from the resolved
# view. Declared per table in the manifest's mor block as "op_col" the
# first time a MOR DELETE/MERGE lands (upsert groups never carry it and
# project it as NULL). Hudi's _hoodie delete marker / Delta CDF 'D'.
MOR_OP_COL = "_mor_op"
MOR_DELETE_OP = "D"


def upsert_delta_snapshot(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    compression: str = PARQUET_CODEC,
    txn: tuple[str, int] | None = None,
    branch: str | None = None,
    merge_mode: str = "latest",
    agg_spec: dict | None = None,
) -> int:
    """MERGE-ON-READ upsert: ``changes`` lands as DELTA FILES — no base
    file is read, let alone rewritten, so the write costs O(changes)
    regardless of table size (vs :func:`merge_upsert_snapshot`, which
    reads the files holding a changed key and rewrites them — latest-wins
    by seq, where this resolves by commit order). The manifest
    accumulates the delta
    chain in commit order; every snapshot reader resolves LATEST-WINS
    per key at read time (newer delta commit beats older beats base;
    ``seq_col`` breaks ties within one commit — the caller contract is
    (key, seq) unique per commit, the same contract CDC feeds satisfy).
    :func:`compact_mor` is the major compaction that folds the chain
    back into clean base files when the read tax outgrows it.

    Key/seq columns are fixed by the first delta commit; DV tables must
    purge before switching to MOR (one read-path merge mechanism at a
    time — stacking them would make every read reason about both).
    ``txn=(app_id, batch_id)`` gives at-least-once writers the same
    idempotence watermark as :func:`write_snapshot` — a redelivered
    micro-batch's delta is SKIPPED before any file is written, so a
    streaming CDC upsert sink is exactly-once with the manifest
    hard-link as the only commit point. ``branch`` (r14): stage the
    delta group on a BRANCH chain instead of main — the
    write-audit-publish flow for streaming CDC (audit the staged chain
    with :func:`read_branch`, publish with :func:`fast_forward`, whose
    txn merge keeps the staged watermarks); returns the branch-local
    commit number, racing branch writers refuse. Returns the new
    version; prior versions stay readable with exactly the delta
    prefix they committed.

    ``merge_mode="partial"`` (r14 — Paimon partial-update / Hudi
    PARTIAL_UPDATE payload): delta rows patch ONLY their non-NULL
    columns; NULL means "keep the prior value". The mode is a TABLE
    property fixed at the first delta commit. The documented trade:
    explicit null-out is impossible (delete + re-upsert instead — a
    tombstone RESETS the key, so later patches start from nothing);
    UPDATE/MERGE DML refuse on partial tables (a full image whose NULL
    really meant NULL would resurrect older values) — delete works,
    and compact_mor major materializes the merged view.

    ``merge_mode="aggregate"`` (Paimon's aggregation merge engine):
    each column folds by ``agg_spec[col]`` — ``sum`` (delta rows carry
    INCREMENTS; declare the column wide enough, the fold casts back to
    the committed type), ``max``, ``min``, or ``last`` (the partial
    behavior; also the default for unspecified columns) — with base
    rows as the initial accumulator. The spec is immutable alongside
    the mode; the same walls apply, and a tombstone RESETS the
    accumulator."""
    import uuid

    man, head_id, expect_bv = _dml_head(path, branch)
    if man.get("dv"):
        raise ValueError(
            "MOR deltas and deletion vectors cannot mix — "
            "purge_deletion_vectors first"
        )
    # r13 (r12 verdict #3): column-mapped, widened and dropped-column
    # tables take delta commits natively — changes arrive LOGICAL and
    # write PHYSICAL (the table's one physical schema spans base and
    # every group); _resolve_mor projects per group and casts to the
    # committed (wide) type, so narrow old files and wide new deltas
    # coexist without forced schemas.
    mapping = dict(man.get("column_mapping") or {})
    prev_txn = man.get("txn") or {}
    if txn is not None and txn[1] <= prev_txn.get(txn[0], -1):
        return head_id  # redelivered batch: idempotent skip
    changes = _admit(changes, man, "upsert_delta_snapshot")
    new_schema = {f.name: f.dataType.simpleString() for f in changes.schema}
    _check_reserved(new_schema, ("_ci", "_rn", MOR_OP_COL))
    old_schema = man["schema"]
    drift = {
        c: (old_schema[c], new_schema[c])
        for c in new_schema
        if c in old_schema and new_schema[c] != old_schema[c]
    }
    if drift:
        raise ValueError(
            "delta upsert cannot change committed column types "
            f"({drift}) — non-additive drift evolves via an overwrite "
            "commit, never a delta"
        )
    if merge_mode not in ("latest", "partial", "aggregate"):
        raise ValueError(f"unknown merge_mode {merge_mode!r}")
    if merge_mode == "aggregate":
        if not agg_spec:
            raise ValueError(
                "merge_mode='aggregate' needs agg_spec={column: "
                "'sum'|'max'|'min'|'last'}"
            )
        bad_fn = {c: f for c, f in agg_spec.items()
                  if f not in ("sum", "max", "min", "last")}
        if bad_fn:
            raise ValueError(
                f"unknown aggregate functions {bad_fn} — supported: "
                "sum, max, min, last"
            )
        bad_col = sorted(
            c for c in agg_spec
            if c in key_cols or c == seq_col
        )
        if bad_col:
            raise ValueError(
                f"agg_spec cannot target key/seq columns {bad_col}"
            )
    elif agg_spec:
        raise ValueError("agg_spec only applies to merge_mode='aggregate'")
    mor = man.get("mor") or {
        "key_cols": list(key_cols),
        "seq_col": seq_col,
        "deltas": [],
        **({"merge": merge_mode} if merge_mode != "latest" else {}),
        **({"aggs": dict(agg_spec)} if merge_mode == "aggregate" else {}),
    }
    if mor["key_cols"] != list(key_cols) or mor["seq_col"] != seq_col:
        raise ValueError(
            f"MOR key/seq fixed at first upsert: "
            f"({mor['key_cols']}, {mor['seq_col']!r})"
        )
    if mor.get("merge", "latest") != merge_mode:
        # r14 partial-update / aggregation modes (Paimon merge
        # engines, Hudi PARTIAL_UPDATE): the merge engine is a TABLE
        # property fixed at the first delta commit — mixing per-commit
        # semantics would make every read's meaning depend on which
        # commit a value arrived in
        raise ValueError(
            f"MOR merge mode fixed at first upsert: table is "
            f"{mor.get('merge', 'latest')!r}, commit asked for "
            f"{merge_mode!r}"
        )
    if (
        merge_mode == "aggregate"
        and agg_spec is not None
        and dict(mor.get("aggs") or {}) != dict(agg_spec)
    ):
        raise ValueError(
            f"aggregate spec fixed at first upsert: table folds "
            f"{mor.get('aggs')}, commit asked for {dict(agg_spec)}"
        )
    required = list(mor["key_cols"]) + [mor["seq_col"]]
    absent = [c for c in required if c not in new_schema]
    if absent:
        raise ValueError(
            f"delta upsert changes must carry key/seq columns {absent}"
        )
    # Additive evolution both ways (the q65 footer-union contract):
    # columns new in `changes` extend the committed schema in arrival
    # order; committed columns absent from `changes` resolve as typed
    # NULLs for this delta's rows (_resolve_mor projects per group).
    merged_schema = dict(old_schema)
    for c, t in new_schema.items():
        if c not in merged_schema:
            merged_schema[c] = t
    dropped = set(man.get("dropped") or [])
    reborn = sorted(
        c for c in new_schema
        if c not in old_schema and mapping.get(c, c) in dropped
    )
    if reborn:
        raise ValueError(
            f"delta columns {reborn} reuse DROPPED column names whose "
            "bytes still live in old files — rewrite the table "
            "(compact_mor) before reusing the name"
        )
    token = uuid.uuid4().hex[:12]
    part = man.get("partition")
    if part and part.get("specs"):
        # r14 (r13 verdict #2 — hidden partitioning on MOR): delta
        # groups route through the hive writer under the CURRENT spec,
        # so chain files carry REAL partition tuples — the partitioned
        # read prunes base AND chain before the latest-wins window, and
        # the change feed admits MOR groups exactly by tuple.
        # SOUNDNESS RULE: spec sources must be MOR KEY columns — a
        # key's partition tuple is then constant across every commit of
        # that key (the read_snapshot_pruned key-column argument), so
        # per-partition resolution equals global resolution restricted
        # to the partition. Hudi's record-key/partition-path contract.
        spec = part["specs"][part["current"]]
        bad_spec = sorted(
            t["col"] for t in spec if t["col"] not in mor["key_cols"]
        )
        if bad_spec:
            raise ValueError(
                f"MOR delta on a table partitioned by non-key columns "
                f"{bad_spec} (keys: {mor['key_cols']}) — a non-key "
                "partition value can change between commits of one key, "
                "so partition-pruned resolution would resurrect "
                "superseded rows. evolve_partition_spec to key-column "
                "transforms, or overwrite (write_snapshot) to shed the "
                "layout first"
            )
    # mapped tables: the delta's files share the table's ONE physical
    # schema — written physical, logical everywhere else
    new_files, new_values = _write_delta_group_routed(
        changes, path, man, token, compression
    )
    if not new_files:
        # ADVICE r7: an empty micro-batch must not commit an empty delta
        # group — _resolve_mor's read of a zero-path group would brick
        # every later read. No-op the data side; a txn watermark still
        # advances (idempotence must survive empty batches) via a
        # manifest commit that adds NO delta group.
        if txn is None:
            return head_id
        manifest = {k: man[k] for k in man}
        manifest["txn"] = dict(prev_txn)
        manifest["txn"][txn[0]] = txn[1]
        return _commit_dml_manifest(path, manifest, token, branch, expect_bv)

    def _same_types(head: dict) -> None:
        """Racing MOR writers (r12): a delta commit is append-shaped —
        two streaming CDC sinks landing simultaneously are DISJOINT as
        long as the table's base/keys/contracts didn't move; the loser
        re-appends its delta group onto the winner's chain and both
        succeed (at N streaming writers a hard failure per race is a
        liveness bug, the r11 verdict's exact concern). Latest-wins
        stays correct: the two groups' commit ordinals reflect link
        order, and within-key ordering across concurrent batches is the
        seq column's job — the same contract sequential commits have.
        Additive evolution on either side merges; a retyped column
        refuses."""
        for c, t in (head.get("schema") or {}).items():
            if c in new_schema and new_schema[c] != t:
                raise ConcurrentCommitError(
                    f"concurrent schema evolution: column {c!r} is now "
                    f"{t}, this delta has {new_schema[c]!r}"
                )

    # r9 (VERDICT r8 "Next round" #3): a stats-carrying table keeps its
    # skipping ability THROUGH delta commits — the new delta files get
    # footer min/max over the same column set, so read_snapshot_pruned
    # prunes base and chain independently on key columns
    return _commit_group(
        path, {**man, "schema": merged_schema, "mor": mor}, token,
        new_files, new_values, txn=txn, on_race=_same_types,
        branch=branch, expect_bv=expect_bv,
    )


def _resolve_mor(
    spark: SparkSession, path: str, manifest: dict,
    keep_tombstones: bool = False, base: DataFrame | None = None,
) -> DataFrame:
    """Latest-wins resolution of a MOR manifest: base rows rank commit 0,
    each delta group its commit index; one key-partitioned window picks
    (commit DESC, seq DESC) per key. On a layout bucketed by the key the
    window plans with zero extra Exchange; the delta chain length — not
    the table size — is what grows the read tax, which is what
    :func:`compact_mor` resets.

    DELETE-capable chains (r13 — Hudi delete-marker / Delta CDF 'D'
    semantics): when the mor block declares ``op_col``, delta rows may
    carry that physical column with :data:`MOR_DELETE_OP` tombstones
    (written by the MOR DELETE/MERGE verbs; upsert groups simply lack
    the column and project it as NULL). A key whose WINNING row is a
    tombstone is masked from the resolved view — unless
    ``keep_tombstones=True`` (the minor-compaction fold, which must
    keep tombstones masking base rows), where the op column stays in
    the output.

    ``base`` is a resolved frame in logical names (an earlier version's
    image of some keys) that ranks as commit 0 next to the manifest's
    base files: resolving it under a manifest of only the delta groups
    that followed gives those keys' image after the groups, under every
    merge engine (:func:`version_delta`'s MOR kind)."""
    import os

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    mor = manifest["mor"]
    schema = manifest["schema"]  # manifest dict preserves column order
    cols = list(schema)
    _check_reserved(cols, ("_ci", "_rn"))
    op = mor.get("op_col")
    proj_cols = cols + ([op] if op else [])
    proj_types = {**schema, **({op: "string"} if op else {})}
    # mapped tables (r13): every commit group shares the table's ONE
    # physical schema — read physical, emit logical. The cast makes
    # widened columns resolve too: narrow old groups upcast to the
    # committed type, no forced read schema needed (each group's files
    # come from one commit, so per-group inference is consistent).
    mapping = manifest.get("column_mapping") or {}
    phys_of = {c: mapping.get(c, c) for c in cols}
    if op:
        phys_of[op] = op  # internal column, never mapped

    def _proj(df, name_of):
        # Additive schema evolution: a commit written before a column
        # existed (base or early delta) projects it as a typed NULL, the
        # same union contract snapshot_changes and q65 pin.
        have = set(df.columns)
        return df.select(
            *(
                F.col(name_of[c]).cast(proj_types[c]).alias(c)
                if name_of[c] in have
                else F.lit(None).cast(proj_types[c]).alias(c)
                for c in proj_cols
            )
        )

    # commit index preserves COMMIT ORDER even when a group is empty —
    # read_snapshot_pruned may hand us a manifest whose base or delta
    # groups were file-pruned down to nothing; an empty group contributes
    # no rows but must not shift later commits' rank.
    #
    # Every group read FORCES the committed physical schema instead of
    # inferring from footers (guide §6; the Iceberg/Delta read-path
    # contract — the manifest, not a sampled footer, is the schema
    # truth). Same semantics as the per-group inference + _proj null
    # fill it replaces: columns absent from a group's files null-fill,
    # narrow files upcast in the vectorized scan (the _scan_with_pos
    # force path's existing contract), extra (dropped) columns are
    # never projected. The win is structural: schema inference launches
    # one single-task Spark job per spark.read.parquet call, so every
    # resolve of an N-group chain paid N+1 scheduler round-trips before
    # reading a single data page — at 100 TB chain lengths of hundreds
    # that is a real driver stall per read, locally it was ~40% of the
    # job count of every MOR verb (measured: q86f 48 -> 29 jobs).
    group_ddl = _schema_ddl({phys_of[c]: proj_types[c] for c in proj_cols})
    u = None
    if base is not None:
        u = _proj(base, {c: c for c in proj_cols}).withColumn("_ci", F.lit(0))
    for i, grp in enumerate([manifest["files"]] + list(mor["deltas"])):
        if not grp:
            continue
        part = _proj(
            spark.read.schema(group_ddl).parquet(
                *(os.path.join(path, rel) for rel in grp)
            ),
            phys_of,
        ).withColumn("_ci", F.lit(i))
        u = part if u is None else u.unionByName(part)
    if u is None:
        raise ValueError("MOR manifest resolves zero commit groups")
    if mor.get("merge") in ("partial", "aggregate"):
        # Paimon partial-update / aggregation merge engines, Hudi
        # PARTIAL_UPDATE payload (r14): a delta row patches ONLY its
        # non-NULL columns. Under "partial" every column takes its
        # NEWEST non-NULL value; under "aggregate" each column folds by
        # its declared function over the chain (sum/max/min; "last" =
        # the partial behavior; base rows are the initial accumulator).
        # NULL means "contributes nothing" — the documented trade of
        # every such engine: explicit null-out is impossible — deletes
        # go through tombstones, which also RESET the key: rows newer
        # than the newest tombstone start from nothing, so a deleted
        # key's old values can never resurrect (or keep accumulating).
        # One pass, two windows: a cumulative tombstone count in
        # newest-first order marks the eligible suffix, then per column
        # a window fold over the full frame — no self-join, no
        # per-column shuffle; the key-partitioned exchange is shared.
        if keep_tombstones:
            raise ValueError(
                f"{mor['merge']}-merge chains cannot fold minor over "
                "tombstones — a fold collapses commit ranks, and "
                "resolution needs them to order contributions against "
                "tombstones (compact_mor major materializes instead)"
            )
        keys, seq = mor["key_cols"], mor["seq_col"]
        aggs = mor.get("aggs") or {}
        # eqNullSafe: upsert rows carry a NULL op — a plain == would
        # make the cumulative sum NULL for every key with no tombstone
        # at all, silently dropping the whole key
        is_tomb = (
            F.col(op).eqNullSafe(MOR_DELETE_OP) if op else F.lit(False)
        )
        w_desc = W.partitionBy(*keys).orderBy(
            F.col("_ci").desc(), F.col(seq).desc()
        )
        full = w_desc.rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
        flagged = u.withColumn(
            "_el",
            F.sum(is_tomb.cast("int")).over(
                w_desc.rowsBetween(W.unboundedPreceding, W.currentRow)
            ) == 0,
        )
        val_cols = [c for c in cols if c not in keys and c != seq]

        def _fold(c):
            v = F.when(F.col("_el"), F.col(c))
            fn = aggs.get(c, "last")
            if fn == "sum":
                # sum widens (int -> bigint): cast back to the
                # committed type — declare the column wide enough
                return F.sum(v).over(full).cast(proj_types[c])
            if fn == "max":
                return F.max(v).over(full)
            if fn == "min":
                return F.min(v).over(full)
            return F.first(v, ignorenulls=True).over(full)

        merged = flagged.select(
            *keys,
            F.col(seq),
            F.col("_el"),
            F.row_number().over(
                W.partitionBy(*keys).orderBy(
                    F.col("_el").desc(),
                    F.col("_ci").desc(),
                    F.col(seq).desc(),
                )
            ).alias("_rn"),
            *(_fold(c).alias(c) for c in val_cols),
        )
        return merged.filter(
            (F.col("_rn") == 1) & F.col("_el")
        ).select(*cols)
    w = W.partitionBy(*mor["key_cols"]).orderBy(
        F.col("_ci").desc(), F.col(mor["seq_col"]).desc()
    )
    out = (
        u.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_ci")
    )
    if op and not keep_tombstones:
        out = out.filter(
            F.col(op).isNull() | (F.col(op) != MOR_DELETE_OP)
        ).drop(op)
    return out


def compact_mor(spark: SparkSession, path: str,
                compression: str = PARQUET_CODEC,
                minor: bool = False,
                cluster_by: list[str] | None = None,
                n_shards: int = 8) -> int:
    """COMPACTION of a MOR table. Default (major): resolve latest-wins
    ONCE over every base and delta file and commit the result as a plain
    manifest — the delta chain is gone, reads are clean scans again,
    per-file stats are recomputed when the table carries them, and a
    hidden-partitioned table's files come out with real tuples. No-op
    (no new version) on a table without deltas. Prior delta-chain
    versions stay time-travelable until vacuumed.

    ``minor=True`` (r9, VERDICT r8 "Next round" #5): fold the DELTA CHAIN
    ONLY into a single delta group — latest-wins among deltas, one row
    per key — leaving every base file untouched on disk and in the
    manifest. This bounds the read tax between majors at O(base + |live
    delta keys|) instead of O(base + chain length × batch), and costs
    O(chain) instead of the major's O(table): the daily valve for a
    100 TB table whose base rewrite is a weekend job. Correctness is
    order-preserving: the fold ranks delta commits exactly as
    ``_resolve_mor`` does, and the folded group (one row per key) beats
    base per key just as any delta row did; a winning tombstone
    survives the fold, since it still masks base rows the fold never
    reads. No-op when the chain is already ≤ 1 group.

    ``cluster_by`` (r14, major only): the materialized base goes out
    Z-order-clustered on the given columns with per-file stats for
    them — the weekend major compaction is exactly when a 100 TB MOR
    table can afford to fix its layout, so the rewrite it already pays
    buys read-side file skipping too. Minor refuses ``cluster_by``:
    a chain fold rewrites no base file, so there is nothing to
    cluster. Either fold refuses a racing commit (the MOR chain it read
    moved)."""
    man, head, _ = _dml_head(path, None)
    mor = man.get("mor")
    if mor and minor and cluster_by:
        raise ValueError(
            "cluster_by is a MAJOR compaction option — a minor fold "
            "rewrites no base file, so there is nothing to cluster"
        )
    if not mor or (minor and len(mor["deltas"]) <= 1):
        base, groups = [], None
    else:
        base, groups = ([] if minor else man["files"]), mor["deltas"]
    return _maintain(
        spark, path, man, head, base, groups=groups, minor=minor,
        compression=compression,
        cluster=(cluster_by, n_shards) if cluster_by else None,
        stats_cols=cluster_by or (),
    )["version"]


def _write_delta_group(
    df: DataFrame, path: str, token: str, compression: str
) -> list:
    """Write one MOR delta group's files and return their relpaths.
    Spark writes a schema-only part file even for an empty frame, so
    emptiness is decided from FOOTER row counts (one metadata read per
    file, no data pages): zero-row part files are dropped, and a group
    with no surviving file removes its directory."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as _pq

    data_dir = os.path.join(path, "data", token)
    (df.write.mode("error").option("compression", compression)
     .parquet(data_dir))
    files = sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
        if _pq.ParquetFile(p).metadata.num_rows > 0
    )
    if not files:
        shutil.rmtree(data_dir, ignore_errors=True)
    return files


def _write_delta_group_routed(
    df_logical: DataFrame, path: str, man: dict, token: str,
    compression: str, max_records_per_file: int | None = None,
) -> tuple[list, dict | None]:
    """Land one MOR delta group and return ``(relpaths, {rel: [sid,
    tuple]} | None)`` — the delta-chain twin of :func:`_route_rewrite`
    (r14): on a hidden-partitioned MOR table the group's rows route
    through the hive writer under the CURRENT spec, so delta files come
    out with REAL partition tuples and both the partitioned read's
    pruning and the change feed's exact tuple admission hold for the
    chain, not just the base. ``df_logical`` speaks logical names; a
    mapped table's physical rename happens at write. Tombstone rows
    carry the MOR key columns, and a MOR table's spec sources are key
    columns only (enforced at spec attach), so every delta row — image
    or tombstone — transforms to a real tuple. Defensive fallback: a
    spec column absent from the frame (a legacy non-key spec) degrades
    to the plain untupled write — pruning degrades, never lies. A group
    with no surviving file leaves no directory behind.
    ``max_records_per_file`` caps the hive writer's files (a
    partition-scoped fold's target size)."""
    import os

    import pyarrow.parquet as _pq

    mapping = man.get("column_mapping") or {}
    part = man.get("partition")
    have = set(df_logical.columns)
    if part and part.get("specs"):
        spec = part["specs"][part["current"]]
        if all(t["col"] in have for t in spec):
            dtypes = {
                f.name: f.dataType.simpleString()
                for f in df_logical.schema
            }
            files, values = _write_partitioned_files(
                df_logical, path, spec, part["current"], dtypes,
                compression, mapping or None, max_records_per_file,
            )
            keep = [
                r for r in files
                if _pq.ParquetFile(
                    os.path.join(path, r)
                ).metadata.num_rows > 0
            ]
            return keep, {r: values[r] for r in keep}
    out = (
        df_logical.withColumnsRenamed(mapping) if mapping else df_logical
    )
    return _write_delta_group(out, path, token, compression), None


def _carry_partition_mor(
    man: dict, manifest: dict, new_files: list,
    new_values: dict | None = None,
) -> None:
    """Carry a partition block through a DELTA-GROUP commit: every live
    rel (base files + every chain file) keeps its recorded tuple, the
    new group's files take theirs from ``new_values`` (hive-routed
    write) or None (plain write — never pruned)."""
    part = man.get("partition")
    if not part:
        return
    vals = dict(part.get("values") or {})
    nv = new_values or {}
    new = set(new_files)
    live = list(manifest.get("files") or [])
    for grp in (manifest.get("mor") or {}).get("deltas", []):
        live.extend(grp)
    manifest["partition"] = {
        **{k: part[k] for k in part if k != "values"},
        "values": {
            rel: (nv.get(rel) if rel in new else vals.get(rel))
            for rel in live
        },
    }


def _chain_manifest(
    man: dict,
    files,
    deltas,
    new_files=(),
    new_values: dict | None = None,
    new_stats: dict | None = None,
    txn: tuple | None = None,
) -> dict:
    """The manifest of a MOR CHAIN commit built on ``man``: base
    ``files`` and delta chain ``deltas``, under ``man``'s schema,
    policies and ``mor`` block. Partition tuples carry through
    :func:`_carry_partition_mor` (``new_values`` tuples ``new_files``),
    stats survive for live files only (``new_stats`` adds the new
    files'), and the txn watermarks carry over with ``txn`` advanced.
    Shared by the first claim and the rebase of :func:`_commit_group`,
    by the chain folds of :func:`_maintain`, and by every read of a pruned or
    re-ranked chain (the sub-manifest a resolve reads)."""
    m2 = {
        "files": list(files),
        "schema": man["schema"],
        "mor": {**man["mor"], "deltas": list(deltas)},
        **_policies(man),
    }
    _carry_partition_mor(man, m2, new_files, new_values)
    marks = dict(man.get("txn") or {})
    if txn is not None:
        marks[txn[0]] = txn[1]
    if marks:
        m2["txn"] = marks
    if "stats" in man or new_stats is not None:
        live = set(m2["files"]).union(*m2["mor"]["deltas"])
        m2["stats"] = {
            rel: v for rel, v in (man.get("stats") or {}).items()
            if rel in live
        }
        m2["stats"].update(new_stats or {})
    return m2


def _require_chain_head(head: dict, man: dict, txn: tuple | None) -> None:
    """The rebase check every racing delta-group commit shares: one
    more group appends disjointly onto ``head`` only if the competitor
    kept the MOR block, its key/seq columns, its merge mode and the
    base files of ``man``, moved no table policy or partition spec
    (:func:`_require_policies`; schemas merge additively) and did not
    already commit this ``txn`` batch. Raises
    :class:`ConcurrentCommitError` otherwise."""
    hmor, mor = head.get("mor"), man["mor"]
    if not hmor:
        raise ConcurrentCommitError(
            "concurrent commit removed the MOR chain (compaction?) — "
            "re-run the verb against the new head"
        )
    if any(
        hmor.get(k) != mor.get(k)
        for k in ("key_cols", "seq_col", "merge", "aggs")
    ):
        # racing FIRST upserts fix these independently: a partial
        # group read under the winner's latest-wins mode would turn
        # its "keep" NULLs into values
        raise ConcurrentCommitError(
            "MOR key/seq columns or merge mode changed concurrently"
        )
    if set(head.get("files") or []) != set(man["files"]):
        raise ConcurrentCommitError(
            "base files changed concurrently (compaction/DML) — "
            "re-run the verb against the new head"
        )
    _require_policies(head, man, schema=False)
    if txn is not None and txn[1] <= (head.get("txn") or {}).get(
        txn[0], -1
    ):
        raise ConcurrentCommitError(
            f"txn batch {txn} already committed by a concurrent "
            "writer — re-run the verb for the idempotent skip"
        )


def _commit_group(
    path: str,
    man: dict,
    token: str,
    new_files: list,
    new_values: dict | None = None,
    txn: tuple | None = None,
    on_race=None,
    branch: str | None = None,
    expect_bv: int | None = None,
) -> int:
    """Commit ``new_files`` as the next delta group of ``man``'s chain.
    ``man`` carries the commit's schema and ``mor`` block (a tombstone
    group's declares the op column). The base file list rides
    byte-identical; the new files' stats are harvested once, and both
    the first claim and the rebase build with :func:`_chain_manifest`.

    Without ``on_race`` there is NO rebase: a DELETE/UPDATE group was
    derived from the resolved view, so any concurrent commit
    invalidates it (the same read-modify-write rule as COW
    DELETE/MERGE). With it, a lost race runs
    :func:`_require_chain_head`, then ``on_race(head)`` (the verb's own
    check, raising :class:`ConcurrentCommitError`), and re-appends the
    group onto the head's chain: the head's schema gains this commit's
    new columns, and a tombstone group keeps its op column. ``branch``
    commits a single claim (see :func:`_commit_dml_manifest`)."""
    new_stats = _new_file_stats(
        path, man, new_files, man.get("column_mapping") or {}
    )
    op_col = man["mor"].get("op_col")

    def _build(on: dict) -> dict:
        schema = dict(on["schema"])
        for c, t in man["schema"].items():
            schema.setdefault(c, t)
        mor = {**on["mor"], "op_col": op_col} if op_col else on["mor"]
        return _chain_manifest(
            {**on, "schema": schema, "mor": mor}, on["files"],
            on["mor"]["deltas"] + [new_files], new_files, new_values,
            new_stats, txn,
        )

    def _rebase(head: dict) -> dict:
        _require_chain_head(head, man, txn)
        on_race(head)
        return _build(head)

    return _commit_dml_manifest(
        path, _build(man), token, branch, expect_bv,
        rebase=_rebase if on_race else None,
    )


def snapshot_changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """CDC CHANGE FEED between two committed versions: time-travel read
    both, full-outer join on the key, and emit one row per changed key —
    ``change_type`` ∈ insert / delete / update with the old and new
    non-key columns as structs (``_old`` / ``_new``, NULL on the absent
    side). Unchanged keys are filtered by a null-safe struct compare, so
    the feed is exactly the delta (:func:`_changes`).

    Table formats with a retained commit log derive change feeds from
    the log; diff-of-snapshots is the generic fallback that works for
    ANY version pair (including across a vacuumed log gap) at the cost
    of scanning both versions. The join is a key-partitioned full outer
    — on a layout bucketed by the key it plans with zero Exchange, and
    AQE broadcasts the small side when one version is a sliver of the
    other (the common backfill-diff case). A pair across a rename
    refuses (:func:`_require_one_naming_era`)."""
    old = read_snapshot(spark, path, version=v_from)
    new = read_snapshot(spark, path, version=v_to)
    _require_one_naming_era(path, v_from, v_to, "snapshot_changes")
    return _changes(
        old, new, key_cols, _union_val_schema(path, v_from, v_to, key_cols)
    )


def _require_one_naming_era(
    path: str, v_from: int, v_to: int, what: str
) -> None:
    """Refuse a change diff whose versions name columns differently:
    each side reads in ITS OWN era's logical names, so a value column
    renamed between the endpoints would look like a drop+add and every
    key would emit a spurious update. A rename commit itself is a data
    noop, so diffing around it (or version by version) loses nothing."""
    if v_from <= 0:
        return
    map_a = _load_manifest(path, v_from).get("column_mapping") or {}
    map_b = _load_manifest(path, v_to).get("column_mapping") or {}
    if map_a != map_b:
        raise ValueError(
            f"{what} across a rename boundary "
            f"(v{v_from} mapping {map_a} != v{v_to} mapping {map_b}) "
            "— diff within one naming era or "
            "materialize_column_mapping first"
        )


def _val_struct(df: DataFrame, val_cols: list[tuple[str, str]]):
    """The ``_old``/``_new`` struct of ``df``'s rows over ``val_cols``
    (:func:`_union_val_schema`): a column ``df`` lacks is a typed NULL,
    and every field takes the union type, so both sides compare as one
    struct type."""
    from pyspark.sql import functions as F

    have = set(df.columns)
    return F.struct(
        *(
            (F.col(c) if c in have else F.lit(None)).cast(t).alias(c)
            for c, t in val_cols
        )
    )


def _changes(
    old: DataFrame, new: DataFrame, key_cols: list[str],
    val_cols: list[tuple[str, str]],
) -> DataFrame:
    """The change diff of two images of a table: full outer join on
    ``key_cols``, drop the keys whose value structs are null-safe equal,
    and label the rest insert (no old row), delete (no new row) or
    update. Shared by :func:`snapshot_changes` and every
    :func:`version_delta` kind that diffs images."""
    from pyspark.sql import functions as F

    missing = [
        c for c in key_cols if c not in old.columns or c not in new.columns
    ]
    if missing:
        raise ValueError(
            f"change diff: key columns {missing} absent from one of the "
            "diffed versions"
        )
    j = old.select(*key_cols, _val_struct(old, val_cols).alias("_old")).join(
        new.select(*key_cols, _val_struct(new, val_cols).alias("_new")),
        key_cols,
        "full_outer",
    )
    return j.filter(~F.col("_old").eqNullSafe(F.col("_new"))).select(
        *key_cols,
        F.when(F.col("_old").isNull(), F.lit("insert"))
        .when(F.col("_new").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("change_type"),
        "_old",
        "_new",
    )


def _load_manifest(path: str, version: int) -> dict:
    import json
    import os

    with open(os.path.join(_manifest_dir(path), f"v{version}.json")) as f:
        return json.load(f)


def classify_transition(path: str, base_version: int, version: int) -> dict:
    """Classify the commit(s) taking the table from ``base_version`` to
    ``version`` by MANIFEST SHAPE ALONE (two JSON reads, zero data
    pages) — the dispatch the incremental change feed runs per version
    so steady-state transitions cost O(changes), never a two-version
    scan. Returns ``{"kind": ..., **details}`` with kind one of:

    * ``initial`` — ``base_version == 0``: the whole snapshot is the
      delta (all inserts); ``new_files`` = every base file.
    * ``noop`` — same files, DVs and delta chain (a txn-watermark
      advance / empty-batch commit): the delta is empty.
    * ``append`` — file list grew, nothing else moved (``mode='append'``
      commits, the streaming-ingest shape): the delta is exactly the
      ``new_files``, all inserts (under the layer-wide key-unique
      contract).
    * ``mor`` — the MOR delta chain grew by ``new_groups`` (base files,
      DVs untouched): the delta is exactly those groups' upsert rows.
    * ``dv`` — deletion vectors grew (files untouched):
      ``dv_changed`` maps each touched data file to its (old sidecar or
      None, new sidecar); the delta is the newly-deleted positions.
    * ``rewrite`` — anything else (COW merge/delete, compaction,
      overwrite, DV purge, or a multi-commit range mixing kinds): no
      log-local derivation exists; callers fall back to the generic
      diff-of-snapshots (:func:`snapshot_changes`).

    ``base_version``/``version`` need not be adjacent — the shape tests
    (superset / chain-prefix / DV-growth) hold across any retained pair,
    so a range of same-kind commits (or a vacuumed gap between appends)
    still classifies fast."""
    m = _load_manifest(path, version)
    if base_version == 0:
        return {"kind": "initial", "new_files": list(m["files"]),
                "manifest": m}
    p = _load_manifest(path, base_version)
    pf, cf = set(p["files"]), set(m["files"])
    pdv = p.get("dv") or {}
    cdv = m.get("dv") or {}
    pmor = p.get("mor") or {}
    cmor = m.get("mor") or {}
    pdel = pmor.get("deltas", [])
    cdel = cmor.get("deltas", [])
    mor_keys_eq = (not pmor and not cmor) or (
        pmor.get("key_cols") == cmor.get("key_cols")
        and pmor.get("seq_col") == cmor.get("seq_col")
    ) or (not pmor and cmor and not pdel)
    if pf == cf and pdv == cdv and pdel == cdel and mor_keys_eq:
        return {"kind": "noop", "manifest": m}
    if pf < cf and pdv == cdv and pdel == cdel and mor_keys_eq:
        return {
            "kind": "append",
            "new_files": [f for f in m["files"] if f not in pf],
            "manifest": m,
        }
    if (
        pf == cf
        and not pdv
        and not cdv
        and mor_keys_eq
        and len(cdel) > len(pdel)
        and cdel[: len(pdel)] == pdel
    ):
        return {
            "kind": "mor",
            "new_groups": cdel[len(pdel):],
            "key_cols": cmor["key_cols"],
            "seq_col": cmor["seq_col"],
            "manifest": m,
        }
    if (
        pf == cf
        and not pdel
        and not cdel
        and cdv != pdv
        and set(pdv) <= set(cdv)  # a vanished DV is a purge → rewrite
    ):
        changed = {
            k: (pdv.get(k), cdv[k]) for k in cdv if pdv.get(k) != cdv[k]
        }
        return {"kind": "dv", "dv_changed": changed, "manifest": m}
    return {"kind": "rewrite", "manifest": m}


def _union_val_schema(
    path: str, base_version: int, version: int, key_cols: list[str]
) -> list[tuple[str, str]]:
    """The one column rule of every change diff: ``[(col, type)]`` over
    the union of both versions' non-key columns, base-version order
    first, then the columns ``version`` added. A column one version
    lacks (added or dropped between them) is a typed NULL on that side
    (additive evolution, ADVICE r5); a column in both takes
    ``version``'s type, which a widening only ever grows. Base version
    0 (the empty table) contributes nothing."""
    cur = _load_manifest(path, version)["schema"]
    prev = _load_manifest(path, base_version)["schema"] if base_version else {}
    return [
        (c, cur.get(c, prev.get(c)))
        for c in {**prev, **cur}
        if c not in key_cols
    ]


def version_delta(
    spark: SparkSession,
    path: str,
    version: int,
    key_cols: list[str],
    base_version: int | None = None,
) -> DataFrame:
    """INCREMENTAL CDC READER (the consumer half of the layer's CDC
    story — the writers are merge/upsert/delete; cf. Delta
    ``readChangeFeed`` / Iceberg incremental scan): the row-level change
    feed that took the table from ``base_version`` (default: the
    retained predecessor of ``version``; 0 = empty table) to
    ``version``, with :func:`snapshot_changes`' exact output contract
    (``key_cols…, change_type, _old, _new``), its column union
    (:func:`_union_val_schema`) and its refusal of a range across a
    rename (a rename commit alone is an empty delta).

    The point is the COST MODEL, dispatched by
    :func:`classify_transition`:

    * append commits read ONLY the new files — O(new data);
    * MOR delta commits, under every merge engine, read the new delta
      groups' keys, probe the base version for those keys with one
      broadcast semi-join (the base scans once, shuffles never), and
      resolve that old image as commit 0 under the new groups
      (:func:`_resolve_mor`'s ``base``), so the rank rule and the
      engines' folds stay in one place; the two slivers are diffed
      with :func:`_changes` — O(changes) + one pruned scan;
    * DV delete commits read ONLY the newly-deleted positions of the
      touched files — O(touched files);
    * everything else (COW rewrites, compaction, vacuumed-gap ranges
      that mixed kinds) falls back to the generic two-version diff —
      the documented slow path a retention policy keeps rare.

    Today a downstream MV refresh pays two full version scans per
    interval via :func:`snapshot_changes`; this verb makes the
    steady-state refresh O(changes). Reference parity: the importer's
    patch-back loop (dp-dimension-importer
    handler/incoming_instance_handler.go:217-280) is exactly an
    incremental consumer of upstream changes."""
    import os

    from pyspark.sql import functions as F

    version, man = _snapshot_manifest(path, version)
    versions = snapshot_versions(path)
    if base_version is None:
        idx = versions.index(version)
        base_version = versions[idx - 1] if idx > 0 else 0
    elif base_version != 0 and base_version not in versions:
        raise FileNotFoundError(
            f"base version {base_version} not committed (have {versions})"
            " — vacuumed? start the feed from a retained version"
        )
    if base_version >= version:
        raise ValueError("base_version must be < version")
    tr = classify_transition(path, base_version, version)
    missing = [c for c in key_cols if c not in man["schema"]]
    if missing:
        raise ValueError(
            f"version_delta: key columns {missing} absent from "
            f"v{version} of {path!r}"
        )
    val_cols = _union_val_schema(path, base_version, version, key_cols)
    null_struct = F.lit(None).cast(
        "struct<" + ",".join(f"{c}:{t}" for c, t in val_cols) + ">"
    )
    if tr["kind"] == "noop":
        key_types = [(c, man["schema"][c]) for c in key_cols]
        return spark.range(0).select(
            *(F.lit(None).cast(t).alias(c) for c, t in key_types),
            F.lit(None).cast("string").alias("change_type"),
            null_struct.alias("_old"),
            null_struct.alias("_new"),
        )
    _require_one_naming_era(path, base_version, version, "version_delta")
    mapping = man.get("column_mapping")
    if tr["kind"] in ("initial", "append"):
        # schema from the transition's manifest, never footer inference
        # (guide §6): one less scheduler round-trip per diffed version,
        # and deterministic on mixed-era file sets
        df = _apply_mapping(
            spark.read.schema(_schema_ddl(_phys_schema(man))).parquet(
                *(os.path.join(path, rel) for rel in tr["new_files"])
            ),
            mapping,
        )
        return df.select(
            *key_cols,
            F.lit("insert").alias("change_type"),
            null_struct.alias("_old"),
            _val_struct(df, val_cols).alias("_new"),
        )
    if tr["kind"] == "mor":
        # the touched keys, tombstoned ones included, under the forced
        # key schema (no inference job); the broadcast exchange is
        # planned once and reused by both reads of the old image
        phys = {(mapping or {}).get(c, c): man["schema"][c] for c in key_cols}
        keys = _apply_mapping(
            spark.read.schema(_schema_ddl(phys)).parquet(
                *(
                    os.path.join(path, rel)
                    for grp in tr["new_groups"] for rel in grp
                )
            ),
            mapping,
        )
        old = read_snapshot(spark, path, version=base_version).join(
            F.broadcast(keys.distinct()), key_cols, "left_semi"
        )
        new = _resolve_mor(
            spark, path, _chain_manifest(man, [], tr["new_groups"]),
            base=old,
        )
        return _changes(old, new, key_cols, val_cols)
    if tr["kind"] == "dv":
        old_rels = [o for o, _ in tr["dv_changed"].values() if o]
        new_rels = [n for _, n in tr["dv_changed"].values()]
        doomed = _dv_rows(spark, path, new_rels)
        if old_rels:
            doomed = doomed.exceptAll(_dv_rows(spark, path, old_rels))
        touched = list(tr["dv_changed"])
        # forced manifest schema: deterministic on mixed-era file sets
        # (inference samples ONE footer) and no inference job
        df = spark.read.schema(_schema_ddl(_phys_schema(man))).parquet(
            *(os.path.join(path, rel) for rel in touched)
        )
        data = df.select(
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
            .alias("_fname"),
            F.col("_metadata.row_index").alias("_pos"),
            "*",
        )
        hit = _apply_mapping(
            data.join(doomed, ["_fname", "_pos"], "left_semi")
            .drop("_fname", "_pos"),
            mapping,
        )
        return hit.select(
            *key_cols,
            F.lit("delete").alias("change_type"),
            _val_struct(hit, val_cols).alias("_old"),
            null_struct.alias("_new"),
        )
    # rewrite / mixed range: generic diff-of-snapshots fallback
    return _changes(
        read_snapshot(spark, path, version=base_version),
        read_snapshot(spark, path, version=version),
        key_cols,
        val_cols,
    )


def restore_snapshot(path: str, version: int) -> int:
    """RESTORE: re-commit a retained prior ``version``'s manifest as the
    table's NEW latest version (Delta's RESTORE / Iceberg's rollback).
    Pure metadata — zero data movement, the manifest's immutable file list
    is simply re-published under the next version number — and history is
    PRESERVED: the rolled-back-over versions remain time-travelable until
    ``vacuum_snapshots`` expires them, so a bad restore is itself
    restorable. Raises if ``version`` was never committed or already
    vacuumed. Returns the new version number."""
    import uuid

    _, man = _snapshot_manifest(path, version)
    man.pop("version", None)
    # ADVICE r11 (low): the restored version's OWN policies stand, never
    # the newest version's — its rows were never validated against newer
    # constraint/generated maps (restoring a pre-constraint version
    # restores the pre-constraint contract; re-adding the constraint
    # re-validates), and its widened/dropped markers describe its own
    # files. The maps are recorded explicitly (empty included), so the
    # restore visibly clears what the newest version declared.
    man["constraints"] = man.get("constraints") or {}
    man["generated"] = man.get("generated") or {}
    man["widened"] = man.get("widened") or {}
    man["dropped"] = man.get("dropped") or []
    latest_txn = _snapshot_manifest(path)[1].get("txn")
    if latest_txn:
        # idempotence watermarks never regress: a restore that revived an
        # old txn map would let an at-least-once writer re-land a batch
        man["txn"] = latest_txn
    return _commit_manifest(path, man, uuid.uuid4().hex[:12])


def _tags_path(path: str) -> str:
    import os

    return os.path.join(_manifest_dir(path), "tags.json")


def _tags_dir(path: str) -> str:
    import os

    return os.path.join(_manifest_dir(path), "tags")


_TAG_NAME_RE = None  # compiled lazily


def _check_tag_name(name: str) -> None:
    import re

    global _TAG_NAME_RE
    if _TAG_NAME_RE is None:
        _TAG_NAME_RE = re.compile(r"^[A-Za-z0-9._-]+$")
    if not _TAG_NAME_RE.match(name) or name in (".", ".."):
        raise ValueError(
            f"invalid tag name {name!r}: use letters, digits, '.', '_', "
            "'-' (tag names are filenames in the per-tag store)"
        )


def list_tags(path: str) -> dict[str, int]:
    """{tag name: pinned version} for the table (empty if none). Reads
    the per-tag file store (``tags/<name>.json``, one O_EXCL-created file
    per tag — ADVICE r9: the shared read-modify-written ``tags.json``
    lost one of two concurrent taggers' updates) plus any legacy
    ``tags.json`` written by pre-r10 code."""
    import glob
    import json
    import os

    out: dict[str, int] = {}
    legacy = _tags_path(path)
    if os.path.exists(legacy):
        with open(legacy) as f:
            out.update({k: int(v) for k, v in json.load(f).items()})
    for p in glob.glob(os.path.join(_tags_dir(path), "*.json")):
        try:
            with open(p) as f:
                out[os.path.basename(p)[:-5]] = int(
                    json.load(f)["version"]
                )
        except (OSError, ValueError, KeyError):
            continue  # half-written by a crashed tagger: not a tag yet
    return out


def tag_snapshot(path: str, name: str, version: int | None = None) -> int:
    """Pin a committed version under a NAME (Iceberg tags): readers reach
    it with ``read_snapshot(..., tag=name)`` forever, and
    :func:`vacuum_snapshots` RETAINS tagged versions no matter how old —
    the compliance-snapshot / eval-baseline use case where "keep the last
    N versions" is the wrong retention rule. Tags are immutable:
    re-pointing requires :func:`drop_tag` first (silent repointing would
    change what an auditor's name means). Defaults to the latest
    version; returns the pinned version.

    Each tag is its own ``tags/<name>.json`` claimed by hard-linking a
    FULLY-WRITTEN attempt-unique tmp file onto the name (ADVICE r10: the
    r9 O_EXCL-create-then-write left an EMPTY file on a crash mid-write,
    which ``list_tags`` skips but whose existence wedged the name with a
    confusing "already pins vNone" until a manual drop_tag). With the
    link claim — the same atomicity mechanism as ``_commit_manifest`` —
    a tag file either doesn't exist or is complete; two racing taggers:
    one wins the link, the other reads the winner's pin and errors or
    no-ops."""
    import json
    import os
    import uuid

    _check_tag_name(name)
    v, _ = _snapshot_manifest(path, version)
    tags = list_tags(path)
    if name in tags:
        if tags[name] != v:
            raise ValueError(
                f"tag {name!r} already pins v{tags[name]} — drop_tag "
                "first (tags are immutable names, not branches)"
            )
        return v  # idempotent re-pin of the same version
    tdir = _tags_dir(path)
    os.makedirs(tdir, exist_ok=True)
    tpath = os.path.join(tdir, f"{name}.json")
    tmp = os.path.join(tdir, f".tmp-{uuid.uuid4().hex[:12]}.json")
    with open(tmp, "w") as f:
        json.dump({"version": v}, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        for attempt in (0, 1):
            try:
                os.link(tmp, tpath)  # atomic claim of the name
                return v
            except FileExistsError:
                # claimed between list and link — by a live tagger
                # (valid file: compare pins) or by a crashed pre-link-era
                # tagger (empty/invalid corpse, invisible to list_tags:
                # clear it once and retry; a NEW-code file can never be
                # partial because the link publishes complete bytes)
                existing = list_tags(path).get(name)
                if existing == v:
                    return v
                if existing is not None:
                    raise ValueError(
                        f"tag {name!r} already pins v{existing} — "
                        "drop_tag first (tags are immutable names, not "
                        "branches)"
                    )
                if attempt == 0:
                    try:
                        os.unlink(tpath)
                    except FileNotFoundError:
                        pass
        raise ValueError(
            f"tag {name!r} is wedged by an unreadable tag file "
            f"({tpath}) — drop_tag and re-tag"
        )
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def drop_tag(path: str, name: str) -> None:
    """Remove a tag; the version it pinned becomes vacuum-expirable again
    (subject to the normal keep_last rule)."""
    import json
    import os
    import uuid

    tpath = os.path.join(_tags_dir(path), f"{name}.json")
    if os.path.exists(tpath):
        os.unlink(tpath)
        return
    # legacy tags.json entry (pre-r10 shared file)
    legacy = _tags_path(path)
    tags: dict[str, int] = {}
    if os.path.exists(legacy):
        with open(legacy) as f:
            tags = {k: int(v) for k, v in json.load(f).items()}
    if name not in tags:
        raise KeyError(
            f"no tag {name!r} on {path!r} (have {sorted(list_tags(path))})"
        )
    del tags[name]
    tmp = legacy + f".tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(tags, f)
    os.replace(tmp, legacy)


# ---------------------------------------------------------------------------
# Snapshot BRANCHES (Iceberg branch refs on this layer's commit protocol).
#
# q89's WRITE-AUDIT-PUBLISH stages exactly ONE unpublished candidate;
# branches generalize it to N audited commits: a branch is a named
# manifest chain under _manifests/branches/<name>/ with its own b<K>.json
# numbering, FORKED from a committed main version (base.json records the
# fork point). Branch data files land in the shared data/<token>/ pool
# (immutable, manifest-referenced), so main readers never see them, and
# vacuum retains them exactly like main's (live branch manifests are
# retention roots). fast_forward publishes the branch HEAD as main's next
# version — metadata-only, the restore_snapshot shape — and, like
# Iceberg's fast-forward, REQUIRES that main has not moved past the fork
# point (a moved main needs a rebase/cherry-pick, which this layer
# deliberately doesn't guess at).
# ---------------------------------------------------------------------------


def _branches_dir(path: str) -> str:
    import os

    return os.path.join(_manifest_dir(path), "branches")


def _branch_dir(path: str, name: str) -> str:
    import os

    _check_tag_name(name)  # same filename-safe charset as tags
    return os.path.join(_branches_dir(path), name)


def list_branches(path: str) -> dict[str, dict]:
    """{branch name: {"base_version": N, "commits": K}} for every live
    branch (empty if none)."""
    import glob
    import json
    import os

    out: dict[str, dict] = {}
    for bdir in glob.glob(os.path.join(_branches_dir(path), "*")):
        base = os.path.join(bdir, "base.json")
        if not os.path.isdir(bdir) or not os.path.exists(base):
            continue
        try:
            with open(base) as f:
                bv = int(json.load(f)["base_version"])
        except (OSError, ValueError, KeyError):
            continue  # half-created by a crashed create_branch: not live
        out[os.path.basename(bdir)] = {
            "base_version": bv,
            "commits": len(branch_versions(path, os.path.basename(bdir))),
        }
    return out


def branch_versions(path: str, name: str) -> list[int]:
    """Branch-local commit numbers (b1, b2, …) in order; [] for a branch
    with no commits yet (its head is the fork-point version)."""
    import glob
    import os

    out = []
    for p in glob.glob(os.path.join(_branch_dir(path, name), "b*.json")):
        try:
            out.append(int(os.path.basename(p)[1:-5]))
        except ValueError:
            continue
    return sorted(out)


def create_branch(path: str, name: str, version: int | None = None) -> int:
    """Fork a BRANCH from a committed main ``version`` (default latest).
    The fork point is recorded atomically (tmp + hard-link claim, the tag
    protocol): two racing creators — one wins, the other errors unless it
    asked for the same fork point. The fork-point version becomes a
    retention root (vacuum keeps it while the branch lives). Returns the
    base version."""
    import json
    import os
    import uuid

    v, _ = _snapshot_manifest(path, version)
    bdir = _branch_dir(path, name)
    os.makedirs(bdir, exist_ok=True)
    base = os.path.join(bdir, "base.json")
    tmp = os.path.join(bdir, f".tmp-{uuid.uuid4().hex[:12]}.json")
    with open(tmp, "w") as f:
        json.dump({"base_version": v}, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, base)
    except FileExistsError:
        with open(base) as f:
            existing = int(json.load(f)["base_version"])
        if existing != v:
            raise ValueError(
                f"branch {name!r} already exists (forked at v{existing}) "
                "— drop_branch first"
            )
        return v  # idempotent re-create at the same fork point
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
    return v


def _branch_head_manifest(path: str, name: str) -> dict:
    import json
    import os

    bdir = _branch_dir(path, name)
    base = os.path.join(bdir, "base.json")
    if not os.path.exists(base):
        raise FileNotFoundError(
            f"no branch {name!r} on {path!r} "
            f"(have {sorted(list_branches(path))})"
        )
    bvs = branch_versions(path, name)
    if bvs:
        with open(os.path.join(bdir, f"b{bvs[-1]}.json")) as f:
            return json.load(f)
    with open(base) as f:
        bv = int(json.load(f)["base_version"])
    if bv not in snapshot_versions(path):
        raise FileNotFoundError(
            f"branch {name!r} fork point v{bv} was vacuumed — the branch "
            "is unreadable (vacuum retains fork points of LIVE branches; "
            "this one was created against an already-doomed version)"
        )
    return _load_manifest(path, bv)


def read_branch(
    spark: SparkSession, path: str, name: str
) -> DataFrame:
    """Read a branch's HEAD world: the last branch commit, or the fork
    point if the branch has no commits yet. Same isolation as
    :func:`read_snapshot` — one manifest resolve, immutable files."""
    return _manifest_df(spark, path, _branch_head_manifest(path, name))


def write_snapshot_to_branch(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    name: str,
    mode: str = "overwrite",
    compression: str = PARQUET_CODEC,
    enforce_schema: bool = True,
) -> int:
    """Commit ``df`` as the branch's next commit (b<K>) — main readers
    see NOTHING until :func:`fast_forward`. Modes mirror
    :func:`write_snapshot` (``overwrite`` / ``append`` against the BRANCH
    head); schema evolution is validated against the branch head under
    the same additive rule. Data files land in the shared immutable
    ``data/<token>/`` pool; the branch manifest hard-link is the commit
    point, claimed as exactly head + 1 (:func:`_commit_branch_manifest`):
    a racing branch writer that took the number first surfaces as
    :class:`ConcurrentCommitError` — re-run against the new head (a
    renumbered append would drop the winner's rows). Returns the
    branch-local commit number."""
    import glob
    import os
    import uuid

    prev, _, bv = _dml_head(path, name)  # also validates the branch
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown branch write mode {mode!r}")
    if (prev.get("mor") or prev.get("dv")) and mode == "append":
        # r13: an OVERWRITE branch commit replaces the fork point's
        # content wholesale, so a MOR/DV fork is fine (same rule as
        # write_snapshot overwrite on MOR); an APPEND would dodge delta
        # resolution / DV masking and stays refused
        raise ValueError(
            "branch append onto a MOR/DV fork point would dodge delta "
            "resolution: compact/purge on main first, or overwrite"
        )
    # a branch write that dodged admission would land on main via
    # fast_forward's metadata-only publish: admit against the branch
    # head's policies, which every branch commit carries
    df = _admit(df, prev, "write_snapshot_to_branch")
    new_schema = {f.name: f.dataType.simpleString() for f in df.schema}
    if enforce_schema:
        for col_name, col_type in (prev.get("schema") or {}).items():
            if new_schema.get(col_name) != col_type:
                raise ValueError(
                    f"branch schema evolution must be additive: column "
                    f"{col_name!r} was {col_type}, new commit has "
                    f"{new_schema.get(col_name)!r}"
                )
    mapping = (
        (prev.get("column_mapping") or {}) if mode == "append" else {}
    )
    if mapping:
        # same discipline as write_snapshot: appended files share the
        # table's PHYSICAL schema; an overwrite materializes the rename
        df = df.withColumnsRenamed(mapping)
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, "data", token)
    (df.write.mode("error").option("compression", compression)
     .parquet(data_dir))
    new_files = sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
    )
    if mode == "append":
        # pruning survives the branch detour: carried files keep their
        # tuples, this commit's flat files map to None (never pruned)
        manifest = _replace_files(
            {**prev, "schema": new_schema}, new_files=new_files
        )
    else:
        manifest = {
            "files": new_files, "schema": new_schema,
            **_policies(prev, rewrite=True),
        }
    return _commit_branch_manifest(path, name, manifest, token, bv)


def fast_forward(path: str, name: str, drop: bool = True) -> int:
    """Publish the branch HEAD as main's next version — pure metadata
    (the restore_snapshot shape: re-commit a manifest, zero data
    movement). REFUSES if main moved past the branch's fork point
    (Iceberg fast-forward semantics: a diverged main needs an explicit
    rebase, and silently overwriting its commits would be data loss),
    and if the branch head's row contracts (CHECK constraints, generated
    columns) differ from main's: no branch verb changes them, so a
    mismatch is a branch written without them, whose publish would strip
    main's contract from rows never admitted under it. Main's txn
    watermark map carries forward (never regresses). Drops the branch
    afterwards by default. Returns main's new version."""
    import json
    import os
    import uuid

    bdir = _branch_dir(path, name)
    with open(os.path.join(bdir, "base.json")) as f:
        base_v = int(json.load(f)["base_version"])
    head = snapshot_versions(path)[-1]
    if head != base_v:
        raise ValueError(
            f"fast_forward refused: main moved v{base_v} -> v{head} since "
            f"branch {name!r} forked — rebase the branch (re-fork and "
            "re-apply) instead of overwriting main's commits"
        )
    if not branch_versions(path, name):
        if drop:
            drop_branch(path, name)
        return head  # nothing to publish: ff of an empty branch is a no-op
    manifest = dict(_branch_head_manifest(path, name))
    main = _load_manifest(path, head)
    ours, theirs = (
        _policies(m, rewrite=True) for m in (manifest, main)
    )
    if ours != theirs:
        raise ValueError(
            f"fast_forward refused: branch {name!r} head declares {ours} "
            f"but main declares {theirs} — the branch was written without "
            "main's table policies; re-fork and re-apply its writes"
        )
    # watermarks never regress — and a branch that STAGED idempotent
    # CDC commits (r14: upsert_delta_snapshot/DML with txn= on a
    # branch) carries its own watermarks, which must survive the
    # publish or a redelivered batch would re-land on main. Per-app
    # max of both maps.
    merged_txn = dict(main.get("txn") or {})
    for app, batch in (manifest.get("txn") or {}).items():
        merged_txn[app] = max(batch, merged_txn.get(app, batch))
    if merged_txn:
        manifest["txn"] = merged_txn
    v = _commit_manifest(path, manifest, uuid.uuid4().hex[:12])
    if drop:
        drop_branch(path, name)
    return v


def drop_branch(path: str, name: str) -> None:
    """Remove a branch: its manifests stop being retention roots, so its
    unpublished data files become vacuum-reclaimable (exactly like an
    abandoned WAP stage)."""
    import os
    import shutil

    bdir = _branch_dir(path, name)
    if not os.path.exists(os.path.join(bdir, "base.json")):
        raise KeyError(
            f"no branch {name!r} on {path!r} "
            f"(have {sorted(list_branches(path))})"
        )
    shutil.rmtree(bdir, ignore_errors=True)


def vacuum_snapshots(
    path: str,
    keep_last: int = 1,
    tmp_retention_sec: float = 3600.0,
    older_than: float | None = None,
) -> int:
    """Expire all but the newest ``keep_last`` versions: drop their
    manifests, then delete every data file no retained manifest
    references (including files orphaned by crashed commits). Returns the
    number of files removed. Time travel to an expired version then
    raises — the read/retention contract every table format shares.
    Versions pinned by a TAG (:func:`tag_snapshot`) are ALWAYS retained,
    regardless of age.

    ``older_than`` (unix instant, r11 — Iceberg's
    ``expire_snapshots(older_than, retain_last)``): ALSO retain every
    version committed at or after the instant, so retention can be
    stated in TIME ("keep 7 days") instead of commit count — the policy
    that actually bounds change-feed consumer lag, since lag is measured
    in wall-clock, not versions. ``keep_last`` stays the floor: the
    newest N survive even if older than the instant. Commit instants
    come from the manifests' ``committed_at`` (file mtime for pre-r9
    manifests — the same fallback as ``version_asof``).

    ``*.tmp`` files (task attempts / in-flight DV sidecars written
    immediately before their ``os.replace``) are reclaimed only when
    older than ``tmp_retention_sec`` (ADVICE r9: an un-aged sweep could
    unlink a CONCURRENT writer's in-flight tmp and fail its commit
    mid-job; an hour bounds orphan lifetime without racing any live
    attempt)."""
    import glob
    import json
    import os
    import shutil
    import time

    versions = snapshot_versions(path)
    keep = set(versions[-keep_last:]) if keep_last > 0 else set()
    if older_than is not None:
        for v in versions:
            mpath = os.path.join(_manifest_dir(path), f"v{v}.json")
            try:
                with open(mpath) as f:
                    ct = json.load(f).get("committed_at")
                if ct is None:
                    ct = os.path.getmtime(mpath)
            except OSError:
                continue  # racing vacuum already took it
            if float(ct) >= older_than:
                keep.add(v)
    keep |= {v for v in list_tags(path).values() if v in versions}
    # live BRANCHES are retention roots twice over: their fork-point main
    # version stays readable (fast_forward's divergence check and an
    # empty branch's head both need it), and every branch manifest's
    # files are live exactly like main's
    branch_info = list_branches(path)
    keep |= {
        b["base_version"] for b in branch_info.values()
        if b["base_version"] in versions
    }
    referenced: set[str] = set()

    def _retain(mpath: str) -> None:
        with open(mpath) as f:
            m = json.load(f)
        referenced.update(m["files"])
        referenced.update((m.get("dv") or {}).values())
        for grp in (m.get("mor") or {}).get("deltas", []):
            referenced.update(grp)  # live delta chains survive vacuum

    for bname in branch_info:
        for bv in branch_versions(path, bname):
            _retain(
                os.path.join(_branch_dir(path, bname), f"b{bv}.json")
            )

    doomed = []
    for v in versions:
        mpath = os.path.join(_manifest_dir(path), f"v{v}.json")
        if v in keep:
            _retain(mpath)
        else:
            doomed.append((v, mpath))
    for v, mpath in doomed:
        # ADVICE r9: a tag (or branch fork, r11) created while this
        # vacuum ran must protect its version — re-read the (per-file,
        # atomically created) ref stores immediately before each expiry
        # instead of trusting the snapshot taken at entry.
        live_refs = set(list_tags(path).values()) | {
            b["base_version"] for b in list_branches(path).values()
        }
        if v in live_refs:
            _retain(mpath)
            continue
        os.unlink(mpath)
    removed = 0
    now = time.time()

    def _stale_tmp(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) > tmp_retention_sec
        except OSError:
            return False  # already gone: its writer finished or cleaned up

    for d in glob.glob(os.path.join(path, "data", "*")):
        # *.tmp are crashed task attempts — never referenced by any
        # manifest — but a YOUNG tmp may be a concurrent writer's
        # in-flight attempt (ADVICE r9): only stale tmps are reclaimable,
        # and a fresh one keeps its directory alive.
        # Globs are RECURSIVE (r11): hive-partitioned commits nest their
        # files under _p<i>=... subdirs — a one-level glob saw such a
        # token dir as empty and rmtree'd it with live data inside.
        tmps = glob.glob(os.path.join(d, "**", "*.tmp"), recursive=True)
        fresh_tmps = {p for p in tmps if not _stale_tmp(p)}
        files = (
            glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
            + glob.glob(os.path.join(d, "**", "*.dv"), recursive=True)
            + [p for p in tmps if p not in fresh_tmps]
        )
        live = [p for p in files if os.path.relpath(p, path) in referenced]
        if not live and not fresh_tmps:
            # nothing in this write survives — drop the whole directory,
            # commit markers (_SUCCESS) included
            removed += len(files)
            shutil.rmtree(d, ignore_errors=True)
            continue
        for p in files:
            if os.path.relpath(p, path) not in referenced:
                os.unlink(p)
                removed += 1
    return removed


# ---------------------------------------------------------------------------
# Manifest column statistics → planning-time file skipping
# ---------------------------------------------------------------------------

#: stats value encoding, by python type of the parquet min/max: numerics
#: stay native JSON, dates/timestamps/strings become ISO/UTF-8 strings
#: (ISO order == chronological order, so string compare prunes correctly)
def _stat_encode(v):
    import datetime as _dt
    import decimal as _dec

    if v is None or isinstance(v, (int, float)):
        return v
    if isinstance(v, _dec.Decimal):
        return float(v)  # keep numeric compare semantics (JSON-safe)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return str(v)


def collect_file_stats(files: list[str], root: str, cols: list[str]) -> dict:
    """Per-file min/max of ``cols`` read from parquet FOOTERS (row-group
    statistics the writer already computed — no data pages are touched,
    one metadata read per file). Returns {relpath: {col: [min, max]}};
    a column absent from a file's schema or lacking stats is simply
    omitted, which readers must treat as "cannot prune"."""
    import os

    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for rel in files:
        md = pq.ParquetFile(os.path.join(root, rel)).metadata
        idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
        stats: dict[str, list] = {}
        for col in cols:
            if col not in idx:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx[col]).statistics
                if s is None or not s.has_min_max:
                    ok = False
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            if ok and lo is not None:
                stats[col] = [_stat_encode(lo), _stat_encode(hi)]
        out[rel] = stats
    return out


def write_snapshot_with_stats(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    stats_cols: list[str],
    range_col: str | None = None,
    n_files: int = 8,
    compression: str = PARQUET_CODEC,
) -> int:
    """:func:`write_snapshot` with per-file min/max statistics (the
    Iceberg/Delta data-skipping idea on this layer's manifests). Pass
    ``range_col`` to range-cluster the files on that column first
    (``repartitionByRange`` → near-disjoint per-file value ranges) —
    that clustering is what makes the stats selective; stats over a
    random layout prune nothing. Same commit protocol: one
    implementation (write_snapshot), so the stats path can never drift
    from the crash/concurrency contract the snapshot tests pin."""
    if range_col is not None:
        df = df.repartitionByRange(n_files, range_col)
    return write_snapshot(
        spark, df, path, compression=compression, stats_cols=stats_cols
    )


def read_snapshot_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
    tag: str | None = None,
    asof: float | None = None,
) -> DataFrame:
    """Snapshot read that SKIPS every file whose manifest [min,max] for
    ``col`` cannot intersect [lo, hi] — file skipping decided from the
    manifest alone, before Spark ever lists or opens a file (at 100 TB
    the footer round-trips this saves dominate short queries). The
    surviving files still get the row-level ``BETWEEN`` filter (stats
    bound files, they don't bound rows), so the result is exactly
    ``read_snapshot(...).filter(col BETWEEN lo AND hi)`` regardless of
    how selective — or absent — the stats are. Files with no stats for
    ``col`` are always read.

    MOR tables (r9): when ``col`` is one of the table's MOR KEY columns,
    base files and every delta group are pruned INDEPENDENTLY before
    latest-wins resolution — sound because a key column is constant
    across all commits of a key (see :func:`_dml_scope`). On a
    non-key column the read falls back to resolve-then-filter.

    ``tag`` / ``asof`` select the version by name or commit instant,
    same contract as :func:`read_snapshot`."""
    from pyspark.sql import functions as F

    _, man = _snapshot_manifest(path, version, tag, asof)
    return _scoped_read(spark, path, man, ranges=[(col, lo, hi)]).filter(
        F.col(col).between(F.lit(lo), F.lit(hi))
    )


def _scoped_read(
    spark: SparkSession,
    path: str,
    man: dict,
    *,
    partition_where: dict | None = None,
    ranges=(),
    points=(),
) -> DataFrame:
    """The rows of ``man`` in the files :func:`_dml_scope` keeps — the one
    body of the pruned reads, which add only their exact row filter. An
    empty scope is a typed empty frame of the manifest schema; a MOR
    scope resolves its pruned chain; a COW/DV scope reads ``man`` minus
    the skipped files (:func:`_replace_files`: deletion vectors, column
    mapping and the forced schema carry). On a MOR table a range or
    partition column that is not a key column cannot skip a file
    soundly (its value moves between commits of a key), so it scopes
    nothing and the caller's row filter decides; a point column that is
    not a key refuses (:func:`_bloom_live_rels`)."""
    mor = man.get("mor")
    if mor:
        keys = set(mor["key_cols"])
        ranges = [r for r in ranges if r[0] in keys]
        spec_cols = {
            t["col"]
            for spec in (man.get("partition") or {}).get("specs") or []
            for t in spec
        }
        if (spec_cols & set(partition_where or ())) - keys:
            partition_where = None
    scope, n_kept = _dml_scope(
        spark, path, man, "read", partition_where, ranges, points
    )
    if not n_kept:
        return _manifest_df(spark, path, {"files": [], "schema": man["schema"]})
    if mor:
        return _resolve_mor(spark, path, scope)
    keep = set(scope)
    return _manifest_df(spark, path, _replace_files(
        man, removed=[rel for rel in man["files"] if rel not in keep]
    ))


# ---------------------------------------------------------------------------
# File-level bloom index → point-lookup file skipping. Per-file blooms
# keyed by MANIFEST rel paths, refreshed incrementally (only live files
# missing from the sidecar are scanned), and consulted by the pruned
# reads and the DML probe planners — the high-cardinality
# complement of min/max stats: on a hash-ordered key (UUIDs) every file
# spans the whole key range and range stats prune NOTHING, while a bloom
# proves "this file contains none of these keys" per file.
#
# Deliberately NOT manifest-committed (unlike the ANN index, whose probe
# view must be all-or-nothing): bloom admission is a conservative
# SUPERSET by construction — files absent from the sidecar are always
# read, entries for files rewritten away are ignored — so sidecar
# visibility needs no transaction. A crashed refresh leaves the previous
# sidecar intact (tmp + os.replace); a stale sidecar only costs pruning,
# never correctness. The one hard invariant is HASH IDENTITY between
# build and probe: both hash values CAST TO THE COMMITTED LOGICAL TYPE
# with the same JVM xxhash64 expressions, and the sidecar records that
# type — a type-widened table invalidates the sidecar wholesale (Spark
# hashes int and bigint differently) until the next refresh rebuilds it.
# ---------------------------------------------------------------------------

#: bits / probes per FILE bloom (vs dedup's corpus-level 8 Mbit filter):
#: 2^17 bits ≈ 16 KiB dense, stored sparse — sized for ~10k distinct keys
#: per file at ~1% fpr; size up with file cardinality
BLOOM_IDX_M = 1 << 17
BLOOM_IDX_K = 5


def _snap_bloom_dir(path: str, col: str) -> str:
    import os

    return os.path.join(path, "bloom", col)


def _snap_bloom_path(path: str, col: str) -> str:
    import os

    return os.path.join(_snap_bloom_dir(path, col), "meta.json")


def _file_uri_to_path(uri: str) -> str:
    """``file:/a``, ``file://host/a`` and ``file:///a`` all → ``/a``
    (``_metadata.file_path`` uses one slash, ``input_file_name`` three)."""
    if uri.startswith("file:"):
        uri = uri[5:]
        while uri.startswith("//"):
            uri = uri[1:]
    return uri


def _snap_bloom_meta(path: str, col: str, man: dict) -> dict | None:
    """Load the snapshot bloom sidecar's META for ``col`` if it is
    USABLE under ``man``: present, parseable, and built under the
    manifest's current committed type for the column and from the
    physical column ``col`` maps to now (a drop and a rename can give
    the logical name to another column's bytes; a sidecar that records
    no physical column is never trusted). Anything else returns None —
    the caller plans as if no sidecar existed (conservative), and the
    next :func:`index_bloom_snapshot` rebuilds it. ``meta["files"]`` is
    returned as a SET of indexed rel paths."""
    import json
    import os

    p = _snap_bloom_path(path, col)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return None
    if meta.get("type") != (man.get("schema") or {}).get(col):
        return None  # widened/retyped since the build: hashes diverge
    if meta.get("phys") != (man.get("column_mapping") or {}).get(col, col):
        return None  # hashed another column's bytes
    meta["files"] = set(meta.get("files") or [])
    return meta


def _bloom_live_rels(man: dict, col: str) -> list[str]:
    """The manifest's live data rel paths a bloom over ``col`` must
    cover: base files, plus the whole delta chain on MOR — where ``col``
    must be a MOR KEY column (the read_snapshot_pruned key-closure rule:
    a key's rows, tombstones included, live only in files whose bloom
    fires for it, so dropping non-firing files cannot change that key's
    latest-wins winner; a non-key column's value can move between
    commits of one key and would resurrect superseded rows)."""
    mor = man.get("mor")
    rels = list(man["files"])
    if mor:
        if col not in mor["key_cols"]:
            raise ValueError(
                f"bloom over {col!r} on a MOR table: only key columns "
                f"{mor['key_cols']} can bloom-prune a delta chain "
                "soundly (non-key values move between commits of a key)"
            )
        rels += [rel for grp in mor["deltas"] for rel in grp]
    return rels


#: the words table's one schema — written only by _bloom_word_frame
#: below; readers force it so no probe/compact pays a schema-inference
#: job (guide §6)
_BLOOM_WORDS_DDL = "`rel` string, `w` bigint, `word` bigint"


def _bloom_word_frame(
    spark, path: str, man: dict, rels: list[str], col: str,
    m_bits: int, k: int,
):
    """(rel, w, word) bloom words for ``rels``, computed ENTIRELY
    executor-side: rows explode to their k probe positions (pmod before
    combine — ANSI longs never overflow), positions OR into 64-bit
    words with a map-side-combinable bit_or keyed on (file, word), and
    the rel path is derived from ``_metadata.file_path`` in the scan
    itself — no row, word or path ever round-trips the driver."""
    import os

    from pyspark.sql import functions as F

    ctype = man["schema"][col]
    mapping = man.get("column_mapping") or {}
    phys = mapping.get(col, col)
    force = _phys_schema(man)
    reader = spark.read
    if force:
        reader = reader.schema(_schema_ddl(force))
    prefix = os.path.abspath(path) + os.sep
    df = (
        reader.parquet(*(os.path.join(path, rel) for rel in rels))
        .select(
            F.substring(
                F.regexp_replace(
                    F.col("_metadata.file_path"), r"^file:/{0,2}", "/"
                ),
                len(prefix) + 1,
                1_000_000,
            ).alias("rel"),
            F.col(phys).cast(ctype).alias("_v"),
        )
        # NULLs can't be point-looked-up (IN/join semantics) — a file
        # of only NULLs contributes no words and rejects every key,
        # which is exactly right
        .filter(F.col("_v").isNotNull())
    )
    h1, h2 = F.xxhash64("_v"), F.xxhash64(F.lit(1), F.col("_v"))
    r1 = F.pmod(h1, F.lit(m_bits))
    r2 = F.pmod(h2, F.lit(m_bits))
    pos = F.explode(
        F.array(
            *[F.pmod(r1 + F.lit(i) * r2, F.lit(m_bits)) for i in range(k)]
        )
    ).alias("_p")
    return (
        df.select("rel", pos)
        .select(
            "rel",
            (F.col("_p") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, CAST(pmod(_p, 64) AS INT))").alias("_b"),
        )
        .groupBy("rel", "w")
        .agg(F.bit_or("_b").alias("word"))
    )


def index_bloom_snapshot(
    spark: SparkSession,
    path: str,
    col: str,
    m_bits: int = BLOOM_IDX_M,
    k: int = BLOOM_IDX_K,
) -> dict:
    """Build or INCREMENTALLY refresh the file-level bloom sidecar for a
    SNAPSHOT table column: index the LATEST manifest's live files — base
    and, for a key column, the MOR delta chain — scanning ONLY the live
    files missing from the existing sidecar; entries whose files left
    the manifest (compaction, COW rewrites, vacuumed versions) stop
    being indexed. A daily refresh after the nightly append therefore
    costs O(new files), never a table rescan.

    SCALE SHAPE: the sidecar's (rel, word-index, word) rows live as a
    PARQUET table under ``bloom/<col>/words-*/`` — written by Spark,
    read by Spark, joined distributed at probe time — while
    ``meta.json`` holds only the indexed-file list (manifest-scale, the
    same O(files) every commit already carries) and is the atomic
    commit point (tmp + replace). Nothing row- or word-shaped ever
    reaches the driver, so a million-file table indexes and probes
    without a driver bottleneck (the r13 probe_index lesson applied to
    file skipping). A refresh that finds >half the indexed files dead
    COMPACTS the words table (semi-join against the carried files into
    a fresh directory); a crash anywhere leaves the previous meta
    intact and at worst an orphan ``words-*`` directory, swept by the
    next refresh.

    Values are read under the FORCED committed physical schema (narrow
    old files upcast in the vectorized scan, column-mapped tables
    harvested by physical name) and hashed at the committed logical
    type — meta records that type and the physical column, and
    :func:`_snap_bloom_meta` refuses to use the sidecar after a
    widening, or once the name maps to another physical column, until
    this verb rebuilds.
    Returns ``{"indexed", "carried", "dropped", "files", "version"}``."""
    import glob
    import json
    import os
    import shutil
    import uuid

    head, man = _snapshot_manifest(path)
    schema = man.get("schema") or {}
    if col not in schema:
        raise ValueError(
            f"column {col!r} not in committed schema {sorted(schema)}"
        )
    live = _bloom_live_rels(man, col)

    old = _snap_bloom_meta(path, col, man)
    if old is not None and (old["m_bits"] != m_bits or old["k"] != k):
        old = None  # parameter change: full rebuild under the new shape
    old_files = old["files"] if old else set()
    carried = [rel for rel in live if rel in old_files]
    missing = [rel for rel in live if rel not in old_files]
    dropped = len(old_files) - len(carried)

    bdir = _snap_bloom_dir(path, col)
    os.makedirs(bdir, exist_ok=True)
    token = uuid.uuid4().hex[:12]
    compact = old is not None and dropped > len(old_files) // 2
    if old is None or compact:
        # fresh words directory: first build, rebuild, or a compaction
        # folding the carried files' words in with the new batch
        words_dir = f"words-{token}"
        parts = []
        if missing:
            parts.append(
                _bloom_word_frame(spark, path, man, missing, col, m_bits, k)
            )
        if compact and carried:
            old_words = spark.read.schema(_BLOOM_WORDS_DDL).parquet(
                os.path.join(bdir, old["words_dir"])
            )
            keep = local_frame(
                spark, [(r,) for r in carried],
                StructType.fromDDL("rel string"),
            )
            parts.append(old_words.join(keep, "rel", "left_semi"))
        if parts:
            out = parts[0]
            for extra in parts[1:]:
                out = out.unionByName(extra)
            out.write.mode("error").parquet(os.path.join(bdir, words_dir))
        else:
            os.makedirs(os.path.join(bdir, words_dir), exist_ok=True)
    else:
        # append the new batch's part files into the existing directory
        # (attempt-unique names: a crashed refresh never collides)
        words_dir = old["words_dir"]
        if missing:
            tmp = os.path.join(bdir, f".tmp-{token}")
            _bloom_word_frame(
                spark, path, man, missing, col, m_bits, k
            ).write.mode("error").parquet(tmp)
            os.makedirs(os.path.join(bdir, words_dir), exist_ok=True)
            for i, part in enumerate(
                sorted(glob.glob(os.path.join(tmp, "*.parquet")))
            ):
                os.replace(
                    part,
                    os.path.join(bdir, words_dir, f"{token}-{i}.parquet"),
                )
            shutil.rmtree(tmp, ignore_errors=True)
    meta = {
        "col": col,
        "type": schema[col],
        "phys": (man.get("column_mapping") or {}).get(col, col),
        "m_bits": m_bits,
        "k": k,
        "version": head,
        "words_dir": words_dir,
        "files": carried + missing,
    }
    tmp_meta = _snap_bloom_path(path, col) + f".tmp-{token}"
    with open(tmp_meta, "w") as f:
        json.dump(meta, f)
    os.replace(tmp_meta, _snap_bloom_path(path, col))
    # sweep words directories no meta references (orphans of crashed
    # refreshes / superseded by a compaction) — safe AFTER the meta
    # replace: concurrent readers resolved their directory from a meta
    # they already loaded, and either meta names a complete directory
    for d in glob.glob(os.path.join(bdir, "words-*")):
        if os.path.basename(d) != words_dir:
            shutil.rmtree(d, ignore_errors=True)
    return {
        "indexed": len(missing),
        "carried": len(carried),
        "dropped": dropped,
        "files": len(live),
        "version": head,
    }


def list_bloom_indexes(path: str) -> list[str]:
    """Columns with a committed snapshot bloom sidecar under ``path``
    (a ``bloom/<col>/meta.json`` exists)."""
    import glob
    import os

    return sorted(
        os.path.basename(os.path.dirname(p))
        for p in glob.glob(os.path.join(path, "bloom", "*", "meta.json"))
    )


def refresh_bloom_indexes(spark: SparkSession, path: str) -> dict:
    """Refresh EVERY snapshot bloom sidecar on the table — the one-call
    maintenance tail for OPTIMIZE / compaction / nightly-append jobs
    (each rewrite leaves its new files unindexed, which is correct but
    unpruned; this restores skipping in O(new files) per column).
    Sidecar parameters (m_bits/k) carry; a sidecar whose committed type
    moved is rebuilt by :func:`index_bloom_snapshot`'s own rule. A
    column that can no longer be indexed (dropped from the schema, or
    the table became MOR on other key columns) is reported, not raised
    — maintenance sweeps must not die on one stale sidecar. Returns
    ``{col: refresh report | {"error": msg}}``."""
    import json

    out: dict[str, dict] = {}
    for col in list_bloom_indexes(path):
        try:
            with open(_snap_bloom_path(path, col)) as f:
                prev = json.load(f)
            out[col] = index_bloom_snapshot(
                spark, path, col,
                m_bits=prev.get("m_bits", BLOOM_IDX_M),
                k=prev.get("k", BLOOM_IDX_K),
            )
        except (ValueError, OSError) as e:
            out[col] = {"error": str(e)}
    return out


def _bloom_words(spark, path: str, meta: dict):
    """The sidecar's (rel, w, word) table; None if it has no rows."""
    import glob
    import os

    wdir = os.path.join(_snap_bloom_dir(path, meta["col"]), meta["words_dir"])
    if not glob.glob(os.path.join(wdir, "*.parquet")):
        return None
    return spark.read.schema(_BLOOM_WORDS_DDL).parquet(wdir)


def _bloom_admitted_files(
    spark, path: str, meta: dict, keys_df
) -> set:
    """DISTRIBUTED bloom membership: which indexed files admit at least
    one key in ``keys_df`` (single ``_v`` column, already cast to the
    sidecar's type). No key or word ever reaches the driver — keys
    reduce to their two xxhash64 words, explode to their k probe
    (word, bit) pairs and equi-join the words PARQUET table on the word
    index; a (key, file) pair is admitted when all k probed bits are set
    (an absent sparse word is simply no row and rejects). Only the
    admitted rel list — bounded by |files|, never |keys| — is collected,
    so a CDC merge probes with millions of source keys in one job.
    Entries for files no longer indexed are harmless (callers intersect
    with their own rel lists)."""
    from pyspark.sql import functions as F

    m_bits, k = meta["m_bits"], meta["k"]
    idx = _bloom_words(spark, path, meta)
    if idx is None:
        return set()
    base = (
        keys_df.filter(F.col("_v").isNotNull())
        .select(
            F.xxhash64("_v").alias("_h1"),
            F.xxhash64(F.lit(1), F.col("_v")).alias("_h2"),
        )
        .distinct()
    )
    r1 = F.pmod(F.col("_h1"), F.lit(m_bits))
    r2 = F.pmod(F.col("_h2"), F.lit(m_bits))
    pos = F.explode(
        F.array(
            *[F.pmod(r1 + F.lit(i) * r2, F.lit(m_bits)) for i in range(k)]
        )
    ).alias("_p")
    admitted = (
        base.select("_h1", "_h2", pos)
        .select(
            "_h1",
            "_h2",
            (F.col("_p") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, CAST(pmod(_p, 64) AS INT))").alias("_b"),
        )
        .join(idx, "w")
        .where(F.expr("(word & _b) = _b"))
        .groupBy("_h1", "_h2", "rel")
        .count()
        .where(F.col("count") == k)
        .select("rel")
        .distinct()
        .collect()
    )
    return {r["rel"] for r in admitted}


def _bloom_point_keep(
    spark, path: str, man: dict, col: str, values, rels: list[str]
) -> list[str]:
    """Filter ``rels`` to the files that can contain ``col IN values``
    per the snapshot bloom sidecar: indexed files must be admitted,
    unindexed files always survive (advice, not truth). ``values`` is a
    list of literals or a frame holding ``col`` (MERGE's source); either
    feeds the one distributed probe, literals as a local relation."""
    from pyspark.sql import functions as F

    meta = _snap_bloom_meta(path, col, man)
    if meta is None:
        return list(rels)
    if not isinstance(values, DataFrame):
        # literals take createDataFrame's typing, in a local relation
        rows = [(v,) for v in values if v is not None]
        if not rows:
            return [rel for rel in rels if rel not in meta["files"]]
        values = local_frame(
            spark, rows, spark._inferSchemaFromList(rows, [col])
        )
    adm = _bloom_admitted_files(
        spark, path, meta,
        values.select(F.col(col).cast(meta["type"]).alias("_v")),
    )
    return [rel for rel in rels if rel not in meta["files"] or rel in adm]


def read_snapshot_point(
    spark: SparkSession,
    path: str,
    col: str,
    values: list,
    version: int | None = None,
) -> DataFrame:
    """POINT LOOKUP on a snapshot table through the bloom sidecar:
    return the selected version's rows with ``col IN values``, opening
    only sidecar-admitted files plus any file the sidecar doesn't cover
    — on a UUID-keyed 100 TB table where min/max stats prune nothing,
    the lookup touches ~1 + fpr·files files instead of all of them.
    Honors the full read contract of :func:`read_snapshot`: deletion
    vectors anti-joined, column mapping translated, forced committed
    schema, and MOR chains latest-wins-resolved (``col`` must then be a
    MOR key column — the :func:`_bloom_live_rels` soundness rule; the
    chain is pruned per-file BEFORE the window, sound because every
    commit of a key fires the same bloom). The sidecar is advice:
    absent, stale, or type-mismatched sidecars degrade to a full read
    with the exact filter, never to a wrong answer."""
    from pyspark.sql import functions as F

    _, man = _snapshot_manifest(path, version)
    return _scoped_read(spark, path, man, points=[(col, values)]).filter(
        F.col(col).isin(values)
    )


# ---------------------------------------------------------------------------
# Hidden partitioning (Iceberg partition-spec shape) on the snapshot layer
#
# A PARTITION SPEC is a list of transforms over source columns —
# identity / bucket[N] / truncate[W] / years|months|days|hours — and every
# data file belongs to exactly one partition TUPLE (the transform values).
# "Hidden" means readers never see or filter on the transform columns:
# they predicate on the SOURCE columns and the reader maps each predicate
# through the transform to prune whole files from the manifest, before
# Spark lists or opens anything. This is the coarse, exact complement to
# per-file min/max stats (read_snapshot_pruned): partition pruning needs
# no footer harvest, survives any row order inside the partition, and at
# 100 TB is the FIRST gate a scan passes (days(ts) alone turns a 30-day
# retention query over years of data into a 30-partition read).
#
# Layout: the transform values are materialized as temporary `_p<i>`
# columns and written with Spark's hive-style partitionBy, so the data
# directory self-describes (`data/<token>/_p0=2024-01-03/_p1=4/part-*`),
# while the SOURCE columns all stay inside the files (identity transforms
# copy, never move, their column — a file read back alone is complete).
# The manifest records {"partition": {"specs": [spec0, spec1, ...],
# "current": <id new writes use>, "values": {rel_path: [spec_id,
# [v0, v1, ...]]}}} so pruning is one dict scan with each file judged by
# the spec it was WRITTEN under (Iceberg's per-manifest spec id —
# evolve_partition_spec changes "current" without touching a file); a
# file absent from "values" (e.g. appended by a non-partition-aware verb,
# or rewritten by DML) maps to None = always read, so pruning degrades,
# never lies.
#
# Transform values are stored so that PYTHON comparison matches the
# transform's semantic order: integral kinds as ints, temporal kinds as
# fixed-width ISO strings ('yyyy', 'yyyy-MM', 'yyyy-MM-dd',
# 'yyyy-MM-dd-HH' — lexicographic == chronological), truncate(str) as the
# prefix (lexicographic lower bound). bucket[] values carry NO order —
# they prune equality/IN predicates only.
#
# Reference anchor: the reference scopes a whole import to one instance
# (handler/incoming_instance_handler.go:100-133 — every node/edge verb
# keys on instanceID); instanceID is exactly an identity partition column
# at warehouse scale, which is why the spec form, not a fixed column,
# is the verb's surface.
# ---------------------------------------------------------------------------

_TEMPORAL_FMT = {
    "years": "yyyy",
    "months": "yyyy-MM",
    "days": "yyyy-MM-dd",
    "hours": "yyyy-MM-dd-HH",
}
_TEMPORAL_PYFMT = {
    "years": "%Y",
    "months": "%Y-%m",
    "days": "%Y-%m-%d",
    "hours": "%Y-%m-%d-%H",
}
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _normalize_spec(spec) -> list[dict]:
    """Validate/normalize a partition spec into the manifest's JSON form.

    Accepted entries: ``("identity", col)``, ``("bucket", col, n)``,
    ``("truncate", col, w)``, ``("years"|"months"|"days"|"hours", col)``.
    """
    out = []
    if not spec:
        raise ValueError("partition spec must name at least one transform")
    for entry in spec:
        if isinstance(entry, dict):
            # already-normalized (manifest JSON form): pass through via
            # the same validation by re-expressing as the tuple form
            t = entry["transform"]
            if t == "identity":
                entry = (t, entry["col"])
            elif t == "bucket":
                entry = (t, entry["col"], entry["n"])
            elif t == "truncate":
                entry = (t, entry["col"], entry["w"])
            else:
                entry = (t, entry["col"])
        t = entry[0]
        if t == "identity":
            (_, col), extra = entry[:2], entry[2:]
            if extra:
                raise ValueError(f"identity takes no parameter: {entry!r}")
            out.append({"transform": "identity", "col": col})
        elif t == "bucket":
            _, col, n = entry
            if int(n) < 2:
                raise ValueError(f"bucket needs n >= 2: {entry!r}")
            out.append({"transform": "bucket", "col": col, "n": int(n)})
        elif t == "truncate":
            _, col, w = entry
            if int(w) < 1:
                raise ValueError(f"truncate needs width >= 1: {entry!r}")
            out.append({"transform": "truncate", "col": col, "w": int(w)})
        elif t in _TEMPORAL_FMT:
            _, col = entry
            out.append({"transform": t, "col": col})
        else:
            raise ValueError(f"unknown partition transform {entry!r}")
    return out


def _transform_expr(t: dict, dtype: str):
    """The Spark Column computing transform ``t``'s partition VALUE from
    its source column — pure codegen'd expressions, no UDF. ``dtype`` is
    the source column's simpleString type."""
    from pyspark.sql import functions as F

    c = F.col(t["col"])
    kind = t["transform"]
    integral = dtype in ("tinyint", "smallint", "int", "bigint")
    if kind == "identity":
        if integral:
            return c.cast("long")
        if dtype == "string":
            return c
        if dtype == "date":
            return F.date_format(c, "yyyy-MM-dd")
        if dtype.startswith("timestamp"):
            return F.date_format(c, "yyyy-MM-dd-HH.mm.ss.SSSSSS")
        raise ValueError(
            f"identity partitioning on type {dtype!r} not supported "
            f"(column {t['col']!r}) — use bucket/truncate/temporal"
        )
    if kind == "bucket":
        # cast integrals to long so the write-side hash and the read-side
        # literal hash (both xxhash64 over LONG) can never disagree on
        # physical width
        if integral:
            c = c.cast("long")
        elif dtype != "string":
            raise ValueError(
                f"bucket partitioning needs an integral or string column, "
                f"got {dtype!r} for {t['col']!r}"
            )
        return F.pmod(F.xxhash64(c), F.lit(t["n"])).cast("long")
    if kind == "truncate":
        if integral:
            lc = c.cast("long")
            return (lc - F.pmod(lc, F.lit(t["w"]))).cast("long")
        if dtype == "string":
            return F.substring(c, 1, t["w"])
        raise ValueError(
            f"truncate partitioning needs an integral or string column, "
            f"got {dtype!r} for {t['col']!r}"
        )
    # temporal
    if not (dtype == "date" or dtype.startswith("timestamp")):
        raise ValueError(
            f"{kind} partitioning needs a date/timestamp column, got "
            f"{dtype!r} for {t['col']!r}"
        )
    return F.date_format(c, _TEMPORAL_FMT[kind])


# XXH64 primes — the published constants of the public xxHash spec
# (github.com/Cyan4973/xxHash), which Spark's `xxhash64` expression
# implements JVM-side with seed 42.
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h


def _xx_round(acc: int, k: int) -> int:
    k = (k * _XXP2) & _M64
    k = _rotl64(k, 31)
    k = (k * _XXP1) & _M64
    acc ^= k
    return (_rotl64(acc, 27) * _XXP1 + _XXP4) & _M64


def xxhash64_long(v: int, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of one LONG value, driver-side (the
    specialized hashLong path: seed + P5 + 8, one round, fmix). Returns
    the unsigned 64-bit hash; callers mod it like ``pmod``."""
    h = (seed + _XXP5 + 8) & _M64
    h = _xx_round(h, v & _M64)
    return _xx_fmix(h)


def xxhash64_bytes(data: bytes, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of a string/binary value, driver-side — the
    standard little-endian XXH64 over the UTF-8 bytes."""
    import struct

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<QQQQ", data, i)
            v1 = (_rotl64((v1 + a * _XXP2) & _M64, 31) * _XXP1) & _M64
            v2 = (_rotl64((v2 + b * _XXP2) & _M64, 31) * _XXP1) & _M64
            v3 = (_rotl64((v3 + c * _XXP2) & _M64, 31) * _XXP1) & _M64
            v4 = (_rotl64((v4 + d * _XXP2) & _M64, 31) * _XXP1) & _M64
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12)
            + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            v = (_rotl64((v * _XXP2) & _M64, 31) * _XXP1) & _M64
            h = ((h ^ v) * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        k = (_rotl64((k * _XXP2) & _M64, 31) * _XXP1) & _M64
        h = (_rotl64(h ^ k, 27) * _XXP1 + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl64(h ^ (k * _XXP1) & _M64, 23) * _XXP2 + _XXP3) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ (data[i] * _XXP5) & _M64, 11) * _XXP1) & _M64
        i += 1
    return _xx_fmix(h)


def _bucket_of(v, n: int) -> int:
    """Driver-side bucket id of a literal — pmod(xxhash64(v), n) with the
    exact JVM semantics (longs via the specialized long path, strings via
    UTF-8 bytes), so write-side hive values and read-side predicate
    literals can never disagree. Pinned against ``F.xxhash64`` in
    tests/test_partitioned.py."""
    if isinstance(v, bool):
        raise ValueError("bucket partition predicate on bool")
    h = (
        xxhash64_long(int(v)) if isinstance(v, int)
        else xxhash64_bytes(str(v).encode("utf-8"))
    )
    if h >= 1 << 63:  # JVM hash is a SIGNED long; pmod of the signed value
        h -= 1 << 64
    return h % n


def _transform_literal(t: dict, v, spark=None):
    """Transform a PREDICATE literal the way :func:`_transform_expr`
    transforms the column, driver-side, so pruning compares like with
    like. Pure Python throughout — bucket literals hash via the
    driver-side XXH64 twin of the JVM expression (``spark`` is accepted
    for API compatibility, unused)."""
    import datetime

    kind = t["transform"]
    if v is None:
        return None
    if kind == "identity":
        if isinstance(v, bool):
            raise ValueError("identity partition predicate on bool")
        if isinstance(v, int):
            return int(v)
        if isinstance(v, str):
            return v
        if isinstance(v, datetime.datetime):
            return v.strftime("%Y-%m-%d-%H.%M.%S.%f")
        if isinstance(v, datetime.date):
            return v.strftime("%Y-%m-%d")
        raise ValueError(f"unsupported identity predicate literal {v!r}")
    if kind == "bucket":
        return _bucket_of(v, t["n"])
    if kind == "truncate":
        if isinstance(v, int):
            return v - (v % t["w"] + t["w"]) % t["w"]
        return str(v)[: t["w"]]
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.strftime(_TEMPORAL_PYFMT[kind])
    raise ValueError(f"{kind} predicate literal must be date/datetime: {v!r}")


def _spec_value_is_int(t: dict, dtype: str) -> bool:
    if t["transform"] == "bucket":
        return True
    integral = dtype in ("tinyint", "smallint", "int", "bigint")
    return t["transform"] in ("identity", "truncate") and integral


def write_snapshot_partitioned(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    spec,
    mode: str = "overwrite",
    compression: str = PARQUET_CODEC,
    stats_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Commit ``df`` as the table's next snapshot version, hive-laid-out
    by the hidden-partition ``spec`` (see the section comment). Same
    commit protocol as :func:`write_snapshot` — immutable files under a
    fresh ``data/<token>/``, hard-linked manifest IS the commit — plus a
    recorded ``partition`` block mapping every file to its transform
    tuple, which :func:`read_snapshot_partitioned` prunes against.

    Each partition tuple is hash-clustered to one write task
    (``repartition(*transform_cols)``), so a tuple produces ONE file per
    commit — the 100 TB deployment picks the spec (days × bucket[N]) so
    that one partition-commit fits a task; a spec too coarse for that is
    a spec bug, not a writer knob.

    ``mode='append'`` requires the previous version's spec to match
    verbatim (Iceberg's spec-evolution is a separate, explicit verb —
    silently mixing layouts would poison pruning) and carries the prior
    files' tuples forward untouched. ``txn`` has write_snapshot's
    idempotent-skip semantics."""
    import uuid

    spec = _normalize_spec(spec)
    for t in spec:
        if t["col"] not in df.columns:
            raise ValueError(f"partition column {t['col']!r} not in frame")
    versions = snapshot_versions(path)
    prev: dict = {}
    if versions:
        prev = _load_manifest(path, versions[-1])
    if txn is not None and txn[1] <= (prev.get("txn") or {}).get(txn[0], -1):
        return versions[-1]
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown snapshot write mode {mode!r}")
    if prev.get("mor") and mode == "append":
        # r13: an OVERWRITE replaces the MOR table's content wholesale
        # (the write_snapshot-on-MOR rule — the fresh manifest carries
        # no chain); an append would dodge delta resolution and stays
        # refused
        raise ValueError(
            "partitioned append into a MOR table: use "
            "upsert_delta_snapshot, or compact_mor before appending"
        )
    df = _admit(df, prev, "write_snapshot_partitioned")
    dtypes = {f.name: f.dataType.simpleString() for f in df.schema}
    new_schema = dict(dtypes)
    append = mode == "append"
    # the block this commit writes under: an append keeps the table's
    # (appending a layout onto an unpartitioned table leaves the existing
    # files without tuples — never pruned); an overwrite starts afresh
    fresh = {"specs": [spec], "current": 0, "values": {}}
    part = (prev.get("partition") or fresh) if append else fresh
    if append:
        if part["specs"][part["current"]] != spec:
            raise ValueError(
                f"append spec {spec} != current committed spec "
                f"{part['specs'][part['current']]} — evolve_partition_spec "
                "first (old files keep their old tuples)"
            )
        for col_name, col_type in (prev.get("schema") or {}).items():
            if new_schema.get(col_name) != col_type:
                raise ValueError(
                    f"snapshot schema evolution must be additive: column "
                    f"{col_name!r} was {col_type}, new commit has "
                    f"{new_schema.get(col_name)!r}"
                )
        reborn = sorted(
            c for c in new_schema
            if c not in (prev.get("schema") or {})
            and c in (prev.get("dropped") or [])
        )
        if reborn:
            raise ValueError(
                f"columns {reborn} reuse DROPPED column names still "
                "present in old files — rewrite before reusing"
            )
    # append keeps a mapped table's ONE physical schema (write with
    # physical names, manifest speaks logical); overwrite materializes
    mapping = (prev.get("column_mapping") or {}) if append else {}
    new_files, values = _write_partitioned_files(
        df, path, spec, part["current"], dtypes, compression, mapping
    )
    return _commit_write(
        path, prev, uuid.uuid4().hex[:12], append, new_schema, new_files,
        stats_cols, txn, fresh, values,
    )


def partition_pruned_files(
    path: str,
    where: dict,
    version: int | None = None,
    spark: SparkSession | None = None,
) -> tuple[list[str], int]:
    """Resolve ``where`` against the manifest's partition tuples and
    return ``(surviving_files, total_files)`` — the planning half of
    :func:`read_snapshot_partitioned`, exposed so callers can assert the
    skip rate. Pure manifest work: no file is listed or opened.

    ``where`` maps SOURCE column -> predicate:
    ``("=", v)`` | ``("in", [v, ...])`` | ``("between", lo, hi)``.
    Ordered transforms (identity / truncate / temporal) prune all three;
    bucket carries no order and prunes only ``=`` / ``in``. A file with
    no recorded tuple, or a None (null / unknown) transform value,
    always survives — pruning degrades, never lies."""
    _, manifest = _snapshot_manifest(path, version)
    files = manifest.get("files", [])
    part = manifest.get("partition")
    if not part:
        return list(files), len(files)
    return _partition_keep(part, files, where, spark), len(files)


def _partition_keep(
    part: dict, rels: list, where: dict,
    spark: SparkSession | None = None,
) -> list[str]:
    """The tuple-admission core of :func:`partition_pruned_files` over
    an ARBITRARY rel list — shared with the MOR read path, which prunes
    base files and each delta group independently (r14)."""
    specs, vals = part["specs"], part.get("values") or {}

    def _tests_for(spec):
        # predicate -> per-spec-slot admission test on the stored value
        out = []  # list of (slot index, callable(stored_value) -> bool)
        for col, pred in where.items():
            op = pred[0]
            for i, t in enumerate(spec):
                if t["col"] != col:
                    continue
                if op == "=":
                    tv = _transform_literal(t, pred[1], spark)
                    out.append((i, lambda s, tv=tv: s == tv))
                elif op == "in":
                    tvs = {_transform_literal(t, x, spark) for x in pred[1]}
                    out.append((i, lambda s, tvs=tvs: s in tvs))
                elif op == "between":
                    if t["transform"] == "bucket":
                        continue  # buckets are orderless: no range pruning
                    lo = _transform_literal(t, pred[1], spark)
                    hi = _transform_literal(t, pred[2], spark)
                    out.append((i, lambda s, lo=lo, hi=hi: lo <= s <= hi))
                else:
                    raise ValueError(
                        f"unknown partition predicate {pred!r}"
                    )
        return out

    # spec EVOLUTION means different files carry tuples under different
    # specs — each file is judged by the spec it was WRITTEN under
    # (Iceberg's per-manifest spec id), so an evolved table prunes old
    # and new files each as well as their own layout allows
    tests_by_sid: dict[int, list] = {}
    keep = []
    for rel in rels:
        entry = vals.get(rel)
        if entry is None:
            keep.append(rel)
            continue
        sid, tup = entry
        if sid not in tests_by_sid:
            tests_by_sid[sid] = _tests_for(specs[sid])
        ok = True
        for i, test in tests_by_sid[sid]:
            s = tup[i]
            if s is None:
                continue  # unknown at write time: cannot prune
            if not test(s):
                ok = False
                break
        if ok:
            keep.append(rel)
    return keep


def _where_expr(where: dict):
    """The exact ROW-level filter for a partition ``where`` dict — applied
    on top of the pruned scan so the result equals
    ``read_snapshot(...).filter(...)`` regardless of transform
    granularity (days() keeps whole days; the row filter trims them)."""
    from pyspark.sql import functions as F

    expr = F.lit(True)
    for col, pred in where.items():
        c = F.col(col)
        if pred[0] == "=":
            expr = expr & (c == F.lit(pred[1]))
        elif pred[0] == "in":
            expr = expr & c.isin(list(pred[1]))
        elif pred[0] == "between":
            expr = expr & c.between(F.lit(pred[1]), F.lit(pred[2]))
        else:
            raise ValueError(f"unknown partition predicate {pred!r}")
    return expr


def read_snapshot_partitioned(
    spark: SparkSession,
    path: str,
    where: dict | None = None,
    version: int | None = None,
    tag: str | None = None,
    asof: float | None = None,
) -> DataFrame:
    """Snapshot read with HIDDEN-PARTITION pruning: map each ``where``
    predicate (on SOURCE columns) through the committed partition spec,
    drop every file whose transform tuple cannot satisfy it, then apply
    the same predicate row-level — semantics are exactly
    ``read_snapshot(...).filter(where)``, the pruning only removes IO.
    On a table without a partition block (or with none matching the
    predicate columns) this degrades to read-then-filter. DV deletes on
    surviving files are honored (the pruned manifest keeps their
    vectors). On a MOR table base files and every delta group are
    pruned by tuple before latest-wins resolution when the predicate's
    spec sources are key columns, and resolve-then-filter otherwise
    (:func:`_scoped_read`)."""
    _, man = _snapshot_manifest(path, version, tag, asof)
    return _scoped_read(spark, path, man, partition_where=where).filter(
        _where_expr(where or {})
    )


# ---------------------------------------------------------------------------
# Metadata tables — the table format ABOUT itself, as DataFrames
# (Delta's DESCRIBE HISTORY / Iceberg's <table>.snapshots & .files).
# Everything is DERIVED from the committed manifests at read time — no
# recorded "operation" field to drift from the truth; the kind labels are
# classify_transition's shape tests, the same dispatch the change feed
# trusts. Driver-side cost is O(retained versions) JSON reads — manifest
# planning scale, no data pages.
# ---------------------------------------------------------------------------


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """One row per RETAINED version, ascending — the audit surface ops
    tooling greps before trusting a table: what kind of commit each
    version was (``initial`` / ``append`` / ``dv`` / ``mor`` / ``noop``
    / ``rewrite``, classified against the previous retained version —
    after a vacuum the label describes the surviving RANGE, and
    ``base_version`` says what it was classified against), how the live
    file set moved, and the commit instant. Columns: ``version``,
    ``committed_at`` (double unix seconds), ``kind``, ``base_version``,
    ``n_files``, ``n_added``, ``n_removed``, ``n_dv_files``,
    ``n_mor_groups``, ``n_columns``."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path!r}")
    rows = []
    prev_files: set[str] = set()
    base = 0
    for v in versions:
        m = _load_manifest(path, v)
        kind = classify_transition(path, base, v)["kind"]
        files = set(m.get("files") or [])
        rows.append(
            (
                v,
                float(m.get("committed_at") or 0.0),
                kind,
                base,
                len(files),
                len(files - prev_files),
                len(prev_files - files),
                len(m.get("dv") or {}),
                len((m.get("mor") or {}).get("deltas", [])),
                len(m.get("schema") or {}),
            )
        )
        prev_files, base = files, v
    return spark.createDataFrame(
        rows,
        "version int, committed_at double, kind string, base_version int, "
        "n_files long, n_added long, n_removed long, n_dv_files long, "
        "n_mor_groups long, n_columns long",
    )


def table_files(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """One row per data file of a version (latest by default) — the
    planning view (Iceberg's ``.files``): where each file sits, its
    byte size, its partition tuple under the committed spec, how many
    positions its deletion vector masks, and its recorded min/max stats
    (JSON, keyed by column — stats are per-column heterogeneous, so a
    string column keeps the schema flat). MOR delta files appear with
    their commit-ordinal ``mor_group`` (base files carry NULL), so the
    row set is the COMPLETE physical footprint of the version. Columns:
    ``file``, ``bytes``, ``partition`` (array<string>, NULL when
    unpartitioned), ``n_dv_deletes``, ``mor_group``, ``stats_json``."""
    import json
    import os

    _, m = _snapshot_manifest(path, version)
    dv_map = m.get("dv") or {}
    stats = m.get("stats") or {}
    pvals = (m.get("partition") or {}).get("values") or {}
    listing: list[tuple[str, int | None]] = [
        (rel, None) for rel in (m.get("files") or [])
    ]
    for gi, grp in enumerate((m.get("mor") or {}).get("deltas", [])):
        listing.extend((rel, gi) for rel in grp)
    rows = []
    for rel, gi in listing:
        entry = pvals.get(rel)
        tup = entry[1] if entry is not None else None
        dv_rel = dv_map.get(rel)
        rows.append(
            (
                rel,
                os.path.getsize(os.path.join(path, rel)),
                None if tup is None else [
                    None if x is None else str(x) for x in tup
                ],
                _dv_count(os.path.join(path, dv_rel)) if dv_rel else 0,
                gi,
                json.dumps(stats.get(rel), sort_keys=True)
                if rel in stats else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "file string, bytes long, partition array<string>, "
        "n_dv_deletes long, mor_group int, stats_json string",
    )


def _carry_partition(
    man: dict, manifest: dict, new_files, new_values: dict | None = None
) -> None:
    """Carry a partition block through a DML commit: files that survive
    keep their recorded tuples; files this commit WROTE take their tuple
    from ``new_values`` (``{rel: [sid, tuple]}`` — the DML rewrite
    routed through the hive writer, r11 verdict #2) or map to None
    (= never pruned) when the rewrite didn't partition-cluster — pruning
    degrades on that fraction, never lies. Called by
    :func:`_replace_files` for every file-replacing commit (DML and
    every maintenance rewrite, :func:`optimize_snapshot` included) and
    every append (:func:`write_snapshot`,
    :func:`write_snapshot_partitioned`, :func:`write_snapshot_to_branch`);
    the partition block is the one policy carried this way, because its
    tuples follow the files. An overwrite writes its own block: a fresh
    one from :func:`write_snapshot_partitioned`, none from
    :func:`write_snapshot`."""
    part = man.get("partition")
    if not part:
        return
    vals = part.get("values") or {}
    new = set(new_files)
    nv = new_values or {}
    manifest["partition"] = {
        **{k: part[k] for k in part if k != "values"},
        "values": {
            rel: (nv.get(rel) if rel in new else vals.get(rel))
            for rel in manifest["files"]
        },
    }


def _route_rewrite(
    df_logical: DataFrame,
    path: str,
    man: dict,
    token: str,
    compression: str,
    mapping: dict | None = None,
    max_records_per_file: int | None = None,
) -> tuple[list[str], dict | None]:
    """Land a DML or maintenance rewrite's rows and return ``(new rel
    paths, {rel: [sid, tuple]} | None)``. On a hidden-partitioned table the
    rows route through the hive writer under the CURRENT spec, so the
    rewritten files come out with REAL partition tuples and pruning
    holds immediately after DML (r11 verdict #2 — the transforms are
    derivable from source columns, hidden partitioning's whole point;
    pre-r12 these files carried None tuples until an
    optimize_partitions repair pass). Unpartitioned tables take the
    plain single-directory write. ``df_logical`` speaks logical names;
    ``mapping`` renames to the table's physical schema at write;
    ``max_records_per_file`` caps the hive writer's files."""
    import glob
    import os

    part = man.get("partition")
    if part and part.get("specs"):
        spec = part["specs"][part["current"]]
        dtypes = {
            f.name: f.dataType.simpleString() for f in df_logical.schema
        }
        return _write_partitioned_files(
            df_logical, path, spec, part["current"], dtypes, compression,
            mapping, max_records_per_file,
        )
    out = (
        df_logical.withColumnsRenamed(mapping) if mapping else df_logical
    )
    data_dir = os.path.join(path, "data", token)
    (out.write.mode("error").option("compression", compression)
     .parquet(data_dir))
    new_files = sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
    )
    return new_files, None


# ---------------------------------------------------------------------------
# CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT shape): named SQL
# predicates recorded in the manifest and enforced on every verb that
# writes NEW rows (write/append, partitioned write, MOR delta, UPDATE,
# MERGE, WAP stage). SQL CHECK semantics: a row VIOLATES only when the
# expression evaluates to FALSE — NULL passes. The invariant is
# "all committed data satisfies all committed constraints": adding a
# constraint validates the existing table first (one aggregate), and
# rewrite verbs need only check the rows they WRITE (surviving files were
# valid when committed). The map is a table policy: every manifest
# builder carries it (_policies), so optimize/compact can never silently
# shed it, and _admit checks it together with the generated columns.
# ---------------------------------------------------------------------------


def list_check_constraints(path: str) -> dict[str, str]:
    """The latest version's ``{name: sql_expr}`` constraint map (empty if
    the table has none or doesn't exist yet)."""
    versions = snapshot_versions(path)
    if not versions:
        return {}
    return dict(_load_manifest(path, versions[-1]).get("constraints") or {})


def add_check_constraint(
    spark: SparkSession, path: str, name: str, expr_sql: str
) -> int:
    """Record CHECK constraint ``name: expr_sql`` as a metadata-only
    commit — after validating that the EXISTING table already satisfies
    it (Delta's contract: ADD CONSTRAINT scans once and refuses
    otherwise, so the invariant 'committed data is valid' holds from the
    moment the constraint exists). Every subsequent row-writing verb
    enforces it on the rows it writes. Returns the new version."""
    _, man = _snapshot_manifest(path)
    cons = dict(man.get("constraints") or {})
    if name in cons:
        raise ValueError(
            f"constraint {name!r} already exists ({cons[name]!r}) — "
            "drop_check_constraint first"
        )
    _admit(
        _manifest_df(spark, path, man), {"constraints": {name: expr_sql}},
        f"add_check_constraint({name!r}) on existing data",
    )
    import uuid

    cons[name] = expr_sql
    manifest = {k: v for k, v in man.items()}
    manifest["constraints"] = cons
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


def drop_check_constraint(path: str, name: str) -> int:
    """Remove constraint ``name`` with a metadata-only commit; the map
    is recorded explicitly (empty included). Returns the new
    version."""
    _, man = _snapshot_manifest(path)
    cons = dict(man.get("constraints") or {})
    if name not in cons:
        raise ValueError(
            f"no constraint {name!r} (have {sorted(cons)})"
        )
    del cons[name]
    import uuid

    manifest = {k: v for k, v in man.items()}
    manifest["constraints"] = cons
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


def evolve_partition_spec(path: str, new_spec) -> int:
    """Change the partition spec NEW writes use — a metadata-only commit
    (Iceberg's partition spec evolution): no file moves, no tuple is
    recomputed. Old files keep the tuples of the spec they were written
    under and keep pruning by it; files written after this commit carry
    the new spec's tuples — :func:`partition_pruned_files` judges every
    file by its own spec id. Re-evolving to a spec the table used before
    reuses that spec's id. Also legal on an UNPARTITIONED table: existing
    files get no tuples (never pruned) and appends from then on are
    partitioned. Returns the new version."""
    head, man = _snapshot_manifest(path)
    new_spec = _normalize_spec(new_spec)
    if man.get("mor"):
        # r14 (r13 verdict #2): a MOR table takes a partition spec as
        # long as every source column is a MOR KEY column — a key's
        # tuple is then constant across all its commits, which is what
        # makes partition-pruned latest-wins resolution (and the
        # partition-scoped chain fold) sound. Existing base and chain
        # files simply carry no tuples (never pruned) until rewritten.
        keys = man["mor"]["key_cols"]
        bad = sorted(
            t["col"] for t in new_spec if t["col"] not in keys
        )
        if bad:
            raise ValueError(
                f"partition spec on a MOR table must transform KEY "
                f"columns only — {bad} are not in {keys} (a non-key "
                "value can change between commits of one key, making "
                "partition-pruned resolution unsound)"
            )
    schema = man.get("schema") or {}
    for t in new_spec:
        if t["col"] not in schema:
            raise ValueError(
                f"partition column {t['col']!r} not in committed schema "
                f"{sorted(schema)}"
            )
    part = man.get("partition") or {"specs": [], "values": {}}
    specs = list(part.get("specs") or [])
    if new_spec in specs:
        cur = specs.index(new_spec)
    else:
        specs.append(new_spec)
        cur = len(specs) - 1
    if part.get("current") == cur and part.get("specs"):
        return head  # already current: nothing to commit
    import uuid

    manifest = {k: v for k, v in man.items()}
    manifest["partition"] = {
        "specs": specs,
        "current": cur,
        "values": dict(part.get("values") or {}),
    }
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


# ---------------------------------------------------------------------------
# Column mapping — RENAME COLUMN without rewriting a byte (Delta's
# column-mapping shape, reduced to the name layer): the manifest carries
# {"column_mapping": {logical: physical}} where PHYSICAL is the name
# inside the parquet files and LOGICAL is what every reader sees. A
# rename is a metadata-only commit that also re-keys the manifest's own
# references (schema, per-file stats, partition-spec columns), so the
# whole metadata plane speaks logical names and only the file bytes stay
# physical. Readers translate physical->logical in _manifest_df (one
# projection, codegen'd). EVERY writing verb keeps the table's ONE
# physical schema (r11 verdict #1 — rename stays metadata-only forever,
# Delta column-mapping parity): appends and DML rewrites scan logical
# (predicates/assignments/constraints speak logical names via
# _scan_with_pos(mapping=...)) and rename logical->physical just before
# the write; stats harvest physical and store logical (_stats_logical);
# the mapping rides every commit (MERGE included — its r12 file-skipping
# rewrite goes through the same logical-scan/physical-write path, and so
# do the maintenance rewrites). Full overwrites (write_snapshot
# overwrite, materialize_column_mapping) read logical and write logical,
# which MATERIALIZES the rename and clears the map. r13: MOR tables map
# natively too — base files and every delta group share the table's ONE
# physical schema, deltas arrive logical and write physical, _resolve_mor
# reads physical / emits logical, and rename_column re-keys the mor
# block's key/seq names.
# ---------------------------------------------------------------------------


def _apply_mapping(df: DataFrame, mapping: dict | None) -> DataFrame:
    """physical -> logical rename on a freshly-scanned frame."""
    if not mapping:
        return df
    return df.withColumnsRenamed(
        {phys: log for log, phys in mapping.items()}
    )


def rename_column(path: str, old: str, new: str) -> int:
    """Rename ``old`` to ``new`` as a METADATA-ONLY commit: no file is
    read or written. The manifest's schema / stats / partition-spec
    references re-key to the new logical name and the column_mapping
    records logical->physical so reads translate on the fly — on MOR
    tables too (r13): base files and delta groups share the table's one
    physical schema, the mor block's key/seq references re-key with the
    schema. Refuses: a column referenced by a CHECK constraint (the
    stored SQL would silently break — Delta refuses the same), and a
    new name colliding with any live logical or physical name. Returns
    the new version."""
    import re as _re
    import uuid

    _, man = _snapshot_manifest(path)
    schema = dict(man.get("schema") or {})
    if old not in schema:
        raise ValueError(f"no column {old!r} (have {sorted(schema)})")
    mapping = dict(man.get("column_mapping") or {})
    # colliding with another column's logical or physical name is
    # refused; the renamed column's OWN physical name is fine (that's a
    # rename-back, which clears its map entry)
    physicals = {mapping.get(c, c) for c in schema if c != old}
    if new in schema or new in physicals:
        raise ValueError(
            f"column {new!r} collides with a live logical or physical "
            "name"
        )
    _check_reserved([new], ("_fname", "_pos", "_ci", "_rn", MOR_OP_COL))
    for cname, expr in (man.get("constraints") or {}).items():
        if _re.search(rf"\b{_re.escape(old)}\b", expr):
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint "
                f"{cname!r} ({expr}) — drop the constraint first"
            )
    for gcol, expr in (man.get("generated") or {}).items():
        if gcol == old or _re.search(rf"\b{_re.escape(old)}\b", expr):
            raise ValueError(
                f"column {old!r} is part of generated column "
                f"{gcol!r} ({expr}) — drop_generated_column first"
            )
    # chain-collapse: the physical name is wherever the data actually is
    mapping[new] = mapping.pop(old, old)
    if mapping[new] == new:
        del mapping[new]  # renamed back to its physical name
    manifest = {k: v for k, v in man.items()}
    manifest["schema"] = {
        (new if c == old else c): t for c, t in schema.items()
    }
    manifest["column_mapping"] = mapping
    if man.get("stats"):
        manifest["stats"] = {
            rel: {(new if c == old else c): v for c, v in per.items()}
            for rel, per in man["stats"].items()
        }
    if man.get("partition"):
        part = man["partition"]
        manifest["partition"] = {
            **part,
            "specs": [
                [
                    {**t, "col": (new if t["col"] == old else t["col"])}
                    for t in spec
                ]
                for spec in part["specs"]
            ],
        }
    if man.get("mor"):
        # r13 (r12 verdict #3): rename stays metadata-only on MOR too —
        # base files AND delta groups share the table's ONE physical
        # schema, so the same logical->physical map translates every
        # commit group; the mor block's key/seq references are LOGICAL
        # and re-key with the schema (upsert callers speak logical)
        mor = man["mor"]
        manifest["mor"] = {
            **mor,
            "key_cols": [
                (new if c == old else c) for c in mor["key_cols"]
            ],
            "seq_col": new if mor["seq_col"] == old else mor["seq_col"],
        }
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


def column_mapping(path: str) -> dict[str, str]:
    """The latest version's ``{logical: physical}`` map (empty when every
    column's file name matches its logical name)."""
    versions = snapshot_versions(path)
    if not versions:
        return {}
    return dict(
        _load_manifest(path, versions[-1]).get("column_mapping") or {}
    )


def materialize_column_mapping(spark: SparkSession, path: str) -> int:
    """Rewrite the table once with logical file names and clear the map
    — the verb that re-admits the partial-rewrite DML suite. A full
    rewrite of the head it read (re-validating nothing: the rows are
    unchanged); clearing the map changes every file's column names, so
    no racing commit can be rebased onto it — a lost race raises
    :class:`ConcurrentCommitError`."""
    import uuid

    man, _, _ = _dml_head(path, None)
    df = _manifest_df(spark, path, man)
    token = uuid.uuid4().hex[:12]
    new_files, _ = _route_rewrite(df, path, {}, token, PARQUET_CODEC)
    schema = {f.name: f.dataType.simpleString() for f in df.schema}
    return _commit_write(
        path, man, token, False, schema, new_files, rebase=False
    )


# ---------------------------------------------------------------------------
# Schema evolution beyond additive (r11 verdict #6): TYPE WIDENING and
# DROP COLUMN as metadata-only commits. The committed schema is the
# authority; when it diverges from the file footers (wider types, or
# columns the files still carry but the schema no longer names), every
# reader FORCES the scan schema (spark.read.schema(...) — the Spark 4
# vectorized parquet reader upcasts int32->bigint / float->double in the
# scan, and omitted columns are never read; see _phys_schema). Rewrite
# verbs then materialize the evolution file-by-file as they touch data,
# and a full overwrite clears the markers.
# ---------------------------------------------------------------------------

#: published-safe widenings (the Iceberg/Delta type-promotion lattice
#: restricted to what parquet's physical types re-read losslessly)
_WIDENINGS = {
    "tinyint": ("smallint", "int", "bigint"),
    "smallint": ("int", "bigint"),
    "int": ("bigint",),
    "float": ("double",),
}


def widen_column_type(path: str, col: str, new_type: str) -> int:
    """Widen ``col``'s committed type (int->long, float->double, ...) as
    a METADATA-ONLY commit: no file is read or written; readers upcast
    in the parquet scan from this version on, writers must supply the
    widened type (the additive-evolution check now speaks it), and any
    rewrite materializes it. Narrowing and non-numeric changes refuse —
    they would corrupt values silently. Returns the new version."""
    import uuid

    head, man = _snapshot_manifest(path)
    schema = dict(man.get("schema") or {})
    if col not in schema:
        raise ValueError(f"no column {col!r} (have {sorted(schema)})")
    cur = schema[col]
    if new_type == cur:
        return head  # already that type: nothing to commit
    if new_type not in _WIDENINGS.get(cur, ()):
        lattice = ", ".join(
            "{}->{}".format(k, "/".join(v))
            for k, v in sorted(_WIDENINGS.items())
        )
        raise ValueError(
            f"cannot change column {col!r} from {cur} to {new_type}: "
            f"only widenings are metadata-safe ({lattice}); a "
            "narrowing/retype needs a deliberate rewrite "
            "(enforce_schema=False)"
        )
    mapping = man.get("column_mapping") or {}
    manifest = {k: v for k, v in man.items()}
    manifest["schema"] = {
        c: (new_type if c == col else t) for c, t in schema.items()
    }
    widened = dict(man.get("widened") or {})
    widened[mapping.get(col, col)] = new_type  # keyed PHYSICAL: stable
    # across renames, which only move the logical layer
    manifest["widened"] = widened
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


def drop_column(path: str, col: str) -> int:
    """DROP COLUMN as a METADATA-ONLY commit (the mapping-layer
    tombstone): the column leaves the logical schema — every reader
    stops projecting it — while the file bytes stay untouched until
    rewrites shed them naturally. The PHYSICAL name is recorded as
    dropped so an append cannot re-introduce a same-named column whose
    old-file bytes would silently resurrect (Delta needs id-based
    mapping for safe reuse; here the overwrite that clears the
    tombstone is the re-admission point). Refuses: the last column, a
    column in the CURRENT partition spec, one referenced by a CHECK
    constraint or generated column, and MOR tables. Returns the new
    version."""
    import re as _re
    import uuid

    _, man = _snapshot_manifest(path)
    if man.get("mor"):
        mor = man["mor"]
        if col in mor["key_cols"] or col == mor["seq_col"]:
            raise ValueError(
                f"column {col!r} is the MOR table's key/seq — the delta "
                "chain resolves by it; compact_mor before dropping"
            )
    schema = dict(man.get("schema") or {})
    if col not in schema:
        raise ValueError(f"no column {col!r} (have {sorted(schema)})")
    if len(schema) == 1:
        raise ValueError("cannot drop the last column")
    part = man.get("partition") or {}
    if part.get("specs"):
        cur_spec = part["specs"][part["current"]]
        if any(t["col"] == col for t in cur_spec):
            raise ValueError(
                f"column {col!r} is in the current partition spec — "
                "evolve_partition_spec away from it first"
            )
    for cname, expr in (man.get("constraints") or {}).items():
        if _re.search(rf"\b{_re.escape(col)}\b", expr):
            raise ValueError(
                f"column {col!r} is referenced by CHECK constraint "
                f"{cname!r} ({expr}) — drop the constraint first"
            )
    for gcol, expr in (man.get("generated") or {}).items():
        if gcol == col or _re.search(rf"\b{_re.escape(col)}\b", expr):
            raise ValueError(
                f"column {col!r} is part of generated column {gcol!r} "
                f"({expr}) — drop_generated_column first"
            )
    mapping = dict(man.get("column_mapping") or {})
    phys = mapping.pop(col, col)
    manifest = {k: v for k, v in man.items()}
    manifest["schema"] = {c: t for c, t in schema.items() if c != col}
    manifest["column_mapping"] = mapping
    dropped = list(man.get("dropped") or [])
    if phys not in dropped:
        dropped.append(phys)
    manifest["dropped"] = dropped
    widened = dict(man.get("widened") or {})
    widened.pop(phys, None)
    manifest["widened"] = widened
    if man.get("stats"):
        manifest["stats"] = {
            rel: {c: v for c, v in per.items() if c != col}
            for rel, per in man["stats"].items()
        }
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


def _write_partitioned_files(
    df: DataFrame,
    path: str,
    spec: list[dict],
    sid: int,
    dtypes: dict[str, str],
    compression: str,
    mapping: dict | None = None,
    max_records_per_file: int | None = None,
) -> tuple[list[str], dict[str, list]]:
    """Write ``df`` hive-laid-out under ``spec`` into a fresh
    ``data/<token>/`` and return ``(sorted new rel paths, {rel: [sid,
    tuple]})`` — the shared physical half of
    :func:`write_snapshot_partitioned` and the rewrite routers
    (:func:`_route_rewrite`, :func:`_write_delta_group_routed`). Nothing
    is committed: the caller owns the manifest. ``df`` and ``spec``
    speak LOGICAL names; ``mapping``
    (logical->physical) renames the data columns just before the write
    so a column-mapped table's files keep its one physical schema."""
    import glob
    import os
    import shutil
    import urllib.parse
    import uuid

    pcols = [f"_p{i}" for i in range(len(spec))]
    out = df
    for name, t in zip(pcols, spec):
        out = out.withColumn(name, _transform_expr(t, dtypes[t["col"]]))
    if mapping:
        out = out.withColumnsRenamed(mapping)
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, "data", token)
    # EXPLICIT width (the session's tuned shuffle width): a bare
    # repartition(*pcols) is an AQE-coalescible exchange, and with
    # size-first coalescing a small commit collapses to ONE task that
    # writes every partition directory SEQUENTIALLY — per-file writer
    # setup serializes (measured 1.64s -> 1.03s for a 60-dir commit).
    # An explicit numPartitions pins the exchange (AQE leaves it alone):
    # tuples hash across the session's shuffle width, each tuple still
    # lands wholly in one task (one file per tuple per commit), and
    # file creation runs in parallel. Empty tasks write nothing.
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    w = (
        out.repartition(width, *pcols)
        .write.mode("error")
        .option("compression", compression)
    )
    if max_records_per_file is not None:
        # write_sharded's monster-file defense, wired into the hive
        # writer (r13, r12 verdict #6): a hot partition's fold splits
        # at the row cap instead of producing one unbounded file
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.partitionBy(*pcols).parquet(data_dir)
    int_kinds = [_spec_value_is_int(t, dtypes[t["col"]]) for t in spec]
    values: dict[str, list] = {}
    new_files = []
    for seq, p in enumerate(
        sorted(
            glob.glob(
                os.path.join(data_dir, "**", "*.parquet"), recursive=True
            )
        )
    ):
        # one writer TASK can emit several partition dirs (AQE coalesces
        # tiny shuffles), giving the SAME part-file basename in each —
        # but the DV layer keys row identity on basename (sidecars are
        # <basename>.dv). Re-name to a commit-unique basename before the
        # manifest commit; files are not yet referenced by anything.
        uniq = os.path.join(
            os.path.dirname(p), f"t{seq:05d}-{os.path.basename(p)}"
        )
        os.rename(p, uniq)
        rel = os.path.relpath(uniq, path)
        tup: list = [None] * len(spec)
        for seg in rel.split(os.sep):
            if "=" not in seg:
                continue
            k, _, raw = seg.partition("=")
            if k in pcols:
                i = pcols.index(k)
                if raw == _HIVE_NULL:
                    tup[i] = None
                else:
                    decoded = urllib.parse.unquote(raw)
                    tup[i] = int(decoded) if int_kinds[i] else decoded
        new_files.append(rel)
        values[rel] = [sid, tup]
    if not new_files:
        # an empty frame writes only _SUCCESS: leave no directory behind
        shutil.rmtree(data_dir, ignore_errors=True)
    new_files.sort()
    return new_files, values


def optimize_partitions(
    spark: SparkSession,
    path: str,
    where: dict,
    compression: str = PARQUET_CODEC,
    target_file_bytes: int | None = 128 << 20,
    minor: bool = False,
) -> dict:
    """Partition-scoped OPTIMIZE (Delta's ``OPTIMIZE t WHERE ...`` — the
    maintenance shape that actually runs at 100 TB, where a full-table
    rewrite is never on the table): rewrite ONLY the files whose
    partition tuples match ``where`` (same predicate language as
    :func:`read_snapshot_partitioned`), folding each touched partition's
    small files into one file per tuple and MATERIALIZING any deletion
    vectors they carried; every other file carries into the new version
    untouched, tuples, stats and DVs intact. Files with no recorded
    tuple (DML rewrites, pre-partitioning appends) are conservatively
    INCLUDED in the rewrite and come out with real tuples under the
    current spec — so this verb doubles as the repair that restores full
    pruning after a COW delete/update degraded part of the table.

    One distributed job regardless of how many partitions match: the
    transform columns are recomputed from the SOURCE columns (the spec
    is derivable, that's the point of hidden partitioning) and the
    rewrite routes through the same hive writer as the partitioned
    commit. ``target_file_bytes`` (r13, r12 verdict #6) bounds the fold:
    the rows-per-file cap is derived from the matched files' observed
    bytes/row, so a HOT partition splits into ~target-sized files
    instead of one monster a single reader must chew through at 100x
    scale (``None`` restores the one-file-per-tuple fold). Returns
    ``{"version", "files_rewritten", "files_kept",
    "partitions_matched"}``; a no-match call commits nothing.

    On a MOR table (r14, r13 verdict #4: folding one hot partition of a
    100 TB CDC table must not mean compacting everything) the matched
    partitions' base and delta files fold: ``minor=False`` (default)
    resolves latest-wins over exactly them, drops tombstones and writes
    fresh BASE files; ``minor=True`` folds their DELTA files only into
    one group appended at the chain's end, tombstones kept. Unmatched
    files ride through byte-identical, and emptied groups keep their
    commit ranks. SOUNDNESS: the fold's file set must be closed under
    MOR keys — otherwise a loser row left in the chain would outrank the
    folded winner. Spec sources are KEY columns (a key's tuple is
    constant across its commits) and every live file must carry a REAL
    tuple (refused otherwise; a full :func:`compact_mor` repairs
    pre-partitioning history), so a key has all of its rows in
    tuple-equal files and per-partition resolution equals global
    resolution restricted to the partition."""
    man, head, _ = _dml_head(path, None)
    mor = man.get("mor")
    part = man.get("partition")
    if mor:
        if not part or not part.get("specs"):
            raise ValueError(
                "MOR table has no partition spec — compact_mor folds the "
                "whole chain"
            )
        spec = part["specs"][part["current"]]
        bad = sorted(
            t["col"] for t in spec if t["col"] not in mor["key_cols"]
        )
        if bad:
            raise ValueError(
                f"partition-scoped MOR optimize needs a key-column spec — "
                f"{bad} are not in {mor['key_cols']} (fold closure fails)"
            )
        vals = part.get("values") or {}
        live = man["files"] + [rel for grp in mor["deltas"] for rel in grp]
        untupled = [rel for rel in live if vals.get(rel) is None]
        if untupled:
            raise ValueError(
                f"partition-scoped MOR optimize needs a partition tuple on "
                f"every live file — {len(untupled)} file(s) predate the "
                "layout (the matched set must be key-closed to fold "
                "soundly); run compact_mor (full) once to repair"
            )
        base = _partition_keep(part, man["files"], where, spark)
        groups = [
            _partition_keep(part, grp, where, spark) for grp in mor["deltas"]
        ]
        matched = base + [rel for grp in groups for rel in grp]
        base = [] if minor else base

        def tuples(n, _):
            return {"partitions_matched": len(
                {tuple(vals[rel][1]) for rel in matched}
            ) if n else 0}
    else:
        if minor:
            raise ValueError(
                "minor=True folds a MOR delta chain — this table has none"
            )
        if not part:
            raise ValueError(
                "table has no partition spec — use optimize_snapshot / "
                "compact_small_files_snapshot for unpartitioned layouts"
            )
        base, groups = _partition_keep(part, man["files"], where, spark), None

        def tuples(_, new_values):
            return {"partitions_matched": len(
                {tuple(v[1]) for v in new_values.values()}
            )}

    return _maintain(
        spark, path, man, head, base, groups=groups, minor=minor,
        compression=compression, target_bytes=target_file_bytes,
        extra=tuples,
    )


# ---------------------------------------------------------------------------
# Generated columns (Delta's GENERATED ALWAYS AS shape): a column
# declared equal to an expression over the row's other columns. Writers
# may OMIT the column — every row-writing verb computes it — or supply
# it, in which case the verb validates value-equality (null-safe) in the
# same single aggregate pass as CHECK constraints (_admit) and refuses a
# mismatch. The map is a table policy, carried by every manifest builder
# exactly like constraints (_policies).
# ---------------------------------------------------------------------------


def list_generated_columns(path: str) -> dict[str, str]:
    versions = snapshot_versions(path)
    if not versions:
        return {}
    return dict(_load_manifest(path, versions[-1]).get("generated") or {})


def add_generated_column(
    spark: SparkSession, path: str, col: str, expr_sql: str
) -> int:
    """Declare EXISTING column ``col`` as GENERATED ALWAYS AS
    ``expr_sql`` — metadata-only, after validating that the committed
    data already satisfies the equality (the add_check_constraint
    discipline: the invariant holds from the moment it exists). Writers
    may then omit the column (computed) or supply it (validated).
    Returns the new version."""
    _, man = _snapshot_manifest(path)
    schema = man.get("schema") or {}
    if col not in schema:
        raise ValueError(
            f"generated column {col!r} must already exist in the schema "
            f"(have {sorted(schema)}) — declaring adds the contract, "
            "not the column"
        )
    gen = dict(man.get("generated") or {})
    if col in gen:
        raise ValueError(
            f"column {col!r} is already generated ({gen[col]!r})"
        )
    import re as _re

    if _re.search(rf"\b{_re.escape(col)}\b", expr_sql):
        raise ValueError(
            f"generated column {col!r} cannot reference itself"
        )
    _admit(
        _manifest_df(spark, path, man),
        {"generated": {col: expr_sql}, "schema": schema},
        f"add_generated_column({col!r}) on existing data",
    )
    gen[col] = expr_sql
    import uuid

    manifest = {k: v for k, v in man.items()}
    manifest["generated"] = gen
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])


def drop_generated_column(path: str, col: str) -> int:
    """Remove the generated contract on ``col`` (the column stays) with
    a metadata-only commit; the map is recorded explicitly (empty
    included)."""
    _, man = _snapshot_manifest(path)
    gen = dict(man.get("generated") or {})
    if col not in gen:
        raise ValueError(f"no generated column {col!r} (have {sorted(gen)})")
    del gen[col]
    import uuid

    manifest = {k: v for k, v in man.items()}
    manifest["generated"] = gen
    return _commit_manifest(path, manifest, uuid.uuid4().hex[:12])
