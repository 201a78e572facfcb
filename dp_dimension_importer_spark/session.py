"""SparkSession factory.

One place to pin every conf that correctness or scale depends on:

* ``spark.sql.session.timeZone=UTC`` — the DuckDB oracle compares timestamps
  as epoch seconds / dates; a non-UTC session would shift them.
* AQE on (+ coalesce + skew join) — at 100 TB the runtime re-plan is what
  turns a 32-partition dev plan into a sane 1000-executor plan: it coalesces
  tiny post-shuffle partitions, switches sort-merge → broadcast when a side
  turns out small, and splits skewed partitions.
* Arrow on — every Pandas-UDF boundary (similarity, text ops, multimodal)
  pays per-batch serialization; Arrow makes it columnar.
* ``spark.sql.shuffle.partitions`` — small default for local test scale;
  at cluster scale AQE's coalescing makes the initial number far less
  critical, and callers override via ``shuffle_partitions``.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema


def get_spark(
    app_name: str = "dp-dimension-importer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the pinned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by SIZE, not core count
        # (optimization guide §2.2/§6): with the default
        # parallelismFirst=true a kilobyte-sized shuffle still fans out to
        # one task per core, so every small stage pays ~32 task launches
        # and every snapshot commit writes ~32 tiny files that each later
        # read/list must reopen. Size-first coalescing collapses those to
        # a handful of right-sized tasks/files while leaving genuinely
        # large shuffles untouched (coalescing only ever MERGES partitions
        # below the advisory size — a stage whose partitions already
        # exceed it keeps its full width). The advisory size is
        # deployment-tuned: tiny default for the local bench's MB-scale
        # shuffles, 64-256m on a real cluster (SPARK_GRAFT_ADVISORY).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY", "2m"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce the OUTPUT partitioning of cached plans too
        # (off by default): without it every persist() materializes at
        # the full spark.sql.shuffle.partitions width and each cache
        # consumer pays a one-task-per-partition scan — the same tiny-
        # partition tax the size-first coalescing removes for ordinary
        # stages (guide §2.2; persist sites: bloom probe masks, simhash
        # bit sums, connected-components edge cache).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Local mode: shuffle files land on local disk; keep them compressed.
        .config("spark.shuffle.compress", "true")
        # Write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96
        # columns carry NO parquet min/max statistics, so every
        # stats-based skip (row-group pruning, the snapshot layer's
        # manifest stats) silently degrades to scan-everything on
        # timestamp predicates. MICROS restores the stats and is the
        # modern interop default (Arrow/Trino/Iceberg read it natively).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_table(rows: Sequence, schema: T.StructType) -> pa.Table:
    """Rows already on the driver (tuples or ``Row``s, in ``schema``'s
    column order) as an Arrow table of ``schema``'s Arrow types. The
    fields keep ``schema``'s nullability without checking it, so a
    non-nullable column may still hold a NULL, as in Spark."""
    rows = list(rows)
    arrow = to_arrow_schema(schema)
    columns = [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow)]
    return pa.Table.from_arrays(columns, schema=arrow)


def local_frame(spark: SparkSession, rows: Sequence, schema: T.StructType) -> DataFrame:
    """A DataFrame of rows already on the driver, empty or not. Built from
    an Arrow table it is a ``LocalRelation``, which the JVM reads and
    collects by itself; a frame of a Python list (or of an empty pandas
    frame, which ``createDataFrame`` takes without Arrow) is an RDD whose
    every read is a Spark job that runs Python workers."""
    return spark.createDataFrame(arrow_table(rows, schema), schema)
