"""Core import transforms (reference handler, Spark-native).

Two execution shapes, same semantics:

* **Set-based (the scale path)** — the reference decides each instance in
  plain control flow (fetch it, skip it if its node exists, then write its
  dimensions); only the dimension options are bulk data. ``run_import``
  keeps that split: the per-instance facts of a batch (its valid ids, which
  of them already exist, the new instances' rows) are bounded by the batch
  and resolved on the driver as set operations, and every dimension-row
  step is a DataFrame transform: a literal ``isin`` filter to the wanted
  instances, validation filters, node/edge derivation, broadcast code-order
  join, null-aware patch filter. No shuffle decides an instance, and code
  orders cost zero shuffles (broadcast).

* **Batched per-instance (`process_instance_batched`)** — faithful port of
  the reference's chunk loop (handler/incoming_instance_handler.go:140-212):
  dimensions processed in BatchSize chunks, one code-order lookup per
  code list per chunk, ONE patch call per chunk (mongo-lock amortization,
  :269-271 comment), fail-fast on first error (later stages never run —
  the tested contract at incoming_instance_handler_test.go:247-304). Used
  where an external API forces per-call semantics; per-instance dimension
  counts are API-paginated and small, so this is control flow, not data
  plane.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import Future
from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from dp_dimension_importer_spark.pipeline.models import (
    INSTANCE_COMPLETED_SCHEMA,
    INSTANCE_SCHEMA,
)
from dp_dimension_importer_spark.session import local_frame


class ImportError_(Exception):
    """Validation / processing failure (maps to the reference's error
    reporter path, R20)."""


# --------------------------------------------------------------------------
# validation (R3, R6 — handler/incoming_instance_handler.go:100-133)
# --------------------------------------------------------------------------

def validate_events(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split NewInstance events into (valid, rejected): instance_id must be
    non-null and non-empty (client.ErrInstanceIDEmpty)."""
    ok = F.col("instance_id").isNotNull() & (F.col("instance_id") != "")
    return events.filter(ok), events.filter(~ok).withColumn(
        "reason", F.lit("validation error: instance id is required but was empty")
    )


def validate_dimensions(dimensions: DataFrame) -> DataFrame:
    """Reject rows with empty dimension_id (ValidateDimensions,
    handler:120-133). Emptiness of the whole set is checked per-instance in
    the batched path; set-wise, instances with zero dimensions simply
    produce no nodes."""
    return dimensions.filter(
        F.col("dimension_id").isNotNull() & (F.col("dimension_id") != "")
    )


# --------------------------------------------------------------------------
# derivations (R7/R8/R10/R13 — model/models.go:20-52, handler:294-302)
# --------------------------------------------------------------------------

def _replace_up_to_n(col, token, n: int):
    """Go's strings.Replace(s, token, "", n): remove at most n occurrences,
    left to right. Spark's regexp_replace is replace-all, so apply n
    single-occurrence splices."""
    out = col
    for _ in range(n):
        pos = F.instr(out, token)
        out = F.when(
            pos > 0,
            F.concat(
                F.substring(out, 1, pos - 1),
                F.substr(out, pos + F.length(token)),
            ),
        ).otherwise(out)
    return out


def dimension_name(dimension_id, instance_id):
    """R8 (model/models.go:46-52): name = "_" + dimension_id with
    "_<instanceID>_" removed at most twice."""
    return _replace_up_to_n(
        F.concat(F.lit("_"), dimension_id),
        F.concat(F.lit("_"), instance_id, F.lit("_")),
        2,
    )


def build_instance_nodes(instances: DataFrame) -> DataFrame:
    """CreateInstance rows (store/store.go:16): instance node w/ csv_header."""
    return instances.select(
        F.lit("instance").alias("node_kind"),
        "instance_id",
        F.lit(None).cast("string").alias("dimension_name"),
        F.lit(None).cast("string").alias("option"),
        "csv_header",
    )


def build_dimension_nodes(dimensions: DataFrame) -> DataFrame:
    """InsertDimension rows, deduplicated (the reference's shared
    cache+mutex memoization across insert goroutines — store/store.go:20,
    handler:141-142 — collapses to dropDuplicates before write)."""
    return (
        dimensions.select(
            F.lit("dimension").alias("node_kind"),
            "instance_id",
            dimension_name(F.col("dimension_id"), F.col("instance_id")).alias(
                "dimension_name"
            ),
            "option",
            F.lit(None).cast("array<string>").alias("csv_header"),
        )
        .dropDuplicates(["instance_id", "dimension_name", "option"])
    )


def build_edges(dimensions: DataFrame) -> DataFrame:
    """CreateCodeRelationship rows — skipped for the 'time' dimension (the
    reference's explicit data hack, handler:295-302)."""
    return (
        dimensions.filter(F.col("dimension_id") != "time")
        .select(
            "instance_id",
            "code_list_id",
            F.col("option").alias("code"),
        )
        .dropDuplicates()
    )


# --------------------------------------------------------------------------
# enrichment + patch set (R14/R15/R16 — handler:217-280)
# --------------------------------------------------------------------------

def join_code_orders(dimensions: DataFrame, code_lists: DataFrame) -> DataFrame:
    """GetCodesOrder as a broadcast equi-join on (code_list_id, option=code).
    The reference groups codes by code list and round-trips the graph per
    code list (R14+R15); set-wise that whole loop is one join. code_lists
    is a dimension table → broadcast, zero shuffle of the fact side."""
    cl = F.broadcast(
        code_lists.select(
            F.col("code_list_id").alias("_cl_id"),
            F.col("code").alias("_code"),
            F.col("order").alias("order"),
        )
    )
    return dimensions.join(
        cl,
        (F.col("code_list_id") == F.col("_cl_id"))
        & (F.col("option") == F.col("_code")),
        "left",
    ).drop("_cl_id", "_code")


def build_patch_set(enriched: DataFrame, enable_patch_node_id: bool = True) -> DataFrame:
    """OptionUpdate rows (handler:243-267): Name=DimensionID, Option;
    node_id included when non-empty, order when non-null; rows with
    neither are omitted entirely (test :830-889)."""
    node_id = F.col("node_id") if enable_patch_node_id else F.lit("")
    has_node = node_id.isNotNull() & (node_id != "")
    has_order = F.col("order").isNotNull()
    return (
        enriched.filter(has_node | has_order)
        .select(
            "instance_id",
            F.col("dimension_id").alias("name"),
            "option",
            F.when(has_node, node_id).alias("node_id"),
            "order",
        )
    )


# --------------------------------------------------------------------------
# set-based end-to-end batch
# --------------------------------------------------------------------------

#: Stage name of the job that materializes ``run_import``'s dimension base.
BASE_CALL_SITE = "dimension base at run_import"


def _in_background(
    spark: SparkSession, fn: Callable[[], object], call_site: str
) -> Future:
    """``fn()`` in an ``InheritableThread``, as a future. The thread takes
    the caller's Spark local properties, its job group among them, so the
    jobs it runs count where the caller's do; a plain thread would drop
    them. Its stages are named ``call_site``: an action started from a
    thread gets no Python call site of its own."""
    done: Future = Future()

    def target() -> None:
        try:
            spark.sparkContext.setLocalProperty("callSite.short", call_site)
            done.set_result(fn())
        except BaseException as e:  # handed to whoever waits on the future
            done.set_exception(e)

    InheritableThread(target=target, daemon=True).start()
    return done


@dataclass
class ImportResult:
    """One batch's import: the instance-level facts, resolved on the driver,
    and one persisted base. ``base`` (the wanted instances' validated
    dimensions joined to code orders) is the only plan that fetches
    dimensions; ``run_import`` materializes it, and ``enriched``, its rows
    of the new instances, feeds every dimension-row sink input as a cheap
    projection, so every sink reads the batch's dimensions from the cache.
    The result owns the base: ``release`` unpersists it.
    ``dimension_rows`` counts ``enriched``. ``new_instances`` and
    ``completed`` are local frames of rows already on the driver
    (``local_frame``)."""

    decoded: int  # decoded events, at most one per message
    new_ids: list[str]
    skipped_ids: list[str]
    new_instances: DataFrame
    completed: DataFrame  # InstanceCompleted per new instance (R19)
    enriched: DataFrame
    dimension_rows: int
    rejected_events: DataFrame
    base: DataFrame | None = None  # persisted; None when nothing was wanted
    enable_patch_node_id: bool = True

    def release(self) -> None:
        """Unpersist the base; the result's frames stay readable, uncached."""
        if self.base is not None:
            self.base.unpersist()

    @property
    def skipped_instances(self) -> DataFrame:
        return local_frame(
            self.enriched.sparkSession,
            [(i,) for i in self.skipped_ids],
            T.StructType([T.StructField("instance_id", T.StringType())]),
        )

    @property
    def instance_nodes(self) -> DataFrame:
        return build_instance_nodes(self.new_instances)

    @property
    def dimension_nodes(self) -> DataFrame:
        return build_dimension_nodes(self.enriched)

    @property
    def edges(self) -> DataFrame:
        return build_edges(self.enriched)

    @property
    def patches(self) -> DataFrame:
        return build_patch_set(self.enriched, self.enable_patch_node_id)


def run_import(
    events: DataFrame,
    instances: DataFrame,
    dimensions: DataFrame,
    code_lists: DataFrame,
    existing_nodes: DataFrame | Callable[[list[str]], DataFrame],
    enable_patch_node_id: bool = True,
) -> ImportResult:
    """The reference handler for one batch. Its instance gate runs on the
    driver over bounded collects, in this order:

    1. the decoded events (at most one per message);
    2. the existing instance nodes among the valid ids. ``existing_nodes``
       is the graph's nodes, or a function from instance ids to their
       nodes (``ParquetGraphStore.nodes``) so that only the batch's
       partitions are read;
    3. the fetched rows of the other valid ids, the wanted ones. This is
       the instance fetch: a failing instance endpoint raises here.

    While this thread runs the instance fetch, a second one materializes
    the dimension base: the validated dimensions of the wanted ids, a
    literal ``isin``, joined to code orders, persisted and counted. The
    two fetches overlap, like the reference's in-process fetch with
    bounded parallelism (client/dimensions_api.go:82-97), so the client's
    peak concurrency is the sum of the two fetchers' bounds. A failing
    dimension endpoint raises here too; when both fail, the instance
    fetch's error is the one raised. On any failure the base is
    unpersisted before the error leaves.

    Valid ids with an instance node are skipped without error (R9,
    handler test :939-968); the fetched ones are new, and each of their
    events is echoed as an InstanceCompleted event (R19,
    event/events.go:10-13). ``enriched`` is the base's rows of the new
    ids. The caller owns the returned base and calls ``release``."""
    spark = events.sparkSession
    decoded = events.select("file_url", "instance_id").collect()
    valid_ids = sorted({r.instance_id for r in decoded if r.instance_id})
    existing: set[str] = set()
    if valid_ids:
        nodes = (
            existing_nodes
            if isinstance(existing_nodes, DataFrame)
            else existing_nodes(valid_ids)
        )
        is_instance = (F.col("node_kind") == "instance") & F.col("instance_id").isin(
            valid_ids
        )
        existing = {
            r.instance_id
            for r in nodes.filter(is_instance).select("instance_id").collect()
        }
    wanted = [i for i in valid_ids if i not in existing]
    dims = validate_dimensions(dimensions).filter(F.col("instance_id").isin(wanted))
    enriched = join_code_orders(dims, code_lists)
    base = enriched.persist() if wanted else None
    counted = (
        _in_background(spark, base.count, BASE_CALL_SITE) if base is not None else None
    )
    try:
        rows = (
            instances.select("instance_id", "csv_header")
            .filter(F.col("instance_id").isin(wanted))
            .collect()
            if wanted
            else []
        )
        dimension_rows = counted.result() if counted is not None else 0
        new = {r.instance_id for r in rows}
        new_ids = sorted(new)
        if len(new_ids) < len(wanted):
            enriched = enriched.filter(F.col("instance_id").isin(new_ids))
            dimension_rows = enriched.count()
        return ImportResult(
            decoded=len(decoded),
            new_ids=new_ids,
            skipped_ids=sorted(existing),
            new_instances=local_frame(spark, rows, INSTANCE_SCHEMA),
            completed=local_frame(
                spark,
                [r for r in decoded if r.instance_id in new],
                INSTANCE_COMPLETED_SCHEMA,
            ),
            enriched=enriched,
            dimension_rows=dimension_rows,
            rejected_events=validate_events(events)[1],
            base=base,
            enable_patch_node_id=enable_patch_node_id,
        )
    except BaseException:
        if counted is not None:
            counted.exception()  # never unpersist under a running fill
            base.unpersist()
        raise


# --------------------------------------------------------------------------
# batched per-instance path (semantics parity with handler:140-212)
# --------------------------------------------------------------------------

@dataclass
class BatchedCalls:
    """Recorded side-effect calls, in order (what the reference's mocks
    assert on)."""

    inserted: list[dict] = field(default_factory=list)
    relationships: list[tuple[str, str, str]] = field(default_factory=list)
    order_lookups: list[tuple[str, list[str]]] = field(default_factory=list)
    patches: list[tuple[str, list[dict]]] = field(default_factory=list)
    added_dimensions: list[str] = field(default_factory=list)
    constraints: list[str] = field(default_factory=list)
    completed: list[str] = field(default_factory=list)


def process_instance_batched(
    instance_id: str,
    dimensions: Sequence[dict],
    batch_size: int,
    order_lookup: Callable[[str, list[str]], dict[str, int | None]],
    calls: BatchedCalls,
    enable_patch_node_id: bool = True,
) -> None:
    """Chunk loop port: full chunks then remainder (handler:186-204); per
    chunk — insert dimensions + conditional code relationship, then one
    code-order lookup per code list (:219-241) and ONE patch (:269-278);
    fail-fast: an error stops everything downstream (:144-161). Finishes
    with AddDimensions + constraint (:206-209, :322-328)."""
    if not dimensions:
        raise ImportError_("dimensions are required but empty")

    def process_chunk(chunk: Sequence[dict]) -> None:
        for d in chunk:  # parallel goroutines in the reference; order-free
            if not d.get("dimension_id"):
                raise ImportError_("dimension_id is required but was empty")
            calls.inserted.append(d)
            if d["dimension_id"] != "time":  # R13 hack (handler:295-302)
                calls.relationships.append(
                    (instance_id, d.get("code_list_id"), d.get("option"))
                )
        # group codes by code list, preserving first-seen order (:219-223)
        codes_by_cl: dict[str, list[str]] = {}
        for d in chunk:
            codes_by_cl.setdefault(d.get("code_list_id"), []).append(d.get("option"))
        order_by_code: dict[str, int | None] = {}
        for cl_id, codes in codes_by_cl.items():
            calls.order_lookups.append((cl_id, list(codes)))
            order_by_code.update(order_lookup(cl_id, codes))  # may raise → fail fast
        updates = []
        for d in chunk:
            node_id = d.get("node_id", "") if enable_patch_node_id else ""
            order = order_by_code.get(d.get("option"))
            if not node_id and order is None:
                continue  # omitted entirely (test :830-889)
            u = {"name": d["dimension_id"], "option": d.get("option")}
            if node_id:
                u["node_id"] = node_id
            if order is not None:
                u["order"] = order
            updates.append(u)
        calls.patches.append((instance_id, updates))  # ONE call per chunk

    n = len(dimensions)
    full, rem = divmod(n, batch_size)
    for i in range(full):
        process_chunk(dimensions[i * batch_size : (i + 1) * batch_size])
    if rem:
        process_chunk(dimensions[full * batch_size :])

    calls.added_dimensions.append(instance_id)
    calls.constraints.append(instance_id)
    calls.completed.append(instance_id)
