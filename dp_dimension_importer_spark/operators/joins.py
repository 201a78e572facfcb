"""Join operators — SURVEY.md §2.3 Q05–Q12.

Scale notes (these run against ~100 TB fact tables in production):

* equi-joins (Q05, Q07, Q08): leave strategy choice to Catalyst + AQE —
  at real scale orders⋈customer is a shuffle join on the key; AQE switches
  to broadcast when a filtered side turns out small at runtime.
* small static dims (region=5, nation=25 rows at ANY sf) are explicitly
  ``F.broadcast(...)`` — never worth a shuffle (Q06, Q07).
* semi/anti joins (Q09/Q10) are the reference's idempotency gate
  (handler/incoming_instance_handler.go:305-313 expressed as a join, see
  SURVEY.md R9): Spark plans them as broadcast/shuffled hash semi-joins and
  never materializes the probe side's payload columns.
* theta join (Q11) keeps the equi prefix (``c_nationkey = s_nationkey``) so
  Spark hashes on it and evaluates only the range residual per bucket —
  instead of a pure broadcast-nested-loop over the cross product.
* the as-of join (Q12) is expressed as range-join + per-key windowed top-1.
  At 100 TB both sides would be bucketed/range-partitioned on the key so
  the window never re-shuffles; locally the row_number collapses in one
  shuffle stage. (A merge-as-of `applyInPandas` variant is the fallback if
  the event side is too dense per key.)
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dp_dimension_importer_spark.catalog import load_tables
from dp_dimension_importer_spark.operators.common import make_registry

QUERIES, ORACLE, register = make_registry()


@register(
    "q05_inner_equi_join",
    sql="""
    SELECT o.o_orderkey, c.c_name
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_orderkey
    """,
)
def q05_inner_equi_join(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        t.orders.join(t.customer, t.orders.o_custkey == t.customer.c_custkey, "inner")
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey")
    )


@register(
    "q06_broadcast_join",
    sql="""
    SELECT n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    ORDER BY n.n_nationkey
    """,
)
def q06_broadcast_join(spark, sf_dir):
    """Explicit broadcast of the 5-row dim — zero shuffle at any scale."""
    t = load_tables(spark, sf_dir)
    return (
        t.nation.join(
            F.broadcast(t.region),
            t.nation.n_regionkey == t.region.r_regionkey,
        )
        .orderBy("n_nationkey")
        .select("n_name", "r_name")
    )


@register(
    "q07_multiway_join",
    sql="""
    SELECT c.c_name, n.n_name, r.r_name
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    ORDER BY c.c_custkey
    """,
)
def q07_multiway_join(spark, sf_dir):
    """3-way chain; both dims broadcast, so the big side never shuffles."""
    t = load_tables(spark, sf_dir)
    return (
        t.customer.join(
            F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey
        )
        .join(F.broadcast(t.region), t.nation.n_regionkey == t.region.r_regionkey)
        .orderBy("c_custkey")
        .select("c_name", "n_name", "r_name")
    )


@register(
    "q08_left_outer_join",
    sql="""
    SELECT c.c_custkey, o.o_orderkey
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    ORDER BY c.c_custkey, o.o_orderkey NULLS FIRST
    """,
)
def q08_left_outer_join(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        t.customer.join(
            t.orders, t.customer.c_custkey == t.orders.o_custkey, "left"
        )
        .select("c_custkey", "o_orderkey")
        .orderBy(F.col("c_custkey"), F.col("o_orderkey").asc_nulls_first())
    )


@register(
    "q09_left_semi_join",
    sql="""
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def q09_left_semi_join(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        t.customer.join(
            t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_semi"
        )
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "q10_left_anti_join",
    sql="""
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def q10_left_anti_join(spark, sf_dir):
    """NOT EXISTS — the reference's idempotent-create gate (R9) as a join."""
    t = load_tables(spark, sf_dir)
    return (
        t.customer.join(
            t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_anti"
        )
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "q11_theta_range_join",
    sql="""
    SELECT s.s_suppkey, c.c_custkey
    FROM supplier s
    JOIN customer c
      ON c.c_acctbal > s.s_acctbal AND c.c_nationkey = s.s_nationkey
    ORDER BY s.s_suppkey, c.c_custkey
    """,
)
def q11_theta_range_join(spark, sf_dir):
    """Theta join with an equi prefix: hash on nationkey, range residual."""
    t = load_tables(spark, sf_dir)
    s, c = t.supplier, t.customer
    return (
        s.join(
            c,
            (c.c_nationkey == s.s_nationkey) & (c.c_acctbal > s.s_acctbal),
        )
        .select("s_suppkey", "c_custkey")
        .orderBy("s_suppkey", "c_custkey")
    )


@register(
    "q12_asof_join",
    sql="""
    SELECT event_id, o_orderkey FROM (
        SELECT e.event_id, o.o_orderkey,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
               ) AS rn
        FROM events e
        JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    ORDER BY event_id
    """,
)
def q12_asof_join(spark, sf_dir):
    """As-of join: for each event, that user's most recent order at/before
    the event time.

    Union-then-window, the as-of shape that survives scale: orders and
    events merge into ONE per-user time-ordered stream (orders sort before
    events at equal timestamps — the ``<=`` bound; equal-date orders sort
    by orderkey so the running ``last`` is the max-key tie-break), and a
    single running ``last(o_orderkey, ignorenulls)`` window carries each
    user's latest order forward to every event. One shuffle of
    |events| + |orders| rows and O(n log n) per user — a range join would
    materialize |user's events| × |user's orders| intermediate rows per
    key, quadratic fan-out for any hot user."""
    t = load_tables(spark, sf_dir)
    e, o = t.events, t.orders
    ev = e.select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(1).alias("kind"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    od = o.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.unionByName(od)
        .withColumn("last_ok", F.last("o_orderkey", ignorenulls=True).over(w))
        .filter((F.col("kind") == 1) & F.col("last_ok").isNotNull())
        .select("event_id", F.col("last_ok").alias("o_orderkey"))
        .orderBy("event_id")
    )


#: salt fan-out for the skew-mitigation join
N_SALT = 8


@register(
    "join_skew_salted",
    sql="""
    SELECT o.o_orderstatus,
           COUNT(*)                        AS n,
           ROUND(SUM(l.l_extendedprice),4) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
)
def join_skew_salted(spark, sf_dir):
    """Skew-mitigated equi-join via key salting: the fact side gets a
    deterministic per-row salt in [0, N_SALT); the dimension side is
    replicated N_SALT times; the join key becomes (key, salt), spreading a
    hot key's rows over N_SALT reducers instead of one straggler task.

    This is the manual fallback for skew AQE can't fix (e.g. a hot key
    inside ONE shuffle block feeding a stateful op). AQE's skewJoin
    (enabled in session.py) handles the common case automatically — the
    plan-visible technique here is what you reach for beyond it. The salt
    derives from existing row columns (xxhash64), so retries/speculative
    tasks recompute identical salts — no rand() nondeterminism. Results are
    provably salt-independent, hence the exact-join oracle."""
    t = load_tables(spark, sf_dir)
    fact = t.lineitem.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(N_SALT))
    )
    dim = t.orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))).alias("salt"),
    )
    return (
        fact.join(
            dim,
            (fact["l_orderkey"] == dim["o_orderkey"])
            & (fact["salt"] == dim["salt"]),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q54_full_outer_join",
    sql="""
    WITH ca AS (SELECT c_nationkey AS k, COUNT(*) AS n_debtors
                FROM customer WHERE c_acctbal < 0 GROUP BY c_nationkey),
         sa AS (SELECT s_nationkey AS k, COUNT(*) AS n_rich_supps
                FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey)
    SELECT COALESCE(ca.k, sa.k) AS k, ca.n_debtors, sa.n_rich_supps
    FROM ca FULL OUTER JOIN sa ON ca.k = sa.k
    ORDER BY k
    """,
)
def q54_full_outer_join(spark, sf_dir):
    """Full outer join of two filtered aggregates — both sides can miss
    nations, so both null-extension directions are exercised. Aggregating
    BEFORE the join shrinks each side to ≤25 rows, so the outer join is a
    broadcast-able reconciliation instead of a row-level shuffle — the shape
    to reach for when full-outer reconciling two 100 TB fact extracts."""
    t = load_tables(spark, sf_dir)
    ca = (
        t.customer.filter(F.col("c_acctbal") < 0)
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count("*").alias("n_debtors"))
    )
    sa = (
        t.supplier.filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count("*").alias("n_rich_supps"))
    )
    return (
        ca.join(sa, "k", "full_outer")  # USING-join coalesces k for us
        .select("k", "n_debtors", "n_rich_supps")
        .orderBy("k")
    )


@register(
    "q09b_in_subquery",
    sql="""
    SELECT o_orderkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    ORDER BY o_orderkey
    """,
)
def q09b_in_subquery(spark, sf_dir):
    """IN (subquery) — the second decorrelation surface next to EXISTS
    (Q09): Catalyst rewrites it to a left-semi join on the subquery output.
    Expressed through spark.sql so the subquery path itself is what runs."""
    t = load_tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("v_orders_inq")
    t.customer.createOrReplaceTempView("v_customer_inq")
    return spark.sql(
        """
        SELECT o_orderkey FROM v_orders_inq
        WHERE o_custkey IN (SELECT c_custkey FROM v_customer_inq
                            WHERE c_acctbal < 0)
        ORDER BY o_orderkey
        """
    )


#: bucket width for the interval join — MUST be ≥ the interval width (20)
#: so every interval spans at most 2 buckets
INTERVAL_BUCKET_W = 20
INTERVAL_HALF = 10


@register(
    "join_interval_bucketed",
    sql=f"""
    SELECT c.c_custkey, s.s_suppkey
    FROM customer c, supplier s
    WHERE c.c_acctbal BETWEEN s.s_acctbal - {INTERVAL_HALF}
                          AND s.s_acctbal + {INTERVAL_HALF}
    ORDER BY c_custkey, s_suppkey
    """,
)
def join_interval_bucketed(spark, sf_dir):
    """Point-in-interval join with NO equi key (customers within ±10
    account balance of a supplier) — the shape that naively plans as a
    cartesian/nested-loop filter and dies at scale. The fix is bucket
    binning: pick a bucket width ≥ the interval width, explode each
    interval to the ≤2 buckets it touches, give each point its single
    bucket, and the containment check rides an ordinary HASH equi-join on
    the bucket id with the BETWEEN as a residual filter. No dedup is
    needed (a point lives in exactly one bucket, so each true pair meets
    exactly once), and floor(x/W) is monotone even in IEEE doubles, so
    bucketing can never lose a pair the oracle's plain BETWEEN finds.

    At 100 TB: work is |points| + 2·|intervals| shuffle rows on a key
    whose cardinality tracks the value range — versus |points|·|intervals|
    for the nested loop. Skewed value ranges (many points in one bucket)
    fall to AQE's skew-join splitting like any hot hash key. The plan
    audit pins hash-join-not-nested-loop."""
    t = load_tables(spark, sf_dir)
    W, H = INTERVAL_BUCKET_W, INTERVAL_HALF
    pts = t.customer.select(
        "c_custkey",
        "c_acctbal",
        F.floor(F.col("c_acctbal") / W).alias("bk"),
    )
    lo = F.col("s_acctbal") - H
    hi = F.col("s_acctbal") + H
    iv = t.supplier.select(
        "s_suppkey",
        lo.alias("lo"),
        hi.alias("hi"),
        F.explode(
            F.array_distinct(
                F.array(F.floor(lo / W), F.floor(hi / W))
            )
        ).alias("bk"),
    )
    return (
        pts.join(iv, "bk")
        .filter(
            (F.col("c_acctbal") >= F.col("lo"))
            & (F.col("c_acctbal") <= F.col("hi"))
        )
        .select("c_custkey", "s_suppkey")
        .orderBy("c_custkey", "s_suppkey")
    )


_LATERAL_SQL = """
    SELECT n.n_name, s.s_suppkey, s.s_acctbal
    FROM nation n, LATERAL (
        SELECT s_suppkey, s_acctbal FROM supplier
        WHERE s_nationkey = n.n_nationkey
        ORDER BY s_acctbal DESC, s_suppkey LIMIT 2
    ) s
    ORDER BY n.n_name, s.s_acctbal DESC, s.s_suppkey
"""


@register("q58_lateral_join", sql=_LATERAL_SQL)
def q58_lateral_join(spark, sf_dir):
    """LATERAL correlated table subquery (per-nation top-2 suppliers):
    the SQL spelling of per-group top-k — the planner decorrelates the
    correlated ORDER BY ... LIMIT into a window/join instead of running
    the subquery per outer row, which is what makes the construct usable
    at scale (q24 is the DataFrame spelling of the same plan). Identical
    SQL on both engines."""
    from dp_dimension_importer_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@register(
    "q12b_asof_nearest",
    sql="""
    SELECT event_id, o_orderkey FROM (
        SELECT e.event_id, o.o_orderkey,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY ABS(epoch_us(e.ts)
                                - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))),
                            o.o_orderdate ASC, o.o_orderkey ASC
               ) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id
    ) WHERE rn = 1
    ORDER BY event_id
    """,
)
def q12b_asof_nearest(spark, sf_dir):
    """NEAREST as-of join — q12's two-sided sibling (pandas
    ``merge_asof(direction='nearest')``): each event pairs with the
    user's order closest in time on EITHER side; ties break backward
    (the earlier order), then to the smallest orderkey. Time deltas are
    integer MICROSECONDS on both engines (``unix_micros`` /
    ``epoch_us``) — a truncating seconds cast would disagree with the
    oracle whenever the two directions land within a second of each
    other.

    Same union-then-window shape as q12, run in both directions over ONE
    per-user exchange (two Sorts, one shuffle): a running ``last`` over
    ascending time carries the best backward order (latest date, then
    min key — orderkey DESC in the sort makes the window's last the min
    key), a running ``last`` over descending time carries the best
    forward order, and a final projection picks the nearer. Still
    O(|events| + |orders|) rows per user — no range-join fan-out."""
    t = load_tables(spark, sf_dir)
    ev = t.events.select(
        F.col("user_id"),
        F.unix_micros("ts").alias("tu"),
        F.lit(1).alias("kind"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    od = t.orders.select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("tu"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey"),
    )
    u = ev.unionByName(od)
    cand = F.when(
        F.col("kind") == 0, F.struct(F.col("tu").alias("t"), "o_orderkey")
    )
    # backward scan: orders (kind 0) before events at equal time so the
    # <= bound is inclusive; orderkey DESC so the running last is the MIN
    # key among equal-date orders
    wb = (
        W.partitionBy("user_id")
        .orderBy(F.col("tu").asc(), F.col("kind").asc(),
                 F.col("o_orderkey").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # forward scan: same trick mirrored over descending time
    wf = (
        W.partitionBy("user_id")
        .orderBy(F.col("tu").desc(), F.col("kind").asc(),
                 F.col("o_orderkey").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ann = (
        u.withColumn("b", F.last(cand, ignorenulls=True).over(wb))
        .withColumn("f", F.last(cand, ignorenulls=True).over(wf))
        .filter(F.col("kind") == 1)
    )
    db = F.col("tu") - F.col("b.t")
    df_ = F.col("f.t") - F.col("tu")
    pick = (
        F.when(F.col("b").isNull(), F.col("f.o_orderkey"))
        .when(F.col("f").isNull(), F.col("b.o_orderkey"))
        .when(db <= df_, F.col("b.o_orderkey"))
        .otherwise(F.col("f.o_orderkey"))
    )
    return (
        ann.select("event_id", pick.alias("o_orderkey"))
        .filter(F.col("o_orderkey").isNotNull())
        .orderBy("event_id")
    )


#: AQE skew-join demonstration confs, applied for the duration of one
#: run and restored after. The two BYTE thresholds (production defaults:
#: 256MB skew bar, 64MB advisory split target) are absolute, so they are
#: derived from the fact's size at runtime — see :func:`run_aqe_skew_join`
#: — keeping the demonstration scale-invariant from sf0.001 to sf0.1
#: without shattering the bench-scale run into thousands of micro-tasks.
_AQE_SKEW_CONFS = {
    # a reduce partition is "skewed" past max(threshold, median*factor)
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    # pin the join to sort-merge: a 5-row dim would otherwise broadcast
    # (statically or via AQE's runtime demotion) and there would be no
    # shuffled partition left to split
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    # the per-type rollup downstream reuses the join's hash partitioning,
    # and OptimizeSkewedJoin refuses a split that would break a reused
    # partitioning (it would insert a new exchange). This lever accepts
    # that exchange — the production trade: one extra small shuffle of the
    # join output vs an hours-long straggler task on the hot key.
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


def run_aqe_skew_join(spark, sf_dir):
    """Execute the skewed fact⋈dim join under AQE skew mitigation and
    return ``(rows, schema, executed_plan_text)``.

    The engine-native twin of :func:`join_skew_salted`: instead of
    hand-salting, let Spark's adaptive execution detect the oversized
    reduce partitions from the map-output statistics and split them into
    advisory-sized sub-reads, replicating the matching dim partition
    (``OptimizeSkewedJoin``). ``events.event_type`` carries the fixture's
    measured key skew (5 values over a 32-partition shuffle leave ~27
    partitions empty, so every live partition is far past median — the
    same shape a hot tenant/event key produces at 100 TB, where one
    reducer would otherwise straggle for hours).

    Two production-relevant mechanics pinned here:

    * skew splits happen at MAP-OUTPUT granularity — a stage with one
      mapper is unsplittable however skewed, so the fact side is
      pre-staged through a 16-task exchange (standing in for the
      thousands of upstream map tasks a real scan stage has);
    * the confs are set only around the action and restored after —
      the lowered advisory size would mis-size every other query.

    The merge hint pins the strategy; results are mitigation-independent
    (split/replicate preserves join semantics), hence the exact oracle.
    """
    t = load_tables(spark, sf_dir)
    ev = t.events.select("event_id", "event_type", "value")
    fact = ev.repartition(16, "event_id").drop("event_id")
    # The dim is materialized (|event types| rows — pinned-size collect)
    # and re-injected as a local relation. This matters for the rule:
    # OptimizeSkewedJoin pattern-matches both SMJ children as
    # sort-over-shuffle-stage; fused into one plan, the dim-side final
    # HashAggregate sits between (its exchange is reused for the join)
    # and the rule never fires — an explicit repartition doesn't help,
    # Catalyst removes it as redundant. Precomputing the dim is also the
    # production shape: the hot-key join's build side is a stats table,
    # not a same-query subaggregate.
    dim_rows = (
        ev.groupBy("event_type").agg(F.count("*").alias("type_n")).collect()
    )
    n_rows = sum(r.type_n for r in dim_rows)
    dim = spark.createDataFrame(
        dim_rows, "event_type string, type_n bigint"
    )
    out = (
        fact.join(dim.hint("merge"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.max("type_n").alias("type_n"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).cast("long").alias("sum_cents"),
        )
        .orderBy("event_type")
    )
    # Scale the absolute byte bars to the fixture: one live reduce
    # partition holds ~1/|types| of the fact's shuffle bytes (~30 B/row
    # unsafe-row estimate). Flag it at half its size, split it ~4 ways —
    # the same RELATIVE geometry the 256MB/64MB production defaults give
    # a multi-GB hot partition.
    n_types = len(dim_rows)
    per_part = max(1, n_rows * 30 // max(1, n_types))
    confs = dict(_AQE_SKEW_CONFS)
    confs["spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"] = (
        str(max(1024, per_part // 2))
    )
    confs["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = (
        str(max(1024, per_part // 4))
    )
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        rows = out.collect()
        from dp_dimension_importer_spark.planaudit import plan_text

        plan = plan_text(out, "formatted")
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return rows, out.schema, plan


@register(
    "join_skew_aqe",
    sql="""
    WITH d AS (
        SELECT event_type, COUNT(*) AS type_n FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*)      AS n,
           MAX(d.type_n) AS type_n,
           CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events e JOIN d ON e.event_type = d.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def join_skew_aqe(spark, sf_dir):
    """Planner-native skew mitigation (see :func:`run_aqe_skew_join`):
    the dq_skew_report → manual-salting → AQE loop closed. The query
    materializes inside the conf scope (the lowered thresholds must not
    leak into whatever the caller runs next), so the returned frame is the
    already-computed local result."""
    rows, schema, _ = run_aqe_skew_join(spark, sf_dir)
    return spark.createDataFrame(rows, schema)


#: runtime bloom-filter injection confs, applied around one run and
#: restored. Only the APPLICATION-side size gate moves: it defaults to
#: 10GB — sized for clusters, where filtering a scan that small isn't
#: worth the build — so at fixture scale nothing would ever qualify. The
#: creation-side gates (10MB build cap, must-carry-a-selective-filter)
#: stay at their defaults: the demonstration earns injection the same
#: way a production query does.
_BLOOM_RF_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "0",
    # keep the join shuffled: under a broadcast join the rule (rightly)
    # declines — the dim ships whole anyway, there is no shuffle of the
    # fact side for the filter to shrink
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def run_bloom_runtime_join(spark, sf_dir):
    """Execute the selective-dim⋈fact join under runtime bloom-filter
    injection and return ``(rows, schema, executed_plan_text)``.

    Spark's InjectRuntimeFilter is the engine-native form of what
    q68/read_snapshot_point hand-build at the storage layer: when one join
    side carries a selective filter, the optimizer plants a
    ``bloom_filter_agg`` subquery on it and rewrites the OTHER side's
    scan with ``might_contain(xxhash64(key))`` — fact rows that cannot
    match die at the scan, BEFORE the shuffle, which at 100 TB is the
    difference between shuffling the whole fact table and shuffling the
    ~20% that can survive. The filter build is itself distributed
    (partial_bloom_filter_agg per partition, merged once).

    Results are filter-independent (a bloom filter has no false
    negatives; false positives are re-checked by the join), hence the
    exact oracle. The plan audit pins ``might_contain`` on the fact scan
    and the ``bloom_filter_agg`` build — see tests/test_plans.py."""
    t = load_tables(spark, sf_dir)
    od = t.orders.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey", "o_orderstatus"
    )
    li = t.lineitem.select("l_orderkey", "l_extendedprice")
    out = (
        li.join(od.hint("merge"), li["l_orderkey"] == od["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
                .cast("long")
            ).cast("long").alias("sum_cents"),
        )
        .orderBy("o_orderstatus")
    )
    old = {k: spark.conf.get(k, None) for k in _BLOOM_RF_CONFS}
    try:
        for k, v in _BLOOM_RF_CONFS.items():
            spark.conf.set(k, v)
        rows = out.collect()
        from dp_dimension_importer_spark.planaudit import plan_text

        plan = plan_text(out, "formatted")
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return rows, out.schema, plan


@register(
    "join_bloom_runtime",
    sql="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000
    GROUP BY 1 ORDER BY 1
    """,
)
def join_bloom_runtime(spark, sf_dir):
    """Engine-native runtime bloom-filter join (see
    :func:`run_bloom_runtime_join`) — the third member of the pre-shuffle
    row-killing family: q68 prunes FILES via stored sidecars,
    dedup_bloom_* prune against a PERSISTED corpus filter, and this one
    lets the OPTIMIZER build a transient filter from the query's own
    selective side. Materialized inside the conf scope (the zeroed
    app-side gate must not leak), so the returned frame is the computed
    local result."""
    rows, schema, _ = run_bloom_runtime_join(spark, sf_dir)
    return spark.createDataFrame(rows, schema)
