"""Scans, filters and scalar expressions — SURVEY.md §2.3 Q01–Q04, Q30–Q35.

All of these compile to a single parquet scan stage: Catalyst pushes the
predicates into the scan (``PushedFilters``) and prunes columns
(``ReadSchema``), so at 100 TB they read only the row groups / columns they
need. No shuffle except the final presentation sort, which the driver's
order-insensitive hash does not even require — it is kept because the
declared canonical queries end in ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dp_dimension_importer_spark.catalog import load_tables
from dp_dimension_importer_spark.operators.common import make_registry

QUERIES, ORACLE, register = make_registry()


@register(
    "q01_scan_project",
    sql="""
    SELECT l_orderkey, l_quantity
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
)
def q01_scan_project(spark, sf_dir):
    """Parquet scan + projection (column pruning reaches the scan)."""
    t = load_tables(spark, sf_dir)
    return (
        t.lineitem.orderBy("l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_quantity")
    )


@register(
    "q02_filter_conjunctive",
    sql="""
    SELECT l_orderkey, l_linenumber
    FROM lineitem
    WHERE l_discount > 0.05 AND l_quantity < 10
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q02_filter_conjunctive(spark, sf_dir):
    """Conjunctive predicates, both pushed into the parquet scan."""
    t = load_tables(spark, sf_dir)
    return (
        t.lineitem.filter((F.col("l_discount") > 0.05) & (F.col("l_quantity") < 10))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "q03_in_between",
    sql="""
    SELECT o_orderkey
    FROM orders
    WHERE o_orderstatus IN ('F','O') AND o_totalprice BETWEEN 1000 AND 5000
    ORDER BY o_orderkey
    """,
)
def q03_in_between(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        t.orders.filter(
            F.col("o_orderstatus").isin("F", "O")
            & F.col("o_totalprice").between(1000, 5000)
        )
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


@register(
    "q04_null_predicate",
    sql="SELECT event_id FROM events WHERE value IS NULL ORDER BY event_id",
)
def q04_null_predicate(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        t.events.filter(F.col("value").isNull()).select("event_id").orderBy("event_id")
    )


@register(
    "q30_case_expr",
    sql="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 3000 THEN 'hi'
                WHEN o_totalprice > 1000 THEN 'mid'
                ELSE 'lo' END AS bucket
    FROM orders ORDER BY o_orderkey
    """,
)
def q30_case_expr(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return t.orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 3000, "hi")
        .when(F.col("o_totalprice") > 1000, "mid")
        .otherwise("lo")
        .alias("bucket"),
    ).orderBy("o_orderkey")


@register(
    "q31_string_funcs",
    sql="""
    SELECT c_custkey,
           UPPER(c_name)            AS uname,
           SUBSTR(c_name, 1, 5)     AS pfx,
           LENGTH(c_name)           AS ln,
           REPLACE(c_name, '#','_') AS repl,
           CONCAT(c_name, '!')      AS bang
    FROM customer ORDER BY c_custkey
    """,
)
def q31_string_funcs(spark, sf_dir):
    """String scalar functions (reference's R8 replace semantics,
    model/models.go:47-52)."""
    t = load_tables(spark, sf_dir)
    return t.customer.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.substring("c_name", 1, 5).alias("pfx"),
        F.length("c_name").cast("long").alias("ln"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("_")).alias("repl"),
        F.concat(F.col("c_name"), F.lit("!")).alias("bang"),
    ).orderBy("c_custkey")


@register(
    "q32_like_regexp",
    sql="""
    SELECT p_partkey FROM part
    WHERE p_type LIKE '%BRASS%' OR p_name LIKE 'a%'
    ORDER BY p_partkey
    """,
)
def q32_like_regexp(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        t.part.filter(F.col("p_type").like("%BRASS%") | F.col("p_name").like("a%"))
        .select("p_partkey")
        .orderBy("p_partkey")
    )


@register(
    "q33_date_extract",
    sql="""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')  AS d,
           CAST(EXTRACT(YEAR  FROM o_orderdate) AS BIGINT)  AS y,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT)  AS m
    FROM orders ORDER BY o_orderkey
    """,
)
def q33_date_extract(spark, sf_dir):
    """DATE outputs are serialized as ISO strings on both sides — engines'
    client layers disagree on date-vs-midnight-timestamp representation."""
    t = load_tables(spark, sf_dir)
    return t.orders.select(
        "o_orderkey",
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias("d"),
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
    ).orderBy("o_orderkey")


@register(
    "q34_date_arith",
    sql="""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate + INTERVAL 30 DAY AS DATE), '%Y-%m-%d') AS d30
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
    ORDER BY o_orderkey
    """,
)
def q34_date_arith(spark, sf_dir):
    """Date literal filter + interval arithmetic."""
    t = load_tables(spark, sf_dir)
    return (
        t.orders.filter(F.col("o_orderdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
        .select(
            "o_orderkey",
            F.date_format(
                F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd"
            ).alias("d30"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q35_math_exprs",
    sql="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           ABS(l_discount - 0.05)                           AS adisc,
           CAST(FLOOR(l_extendedprice) AS BIGINT)           AS fl,
           CAST(CEIL(l_extendedprice)  AS BIGINT)           AS cl
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
)
def q35_math_exprs(spark, sf_dir):
    """Scalar arithmetic is left UNROUNDED: identical IEEE expressions over
    identical inputs are bit-identical in both engines, whereas each
    engine's ROUND diverges at half-ulp decimal boundaries (observed:
    17947.60995 → 17947.6100 vs 17947.6099). Rounding is reserved for
    multi-row aggregates where summation order genuinely differs."""
    t = load_tables(spark, sf_dir)
    return t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("charge"),
        F.abs(F.col("l_discount") - 0.05).alias("adisc"),
        F.floor("l_extendedprice").alias("fl"),
        F.ceil("l_extendedprice").alias("cl"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "q65_schema_evolution",
    sql="""
    WITH b AS (
        SELECT o_orderkey, o_totalprice, o_orderpriority,
               (ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) * 31
                + ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1))) % 10
                   AS bucket
        FROM orders
    ), unioned AS (
        SELECT o_orderkey, o_totalprice, NULL AS priority_rank
        FROM b WHERE bucket < 5
        UNION ALL
        SELECT o_orderkey, o_totalprice,
               CAST(substr(o_orderpriority, 1, 1) AS INTEGER)
        FROM b WHERE bucket >= 5
    )
    SELECT CASE WHEN priority_rank IS NULL THEN 0 ELSE 1 END AS has_rank,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents,
           COUNT(DISTINCT priority_rank) AS n_ranks
    FROM unioned GROUP BY 1 ORDER BY 1
    """,
)
def q65_schema_evolution(spark, sf_dir):
    """SCHEMA EVOLUTION through the filesystem: an old snapshot written
    without a column and a new snapshot written with it are read back as
    ONE table via ``mergeSchema`` — the drift every long-lived ingestion
    layout faces when a field is added mid-stream. Old rows surface the
    new column as NULL; the aggregate checks both cohorts' counts, an
    exact integer-cents sum, and the evolved column's domain. The oracle
    recomputes the union logically (no filesystem) — so a green row pins
    that Spark's footer-merging read reconstructs exactly the logical
    UNION ALL semantics.

    Scale note: ``mergeSchema`` reconciles footers at planning time by
    sampling every file's schema — at 100 TB pin the table schema in a
    metastore/table format instead and let new columns arrive as NULLs
    via the declared schema (the read below passes the merged schema
    explicitly in production; the option form is the discovery path).
    The result is eagerly localCheckpoint-ed so the scratch snapshots can
    be removed before returning."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark.operators.analytics import hash_bucket

    t = load_tables(spark, sf_dir)
    b = t.orders.withColumn("bucket", hash_bucket("o_orderkey", 10))
    v1 = b.filter("bucket < 5").select("o_orderkey", "o_totalprice")
    v2 = b.filter("bucket >= 5").select(
        "o_orderkey",
        "o_totalprice",
        F.substring("o_orderpriority", 1, 1).cast("int").alias(
            "priority_rank"
        ),
    )
    path = tempfile.mkdtemp(prefix="schema_evolution_")
    try:
        v1.coalesce(1).write.parquet(f"{path}/v1")
        v2.coalesce(1).write.parquet(f"{path}/v2")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{path}/v1", f"{path}/v2"
        )
        return (
            merged.groupBy(
                F.col("priority_rank").isNotNull().cast("int").alias(
                    "has_rank"
                )
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                ).alias("sum_cents"),
                F.countDistinct("priority_rank").alias("n_ranks"),
            )
            .orderBy("has_rank")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q68_bloom_point_lookup",
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_orderkey IN (7, 777, 7777, 41999)
    ORDER BY l_orderkey, l_linenumber, l_quantity
    """,
)
def q68_bloom_point_lookup(spark, sf_dir):
    """POINT LOOKUP through the file-level bloom sidecar: write lineitem
    as a snapshot hash-sharded on l_orderkey (the layout where min/max
    range stats prune NOTHING — every file spans the full key range),
    index it (:func:`storage.index_bloom_snapshot`), then fetch four keys
    via :func:`storage.read_snapshot_point`, which opens only the files
    whose filters fire. The oracle is the plain ``IN`` scan, so a green
    row pins that bloom pruning loses no rows; the "actually skips
    files" property is pinned by tests/test_bloom_snapshot.py. Eagerly
    localCheckpoint-ed so the scratch table can be removed before
    returning."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="bloom_lookup_")
    try:
        shutil.rmtree(path)
        storage.write_snapshot(
            spark,
            t.lineitem.select("l_orderkey", "l_linenumber", "l_quantity")
            .repartition(8, "l_orderkey"),
            path,
        )
        storage.index_bloom_snapshot(spark, path, "l_orderkey")
        return (
            storage.read_snapshot_point(
                spark, path, "l_orderkey", [7, 777, 7777, 41999]
            )
            .orderBy("l_orderkey", "l_linenumber", "l_quantity")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q68b_bloom_snapshot_point",
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_orderkey IN (777, 7777, 41999)
    ORDER BY l_orderkey, l_linenumber, l_quantity
    """,
)
def q68b_bloom_snapshot_point(spark, sf_dir):
    """The bloom sidecar as a SNAPSHOT-table citizen (r14,
    :func:`storage.index_bloom_snapshot`): build a hash-sharded
    snapshot in two commits (base + append), index after the base and
    INCREMENTALLY refresh after the append (only the append's files are
    scanned), bloom-point-prune a DELETE of key 7 (``point=`` probes
    only sidecar-admitted files), then fetch four keys through
    :func:`storage.read_snapshot_point` — which opens only admitted
    files and honors the full snapshot read contract. The oracle is the
    plain ``IN`` scan minus the deleted key, so a green row pins that
    sidecar admission loses no rows THROUGH append + refresh + DML; the
    "actually skips files" property is pinned structurally in
    tests/test_bloom_snapshot.py. Hash layout on l_orderkey = the
    min/max-stats worst case: every file spans the whole key range, so
    only the bloom can prune."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage

    t = load_tables(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="bloom_snap_q68b_")
    try:
        shutil.rmtree(path)
        li = t.lineitem.select(
            "l_orderkey", "l_linenumber", "l_quantity"
        )
        storage.write_snapshot(
            spark,
            li.filter(F.col("l_orderkey") % 2 == 0)
            .repartition(6, "l_orderkey"),
            path,
        )
        storage.index_bloom_snapshot(spark, path, "l_orderkey")
        storage.write_snapshot(
            spark,
            li.filter(F.col("l_orderkey") % 2 == 1)
            .repartition(6, "l_orderkey"),
            path,
            mode="append",
        )
        storage.index_bloom_snapshot(spark, path, "l_orderkey")
        storage.delete_where_snapshot(
            spark, path, F.col("l_orderkey") == 7,
            point=("l_orderkey", [7]),
        )
        return (
            storage.read_snapshot_point(
                spark, path, "l_orderkey", [7, 777, 7777, 41999]
            )
            .orderBy("l_orderkey", "l_linenumber", "l_quantity")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q71_try_arithmetic",
    sql=r"""
    WITH e AS (
        SELECT event_type,
               TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)
                   AS k,
               TRY_CAST(event_type AS BIGINT) AS tk
        FROM events
    )
    SELECT event_type, COUNT(*) AS n,
           COUNT(k)  AS n_k_parsed,
           COUNT(tk) AS n_type_parsed,
           CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_div0,
           CAST(SUM(CASE WHEN k > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overflow
    FROM e GROUP BY event_type ORDER BY event_type
    """,
)
def q71_try_arithmetic(spark, sf_dir):
    """The ANSI error-handling surface (Spark 4 runs ANSI mode by
    default, so `100/0` and long overflow are JOB-KILLING errors, not
    silent nulls — one malformed row fails a 100 TB pipeline): the TRY
    family turns each error class into a NULL the query can count and
    quarantine. Exercised per error class against real data:

    * `try_cast` on a genuine parse (the numeric `k` dug out of the
      props JSON — all parse) and on a guaranteed non-number (the event
      type — none parse, no exception),
    * `try_divide(100, k)` — NULL exactly on the k=0 rows,
    * `try_add(LONG_MAX, k)` — a data-dependent overflow, NULL exactly
      on the k>0 rows.

    The oracle states the SEMANTICS arithmetically (CASE on k) while the
    Spark side derives the same counts from the TRY-NULLs, so the green
    row pins divide-by-zero → NULL and overflow → NULL, not error and
    not ±inf. Counts only — no float division result ever compared."""
    t = load_tables(spark, sf_dir)
    e = t.events.select(
        "event_type",
        F.expr(
            "try_cast(regexp_extract(props, '\"k\": (\\\\d+)', 1) AS BIGINT)"
        ).alias("k"),
        F.expr("try_cast(event_type AS BIGINT)").alias("tk"),
    ).select(
        "event_type",
        "k",
        "tk",
        F.expr("try_divide(100L, k)").alias("td"),
        F.expr("try_add(9223372036854775807L, k)").alias("ta"),
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_k_parsed"),
            F.count("tk").alias("n_type_parsed"),
            (F.count(F.lit(1)) - F.count("td")).alias("n_div0"),
            (F.count(F.lit(1)) - F.count("ta")).alias("n_overflow"),
        )
        .orderBy("event_type")
    )


@register(
    "q72_collation",
    sql="""
    WITH m AS (
        SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                    ELSE event_type END AS et
        FROM events
    )
    SELECT lower(et) AS et_ci, COUNT(*) AS n,
           CAST(SUM(CASE WHEN lower(et) = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view_ci
    FROM m GROUP BY lower(et) ORDER BY et_ci
    """,
)
def q72_collation(spark, sf_dir):
    """Spark 4 COLLATION surface: a mixed-case column (half the rows
    upper-cased, deterministically by event_id parity) grouped and
    compared under the ``UTF8_LCASE`` collation — 'VIEW' and 'view' fall
    into ONE group and one case-insensitive equality, with no lower()
    scattered through the query (the collation travels with the TYPE, so
    every downstream compare/join/group inherits it — the governance win
    over ad-hoc normalization). The group-by KEY under a collation keeps
    an arbitrary representative's case, so the output projects lower()
    once for display; the oracle states the same semantics with explicit
    lower() normalization. Counts only — the green row pins that LCASE
    grouping/equality is exactly case-folding, nothing looser."""
    t = load_tables(spark, sf_dir)
    m = t.events.select(
        F.when(
            F.col("event_id") % 2 == 0, F.upper("event_type")
        ).otherwise(F.col("event_type")).alias("et")
    ).select(F.expr("collate(et, 'UTF8_LCASE')").alias("et"))
    return (
        m.groupBy("et")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("et") == F.lit("view"), 1).otherwise(0)
            ).alias("n_view_ci"),
        )
        .select(F.lower("et").alias("et_ci"), "n", "n_view_ci")
        .orderBy("et_ci")
    )


#: q73's bound parameters — the values live HERE, not spliced into SQL
Q73_SEGMENT, Q73_MIN_BAL = "BUILDING", 1000.0


@register(
    "q73_parameterized_sql",
    sql=f"""
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS bal_cents
    FROM customer
    WHERE c_mktsegment = '{Q73_SEGMENT}' AND c_acctbal >= {Q73_MIN_BAL}
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q73_parameterized_sql(spark, sf_dir):
    """PARAMETERIZED SQL (Spark 4 named-parameter binding): the predicate
    values arrive through ``spark.sql(..., args={...})`` placeholders —
    bound as typed literals by the parser, never spliced into the query
    text, which is both the SQL-injection-safe templating surface and
    what keeps one plan cache entry serving every parameter value. The
    oracle inlines the same constants, so the green row pins that binding
    is exactly literal substitution (types and comparison semantics
    included). Catalyst still pushes the bound predicates into the scan —
    parameters don't defeat pushdown."""
    t = load_tables(spark, sf_dir)
    t.customer.createOrReplaceTempView("v_customer_q73")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS bal_cents
        FROM v_customer_q73
        WHERE c_mktsegment = :seg AND c_acctbal >= :min_bal
        GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        args={"seg": Q73_SEGMENT, "min_bal": Q73_MIN_BAL},
    )


@register(
    "q76_null_semantics",
    sql="""
    SELECT NULLIF(event_type, 'error') AS g,
           COUNT(*) AS n,
           COUNT(value) AS n_vals,
           CAST(SUM(CASE WHEN value IS NOT DISTINCT FROM NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           COUNT(DISTINCT event_type) AS d
    FROM events GROUP BY 1 ORDER BY g NULLS FIRST
    """,
)
def q76_null_semantics(spark, sf_dir):
    """NULL-semantics pin — the classic cross-engine divergence family,
    stated once and hash-matched: NULLIF manufactures a nullable group
    key and GROUP BY collects every NULL key into ONE group (grouping
    equality treats NULLs as equal); COUNT(*) vs COUNT(col) splits
    present-vs-null; the null-safe operator (`<=>` /
    IS NOT DISTINCT FROM) counts the null rows a plain `= NULL` predicate
    would silently lose to three-valued logic; COUNT(DISTINCT) ignores
    NULL inputs on both engines. Every number is a count — nothing
    rounds, nothing floats."""
    t = load_tables(spark, sf_dir)
    null_d = F.lit(None).cast("double")
    return (
        t.events.groupBy(
            F.expr("nullif(event_type, 'error')").alias("g")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("value").alias("n_vals"),
            F.sum(
                F.when(F.col("value").eqNullSafe(null_d), 1).otherwise(0)
            ).alias("n_nulls"),
            F.count_distinct("event_type").alias("d"),
        )
        .orderBy(F.col("g").asc_nulls_first())
    )


@register(
    "q80_sql_scripting",
    sql="""
    WITH c AS (
        SELECT CAST(CEIL(COUNT(*) / 2.0) AS BIGINT) AS half FROM orders
    ), t AS (
        SELECT (range + 1) * 50000 AS thr FROM range(100)
    ), k AS (
        SELECT thr,
               (SELECT COUNT(*) FROM orders WHERE o_totalprice < thr)
                   AS n_below
        FROM t
    ), m AS (
        SELECT MIN(thr) AS threshold FROM k, c WHERE n_below >= half
    )
    SELECT CAST(m.threshold AS BIGINT) AS threshold,
           CAST((SELECT n_below FROM k WHERE thr = m.threshold) AS BIGINT)
               AS n_below,
           c.half AS half_count
    FROM m, c
    """,
)
def q80_sql_scripting(spark, sf_dir):
    """SQL SCRIPTING (Spark 4 BEGIN…END procedural blocks — the last
    piece of the Spark-4 language surface after VARIANT/collation/
    parameterized SQL/UDTF/TRY): DECLARE'd local variables, scalar-
    subquery SET, and a WHILE loop that walks a 50k price grid until at
    least half the orders fall below the threshold — a genuine
    data-dependent control-flow script, not a one-statement wrapper. The
    oracle recomputes the fixpoint declaratively (min threshold over the
    grid whose running count clears half), so the green row pins the
    loop's termination condition, variable semantics, and the returned
    SELECT. Each loop iteration is one tiny aggregate job; the script
    driver adds no data movement."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    t = load_tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("v_orders_q80")
    return spark.sql(
        """
        BEGIN
          DECLARE thr BIGINT DEFAULT 0;
          DECLARE half BIGINT;
          DECLARE below BIGINT DEFAULT 0;
          SET half = (SELECT CAST(CEIL(COUNT(*) / 2.0) AS BIGINT)
                      FROM v_orders_q80);
          WHILE below < half DO
            SET thr = thr + 50000;
            SET below = (SELECT COUNT(*) FROM v_orders_q80
                         WHERE o_totalprice < thr);
          END WHILE;
          SELECT thr AS threshold, below AS n_below, half AS half_count;
        END
        """
    )


@register(
    "q81_csv_roundtrip",
    sql="""
    SELECT 'ok' AS kind, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS bal_cents,
           CAST(SUM(LENGTH(c_name || ', ' || c_mktsegment)) AS BIGINT)
               AS note_len
    FROM customer
    UNION ALL
    SELECT 'dead', 2, NULL, NULL
    ORDER BY kind
    """,
)
def q81_csv_roundtrip(spark, sf_dir):
    """CSV SOURCE end-to-end with the strict-decode + dead-letter contract
    (:func:`pipeline.sources.read_csv_strict` — reference R2's
    drop-on-bad-record, improved to keep the evidence): the customer
    table plus a derived comma-embedding ``note`` column round-trips
    through CSV files (the commas make quoting actually load-bearing —
    a quoting bug shifts columns and surfaces as dead-letters or a wrong
    note-length sum), two malformed lines are injected into one file,
    and the read must route EXACTLY those two to the dead-letter frame
    while the good frame aggregates identically to the parquet original
    — which is the oracle. Pins header handling, quoting, decimal
    parsing, and the PERMISSIVE corrupt-record capture in one driver
    row."""
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark.pipeline.sources import read_csv_strict

    t = load_tables(spark, sf_dir)
    src = t.customer.select(
        "c_custkey", "c_name", "c_acctbal",
        F.concat_ws(", ", "c_name", "c_mktsegment").alias("note"),
    )
    base = tempfile.mkdtemp(prefix="csv_rt_")
    path = os.path.join(base, "customer_csv")
    try:
        (src.coalesce(2)
         .write.option("header", "true")
         .csv(path))
        part = next(
            f for f in sorted(os.listdir(path)) if f.endswith(".csv")
        )
        with open(os.path.join(path, part), "a") as f:
            f.write("not_a_number,oops,1,x\n")
            f.write("also,bad,row,with,too,many,columns,entirely\n")
        # the append invalidates Hadoop's .crc sidecar for that file —
        # drop the checksums (simulating any out-of-band file edit)
        for crc in os.listdir(path):
            if crc.endswith(".crc"):
                os.remove(os.path.join(path, crc))
        good, dead = read_csv_strict(spark, path, src.schema)
        cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
        ok_row = good.agg(
            F.lit("ok").alias("kind"),
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("bal_cents"),
            F.sum(F.length("note")).alias("note_len"),
        )
        dead_row = dead.agg(
            F.lit("dead").alias("kind"),
            F.count(F.lit(1)).alias("n"),
            F.lit(None).cast("long").alias("bal_cents"),
            F.lit(None).cast("long").alias("note_len"),
        )
        return (
            ok_row.unionByName(dead_row)
            .orderBy("kind")
            .localCheckpoint(eager=True)  # evaluate before the tmpdir goes
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "q82_jsonl_roundtrip",
    sql="""
    SELECT 'ok' AS kind, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS bal_cents
    FROM customer
    UNION ALL
    SELECT 'dead', 2, NULL
    ORDER BY kind
    """,
)
def q82_jsonl_roundtrip(spark, sf_dir):
    """JSON-LINES source end-to-end (:func:`pipeline.sources.
    read_jsonl_strict` — q81's contract on the other text format, whose
    parser fails differently: truncated objects and type mismatches
    rather than column-count drift): customer round-trips through JSONL
    files, one truncated object and one type-mismatched line are
    injected, and the read must dead-letter exactly those two while the
    good frame aggregates identically to the parquet original (the
    oracle)."""
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark.pipeline.sources import (
        read_jsonl_strict,
    )

    t = load_tables(spark, sf_dir)
    src = t.customer.select("c_custkey", "c_name", "c_acctbal")
    base = tempfile.mkdtemp(prefix="jsonl_rt_")
    path = os.path.join(base, "customer_jsonl")
    try:
        src.coalesce(2).write.json(path)
        part = next(
            f for f in sorted(os.listdir(path)) if f.endswith(".json")
        )
        with open(os.path.join(path, part), "a") as f:
            f.write('{"c_custkey": 1, "c_name": "trunc"\n')  # truncated
            f.write('{"c_custkey": "NaNkey", "c_name": 3, "c_acctbal": "x"}\n')
        for crc in os.listdir(path):
            if crc.endswith(".crc"):
                os.remove(os.path.join(path, crc))
        good, dead = read_jsonl_strict(spark, path, src.schema)
        cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
        ok_row = good.agg(
            F.lit("ok").alias("kind"),
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("bal_cents"),
        )
        dead_row = dead.agg(
            F.lit("dead").alias("kind"),
            F.count(F.lit(1)).alias("n"),
            F.lit(None).cast("long").alias("bal_cents"),
        )
        return (
            ok_row.unionByName(dead_row)
            .orderBy("kind")
            .localCheckpoint(eager=True)  # evaluate before the tmpdir goes
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "q83_orc_roundtrip",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders WHERE o_orderdate >= DATE '1995-01-01'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q83_orc_roundtrip(spark, sf_dir):
    """ORC source end-to-end — Spark's second built-in columnar format
    (the Hive-ecosystem interop path parquet shops still meet): orders
    round-trips through ORC with zstd, and a date-filtered aggregate over
    the ORC read must match the parquet original (the oracle). The date
    predicate is asserted PUSHED into the ORC scan (PushedFilters —
    ORC's reader supports the same filter/prune surface as parquet; a
    format swap must not silently cost full scans), and the scan reads
    only the three needed columns."""
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark import planaudit

    t = load_tables(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="orc_rt_")
    path = os.path.join(base, "orders_orc")
    try:
        (t.orders.select("o_orderpriority", "o_totalprice", "o_orderdate")
         .write.option("compression", "zstd").orc(path))
        orc = spark.read.orc(path)
        out = (
            orc.filter(F.col("o_orderdate") >= F.lit("1995-01-01"))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("long")
                ).alias("sum_cents"),
            )
            .orderBy("o_orderpriority")
        )
        plan = planaudit.plan_text(out)
        assert "Scan orc" in plan, "expected an ORC scan"
        assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan, (
            "date predicate not pushed into the ORC scan"
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "q85_avro_roundtrip",
    sql="""
    SELECT 'dead' AS kind, 2 AS n, CAST(NULL AS BIGINT) AS bal_cents
    UNION ALL
    SELECT 'ok', COUNT(*),
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
    FROM customer
    ORDER BY kind
    """,
)
def q85_avro_roundtrip(spark, sf_dir):
    """AVRO container-file source end-to-end — the reference's own wire
    format (``schema/schema.go:7-47``) as a FILE format, closing the
    source family q81 (CSV) / q82 (JSONL) / q83 (ORC) / q84 (binary):
    customer round-trips through Avro Object Container Files written by
    :func:`pipeline.avro_ocf.write_avro` (one file per partition, from
    the public Avro 1.11 spec — no spark-avro jar in this sandbox), two
    corruptions are injected (one whole file of non-Avro garbage → bad
    magic; trailing garbage appended after one real file's last block →
    corrupt block), and :func:`read_avro_strict` must dead-letter
    EXACTLY those two while every good block still decodes — the good
    frame aggregates identically to the parquet original (the oracle).
    Pins the OCF header/sync/block framing, zigzag-varint primitives,
    null-union encoding, and the block-granular dead-letter resync."""
    import os
    import shutil
    import tempfile

    from dp_dimension_importer_spark.pipeline.avro_ocf import (
        read_avro_strict,
        write_avro,
    )

    t = load_tables(spark, sf_dir)
    src = t.customer.select("c_custkey", "c_name", "c_acctbal")
    base = tempfile.mkdtemp(prefix="avro_rt_")
    path = os.path.join(base, "customer_avro")
    try:
        n_written = write_avro(src.repartition(4), path)
        assert n_written == src.count(), "avro writer lost rows"
        # corruption 1: a file that is not an Avro container at all
        with open(os.path.join(path, "zz-not-avro.avro"), "wb") as f:
            f.write(b"GARBAGE-NOT-AN-AVRO-FILE")
        # corruption 2: trailing garbage after a real file's last block
        # (overlong varint — can never parse as a block header)
        part = next(
            f for f in sorted(os.listdir(path)) if f.startswith("part-")
        )
        with open(os.path.join(path, part), "ab") as f:
            f.write(b"\xff" * 23)
        good, dead = read_avro_strict(spark, path, src.schema)
        cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
        ok_row = good.agg(
            F.lit("ok").alias("kind"),
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("bal_cents"),
        )
        dead_row = dead.agg(
            F.lit("dead").alias("kind"),
            F.count(F.lit(1)).alias("n"),
            F.lit(None).cast("long").alias("bal_cents"),
        )
        return (
            ok_row.unionByName(dead_row)
            .orderBy("kind")
            .localCheckpoint(eager=True)  # evaluate before the tmpdir goes
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
