"""Event-time window operators — SURVEY.md §2.3 Q46–Q50.

Q46–Q48 use the same ``window()`` / ``session_window()`` expressions in
batch and streaming (Spark guarantees identical semantics); the oracled
``queries()`` entries run the batch form, and the streaming replay tests
(tests/test_streaming.py) prove the streaming path emits the same rows.

Q49 (watermark) and Q50 (stateful dedup) are *real* Structured Streaming
runs even inside ``queries()``: the events table is replayed through a file
source one micro-batch per event-time chunk, with a far-future sentinel
event pushing the watermark past every real window so append mode flushes
all state (see streaming/replay.py). Their oracles are the corresponding
batch SQL — the whole point of the exercise.

Window starts are compared as epoch seconds (BIGINT) to sidestep ns/us
timestamp-precision drift between engines (FIXTURES.md canonicalization).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dp_dimension_importer_spark.catalog import load_tables, table
from dp_dimension_importer_spark.operators.common import (
    make_registry,
    run_concurrently,
)
from dp_dimension_importer_spark.streaming.replay import (
    SENTINEL_TYPE,
    run_replay,
    write_replay_dir,
)

QUERIES, ORACLE, register = make_registry()

_Q46_SQL = """
    SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS w,
           event_type,
           COUNT(*) AS c
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("q46_tumbling_window", sql=_Q46_SQL)
def q46_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour event-time window (same expression streams with a
    watermark — see test_streaming.py)."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("c"))
        .select(
            F.col("window.start").cast("long").alias("w"), "event_type", "c"
        )
        .orderBy("w", "event_type")
    )


@register(
    "q47_sliding_window",
    sql="""
    SELECT CAST(epoch_us(wstart) // 1000000 AS BIGINT) AS w,
           event_type,
           COUNT(*) AS c
    FROM (
        SELECT UNNEST([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS wstart,
               event_type
        FROM events
    ) GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q47_sliding_window(spark, sf_dir):
    """Sliding window (2h size, 1h slide): every event lands in 2 windows;
    the oracle materializes both window starts per event."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count("*").alias("c"))
        .select(
            F.col("window.start").cast("long").alias("w"), "event_type", "c"
        )
        .orderBy("w", "event_type")
    )


@register(
    "q48_session_window",
    sql="""
    WITH marks AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM marks
    )
    SELECT user_id,
           CAST(epoch_us(MIN(ts)) // 1000000 AS BIGINT) AS session_start,
           COUNT(*) AS c
    FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start
    """,
)
def q48_session_window(spark, sf_dir):
    """Session window (30-minute gap) per user; oracle is the classic
    gaps-and-islands formulation. Spark closes a session when the next event
    is ≥ gap after the previous one ([start, last+gap) window), hence the
    ``>= INTERVAL 30 MINUTE`` break condition."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("c"))
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("session_start"),
            "c",
        )
        .orderBy("user_id", "session_start")
    )


@register("q49_watermark_replay", sql=_Q46_SQL)
def q49_watermark_replay(spark, sf_dir):
    """Q46's tumbling aggregation as a REAL streaming job: event-time-ordered
    replay (2 data micro-batches — the minimum that crosses a batch
    boundary, so watermark advancement between triggers is still exercised
    while the replay stays cheap) + 1-hour watermark + append mode. The sentinel
    file advances the watermark past all real windows so every window is
    flushed; in-order replay means nothing is dropped → output must equal
    the batch oracle. (Late-data *dropping* is asserted separately in
    tests/test_streaming.py with a shuffled replay.)"""
    events = table(spark, sf_dir, "events")
    replay_dir = write_replay_dir(events, n_files=2, sentinel=True)

    def transform(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("c"))
            .select(
                F.col("window.start").cast("long").alias("w"), "event_type", "c"
            )
        )

    out = run_replay(spark, replay_dir, events.schema, transform, "append")
    return out.filter(F.col("event_type") != SENTINEL_TYPE).orderBy("w", "event_type")


@register(
    "q50_stateful_dedup",
    sql="""
    SELECT event_id, user_id, event_type
    FROM events ORDER BY event_id
    """,
)
def q50_stateful_dedup(spark, sf_dir):
    """Stateful streaming dedup: replay events with every 10th event
    re-delivered (the reference's at-least-once redelivery case, SURVEY.md
    §1.4), dropDuplicates on event_id with a watermark wide enough to keep
    all state → output equals the batch DISTINCT of the clean table."""
    events = table(spark, sf_dir, "events")
    dups = events.filter(F.col("event_id") % 10 == 0)
    replay_dir = write_replay_dir(events.unionByName(dups), n_files=2, sentinel=False)

    def transform(stream):
        return (
            stream.withWatermark("ts", "40 days")
            .dropDuplicates(["event_id"])
            .select("event_id", "user_id", "event_type")
        )

    out = run_replay(spark, replay_dir, events.schema, transform, "append")
    return out.orderBy("event_id")


@register(
    "q51_stateful_running_agg",
    sql="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(COALESCE(value, 0)), 4) AS value_sum,
           COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q51_stateful_running_agg(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user state
    accumulates (count, value sum, distinct types) across micro-batches —
    the reference's accumulate-then-bulk-emit (R17) generalized. The final
    emission per user (update mode → max) must equal the batch aggregate."""
    from dp_dimension_importer_spark.streaming.stateful import running_user_stats

    events = table(spark, sf_dir, "events")
    replay_dir = write_replay_dir(events, n_files=2, sentinel=False)
    out = run_replay(
        spark, replay_dir, events.schema, running_user_stats, "update"
    )
    # the final emission is the one with the highest n_events (strictly
    # increasing per user) — value_sum itself is NOT monotonic (negative
    # values), so max_by, not max
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max_by("value_sum", "n_events"), 4).alias("value_sum"),
            F.max("n_types").alias("n_types"),
        )
        .orderBy("user_id")
    )


@register(
    "q50b_dedup_within_watermark",
    sql="""
    SELECT event_id, user_id, event_type
    FROM events ORDER BY event_id
    """,
)
def q50b_dedup_within_watermark(spark, sf_dir):
    """q50's redelivery dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` evicts a key once the watermark
    passes its event time + delay, so state holds ~1 hour of ids instead
    of the stream's whole history (q50's plain ``dropDuplicates`` keeps
    every id forever — correct, but unrunnable over 100 TB/day; this is
    the production form). The redelivered copies carry the ORIGINAL event
    time and the replay is event-time ordered, so every duplicate arrives
    while its key is still in state → output equals the batch DISTINCT,
    and the driver's oracle proves eviction never fired early."""
    events = table(spark, sf_dir, "events")
    dups = events.filter(F.col("event_id") % 10 == 0)
    replay_dir = write_replay_dir(
        events.unionByName(dups), n_files=2, sentinel=False
    )

    def transform(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "event_type")
        )

    out = run_replay(spark, replay_dir, events.schema, transform, "append")
    return out.orderBy("event_id")


def _has_protobuf() -> bool:
    """``transformWithStateInPandas`` speaks a protobuf protocol between
    the Python state worker and the JVM state server; without
    ``google.protobuf`` the streaming runner crashes at init. Gate the
    query registration on it (this sandbox lacks protobuf — same
    environment-limited treatment as the Kafka broker seam, R1): the
    processor SEMANTICS stay fully unit-tested against fake state objects
    in tests/test_streaming.py, and the query registers itself on any
    deployment that has protobuf installed."""
    import importlib.util

    try:  # find_spec on a dotted name raises if the parent pkg is absent
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


_register_q51b = (
    register(
        "q51b_transform_with_state",
        sql="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(COALESCE(value, 0)), 4) AS value_sum,
           COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    )
    if _has_protobuf()
    else (lambda fn: fn)
)


@_register_q51b
def q51b_transform_with_state(spark, sf_dir):
    """q51's running accumulator on the NEW Spark 4 arbitrary-state API
    (``transformWithStateInPandas``): typed ValueState counters + a
    ListState of distinct types with delta-sized appends, against the
    RocksDB state store provider the API requires. Same batch oracle and
    final-emission equivalence as q51 — one semantics, two stateful
    engines."""
    from dp_dimension_importer_spark.streaming.stateful import (
        running_user_stats_tws,
    )

    events = table(spark, sf_dir, "events")
    replay_dir = write_replay_dir(events, n_files=2, sentinel=False)
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    try:
        prev = spark.conf.get(conf_key)
    except Exception:
        prev = None
    spark.conf.set(conf_key, rocksdb)
    try:
        out = run_replay(
            spark, replay_dir, events.schema, running_user_stats_tws, "update"
        )
        final = (
            out.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.round(F.max_by("value_sum", "n_events"), 4).alias(
                    "value_sum"
                ),
                F.max("n_types").alias("n_types"),
            )
            .orderBy("user_id")
        )
        # materialize before the provider conf is restored: the memory
        # sink already holds the rows, but the plan must not lazily
        # re-plan against a different provider
        final = final.localCheckpoint(eager=True)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    return final.orderBy("user_id")


@register(
    "q52_stream_stream_join",
    sql="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    ORDER BY click_id, purchase_id
    """,
)
def q52_stream_stream_join(spark, sf_dir):
    """Stream-stream inner join with event-time bounds: click→purchase
    attribution (purchase within 1 hour of a click by the same user), both
    sides derived from one replayed stream.

    The time-range condition plus a watermark on each side is what makes
    this run with BOUNDED state at 100 TB/day: Spark evicts a buffered
    click once the purchase-side watermark passes click.ts + 1h (and vice
    versa), so state holds ~1 hour of events per side, not the stream's
    history. Inner-join rows emit as soon as both sides arrive; the
    watermark only drives eviction."""
    events = table(spark, sf_dir, "events")
    # no sentinel: inner-join rows emit as soon as both sides match — the
    # watermark only evicts state, it never gates emission, so the
    # flush-forcing sentinel batches (needed by append-mode aggregations)
    # would just be two more no-op triggers here
    replay_dir = write_replay_dir(events, n_files=2, sentinel=False)

    def transform(stream):
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        return clicks.join(
            purchases,
            F.expr(
                "p_user = c_user AND p_ts >= c_ts "
                "AND p_ts <= c_ts + INTERVAL 1 HOUR"
            ),
        ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))

    out = run_replay(spark, replay_dir, events.schema, transform, "append")
    return out.orderBy("click_id", "purchase_id")


@register(
    "q53_stream_static_join",
    sql="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    ORDER BY e.event_id
    """,
)
def q53_stream_static_join(spark, sf_dir):
    """Stream-static enrichment join: purchases stream joined to a static
    customer dimension (the reference's code-order lookup R15 as a live
    stream). A stream-static inner join needs no watermark and no stream
    state: Spark re-plans the static side per micro-batch and (for a small
    dim) broadcasts it, so each batch is a map-side hash join — at 100 TB/
    day of events the static side is loaded once per trigger, the stream
    side never shuffles."""
    events = table(spark, sf_dir, "events")
    customer = load_tables(spark, sf_dir).customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    replay_dir = write_replay_dir(events, n_files=2, sentinel=False)

    def transform(stream):
        return (
            stream.filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id")
            .join(F.broadcast(customer), "user_id")
            .select("event_id", "user_id", "segment")
        )

    out = run_replay(spark, replay_dir, events.schema, transform, "append")
    return out.orderBy("event_id")


@register(
    "q52b_stream_stream_left_join",
    sql="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    ORDER BY click_id, purchase_id
    """,
)
def q52b_stream_stream_left_join(spark, sf_dir):
    """Stream-stream LEFT OUTER join with event-time bounds: q52's
    click→purchase attribution, but unconverted clicks surface too (the
    shape a funnel/abandonment pipeline needs). The outer side makes this
    the strictly harder streaming problem: a null-padded row may only emit
    once the purchase-side watermark proves no match can still arrive
    (click.ts + 1h < watermark), so emission is watermark-GATED, not just
    watermark-evicted — the replay's two far-future sentinel batches are
    what flush the final unmatched clicks before the drain stops
    (streaming/replay.py:75-92), mirroring the reference's
    drain-then-stop shutdown (R23).

    State stays bounded exactly as in q52: ~1 hour of events per side.
    Batch-oracle equivalence: with the watermark advanced past every real
    event, matched rows equal the inner join and every unmatched click has
    emitted with nulls, so the final table equals the batch LEFT JOIN."""
    events = table(spark, sf_dir, "events")
    replay_dir = write_replay_dir(events, n_files=2, sentinel=True)

    def transform(stream):
        # The sentinel rows must ride BOTH sides: outer-join finalization is
        # gated by the GLOBAL watermark (the min over every input's
        # watermark), so a sentinel that advances only the purchase side
        # leaves the click-side watermark at (last real click - 1h) and the
        # final hour of unmatched clicks never emits. Sentinel rows
        # self-join (user_id -1, same ts) into rows with click_id = -1,
        # dropped by the post-join filter.
        clicks = (
            stream.filter(F.col("event_type").isin("click", SENTINEL_TYPE))
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            stream.filter(F.col("event_type").isin("purchase", SENTINEL_TYPE))
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        # NO sentinel filter inside the streaming plan: a filter on the
        # left key pushes through the left-outer join to below the
        # click-side watermark node, so the sentinels never advance that
        # watermark and the final hour of unmatched clicks NEVER emits
        # (reproduced + pinned in tests/test_streaming.py). Sentinel
        # artifacts (click_id = -1) are dropped from the materialized
        # result instead.
        return clicks.join(
            purchases,
            F.expr(
                "p_user = c_user AND p_ts >= c_ts "
                "AND p_ts <= c_ts + INTERVAL 1 HOUR"
            ),
            "left_outer",
        ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))

    out = run_replay(spark, replay_dir, events.schema, transform, "append")
    return (
        out.filter(F.col("click_id") != -1)
        .orderBy("click_id", "purchase_id")
    )


@register(
    "q52c_stream_stream_full_join",
    sql="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           COALESCE(c.user_id, p.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    ORDER BY click_id, purchase_id
    """,
)
def q52c_stream_stream_full_join(spark, sf_dir):
    """Stream-stream FULL OUTER join with event-time bounds: q52b's funnel
    plus the mirror image — purchases with no qualifying prior click
    (organic/attribution-less conversions) emit null-click rows. Each
    side's null emission is gated by the OTHER side's watermark proving no
    match can still arrive; state stays bounded at ~1 hour per side
    exactly as in q52/q52b.

    Same pushdown hazard as q52b: sentinel artifacts are dropped from the
    MATERIALIZED result, never inside the streaming plan (a key filter
    would push below a watermark node and stall it — see
    tests/test_streaming.py). The null-safe drop condition matters: a
    plain ``!= -1`` is NULL for the outer rows and would silently delete
    every null-padded row the operator exists to produce."""
    events = table(spark, sf_dir, "events")
    replay_dir = write_replay_dir(events, n_files=2, sentinel=True)

    def transform(stream):
        clicks = (
            stream.filter(F.col("event_type").isin("click", SENTINEL_TYPE))
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            stream.filter(F.col("event_type").isin("purchase", SENTINEL_TYPE))
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        return clicks.join(
            purchases,
            F.expr(
                "p_user = c_user AND p_ts >= c_ts "
                "AND p_ts <= c_ts + INTERVAL 1 HOUR"
            ),
            "full_outer",
        ).select(
            "click_id",
            "purchase_id",
            F.coalesce("c_user", "p_user").alias("user_id"),
        )

    out = run_replay(spark, replay_dir, events.schema, transform, "append")
    return (
        out.filter(
            ~F.coalesce(F.col("click_id"), F.lit(0)).eqNullSafe(-1)
            & ~F.coalesce(F.col("purchase_id"), F.lit(0)).eqNullSafe(-1)
        )
        .orderBy("click_id", "purchase_id")
    )


@register(
    "q60_stream_upsert_sink",
    sql="""
    SELECT user_id, event_id, ts, event_type, value FROM (
        SELECT user_id, event_id, ts, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
)
def q60_stream_upsert_sink(spark, sf_dir):
    """End-to-end exactly-once streaming MERGE sink THROUGH THE
    FILESYSTEM: replay the events table as a CDC change stream (one file
    per micro-batch), land each micro-batch in a snapshot table via
    ``foreachBatch`` → :func:`storage.merge_upsert_snapshot` with the
    batch id as the manifest ``txn`` mark (streaming/sink.py), then read
    the table back. Each event
    row upserts its user's profile row; latest-wins on ``event_id``
    (unique, so deterministic), so the final table is exactly "the
    newest event per user" — the batch window-over-events oracle.

    This is the reference's full consume→idempotent-upsert→commit loop
    (`message/consumer.go:24-56`, `store/store.go:16-20`) with Spark's
    micro-batch checkpoint in place of Kafka offsets. The crash/restart
    and redelivery guarantees are pinned in tests/test_streaming.py; the
    oracled run here proves the happy path lands batch-identical state.
    The result is eagerly localCheckpoint-ed so the scratch table and
    checkpoint can be removed before returning."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark.streaming import sink as merge_sink

    events = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    replay_dir = write_replay_dir(events, n_files=4, sentinel=False)
    scratch = tempfile.mkdtemp(prefix="q60_sink_")
    table_path = scratch + "/table"
    try:
        out = merge_sink.run_stream_merge(
            spark, replay_dir, events.schema, table_path,
            key_cols=["user_id"], seq_col="event_id",
            checkpoint=scratch + "/ckpt",
        )
        return (
            out.select("user_id", "event_id", "ts", "event_type", "value")
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(replay_dir, ignore_errors=True)


from dp_dimension_importer_spark.operators.windows import (  # noqa: E402
    ORACLE as _BATCH_ORACLE,
)


@register("q63_stream_ohlc", sql=_BATCH_ORACLE["ts_resample_ohlc"])
def q63_stream_ohlc(spark, sf_dir):
    """ts_resample_ohlc as a REAL streaming job: 15-minute tumbling
    event-time windows with min_by/max_by open/close, replayed through
    the file-source harness with a 1-hour watermark in append mode — the
    market-data/metrics rollup as it would actually run on a live feed.
    min_by/max_by are declarative aggregates, so Structured Streaming
    maintains them incrementally in window state exactly like sum/count
    (one candidate row per open window in the state store, flushed when
    the watermark passes); the oracle is the batch query's SQL verbatim —
    the same window start because 15-min tumbling == epoch//900 bars.

    Scale: streaming state is ONE row per (window, event_type) holding
    six scalars — bounded by open windows x types, independent of event
    rate."""
    events = table(spark, sf_dir, "events")
    replay_dir = write_replay_dir(events, n_files=2, sentinel=True)

    def transform(stream):
        e = stream.withColumn(
            "m", F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
        ).withColumn("k", F.struct(F.col("ts"), F.col("event_id")))
        return (
            e.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "15 minutes"), "event_type")
            .agg(
                (F.min_by("m", "k").cast("double") / 1000000.0).alias(
                    "v_open"
                ),
                (F.max("m").cast("double") / 1000000.0).alias("v_high"),
                (F.min("m").cast("double") / 1000000.0).alias("v_low"),
                (F.max_by("m", "k").cast("double") / 1000000.0).alias(
                    "v_close"
                ),
                F.count("*").alias("n_events"),
                (F.sum("m").cast("double") / 1000000.0).alias("v_sum"),
            )
            .select(
                F.col("window.start").cast("long").alias("bar_ts"),
                "event_type",
                "v_open",
                "v_high",
                "v_low",
                "v_close",
                "n_events",
                "v_sum",
            )
        )

    out = run_replay(spark, replay_dir, events.schema, transform, "append")
    return out.filter(F.col("event_type") != SENTINEL_TYPE).orderBy(
        "event_type", "bar_ts"
    )


@register(
    "q69_stream_mv_refresh",
    sql="""
    SELECT event_type,
           CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                AS BIGINT)                          AS sum_micros,
           COUNT(*)                                 AS cnt_rows,
           CAST(MIN(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                AS BIGINT)                          AS min_micros,
           MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))    AS max_ts_epoch
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q69_stream_mv_refresh(spark, sf_dir):
    """Incremental MV maintenance as a STREAMING job with exactly-once
    state: replay events as 4 micro-batches through
    :func:`streaming.sink.run_stream_agg`, whose ``foreachBatch`` handler
    merges each batch's mergeable partials (merge_agg_state's prefix
    contract) into a snapshot state table — one new version per refresh,
    committed with the batch id as the manifest ``txn`` mark. Sums are
    not idempotent under redelivery (unlike q60's latest-wins upserts),
    which is exactly what the mark solves: the data and the mark land in
    one hard-link, so a redelivered batch is skipped if it committed and
    re-merged against the prior version if it did not. The oracle is the
    one-shot batch GROUP BY over the full event table, so a green row
    pins stream-incremental == batch recompute exactly; redelivery/crash
    mechanics are pinned in tests/test_dq_mv_prefix.py. Eagerly localCheckpoint-ed so scratch state
    can be removed before returning."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark.streaming import sink as agg_sink

    events = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    replay_dir = write_replay_dir(events, n_files=4, sentinel=False)
    scratch = tempfile.mkdtemp(prefix="q69_mv_")
    state_path = scratch + "/state"

    def partial(df):
        m = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
        return df.groupBy("event_type").agg(
            F.sum(m).alias("sum_micros"),
            F.count(F.lit(1)).alias("cnt_rows"),
            F.min(m).alias("min_micros"),
            F.max(F.col("ts").cast("long")).alias("max_ts_epoch"),
        )

    try:
        out = agg_sink.run_stream_agg(
            spark, replay_dir, events.schema, state_path,
            keys=["event_type"], partial_fn=partial,
            checkpoint=scratch + "/ckpt",
        )
        return (
            out.select(
                "event_type", "sum_micros", "cnt_rows", "min_micros",
                "max_ts_epoch",
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(replay_dir, ignore_errors=True)


@register(
    "q70b_stream_observed_metrics",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_micros
    FROM events WHERE event_type = 'view'
    """,
)
def q70b_stream_observed_metrics(spark, sf_dir):
    """q70's STREAMING twin: ``df.observe`` on a flowing stream surfaces
    per-micro-batch metrics through ``StreamingQueryProgress
    .observedMetrics`` — the production health-counter path (row counts
    and integrity sums per trigger, no second pass over the stream, no
    extra state). The query replays events as 4 micro-batches, observes
    (count, integer-micro sum) over the 'view' rows of each, reads every
    batch's metrics off the progress events, and returns the driver-side
    TOTALS — which the oracle pins equal to a one-shot batch aggregate,
    proving no batch's metrics were dropped or double-reported."""
    import shutil
    import tempfile
    import uuid as _uuid

    events = table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    replay_dir = write_replay_dir(events, n_files=4, sentinel=False)
    name = "obs_" + _uuid.uuid4().hex[:10]
    checkpoint = tempfile.mkdtemp(prefix="ckpt_obs_")
    micros = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(replay_dir)
        )
        flowing = (
            stream.filter(F.col("event_type") == "view")
            .observe(
                "dq",
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(micros).alias("sum_micros"),
            )
        )
        query = (
            flowing.writeStream.format("noop")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .queryName(name)
            .start()
        )
        query.awaitTermination()
        n_rows = 0
        sum_micros = 0
        for p in query.recentProgress:
            m = (p.get("observedMetrics") or {}).get("dq")
            if m is not None:
                n_rows += m["n_rows"]
                sum_micros += m["sum_micros"]
        return spark.createDataFrame(
            [(n_rows, sum_micros)], "n_rows bigint, sum_micros bigint"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(checkpoint, ignore_errors=True)
        shutil.rmtree(replay_dir, ignore_errors=True)


@register(
    "q52d_stream_stream_semi_join",
    sql="""
    SELECT c.event_id AS click_id, c.user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    WHERE EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts >= c.ts
          AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
    ORDER BY click_id
    """,
)
def q52d_stream_stream_semi_join(spark, sf_dir):
    """Stream-stream LEFT SEMI join — the last member of the streaming
    join matrix (inner q52 / left q52b / full q52c): converted clicks
    emit ONCE each, without purchase columns, regardless of how many
    matching purchases arrive. Semi is emission-subtle in streaming: a
    click emits on its FIRST match and must then be remembered-but-
    suppressed for later matches until the watermark evicts it — Spark's
    state store handles that; the replay's sentinel batches advance both
    watermarks so eviction completes before the drain stops. Same 1-hour
    event-time bound, so state stays ~1 hour per side. The oracle is the
    batch EXISTS (semi join) over the same window."""
    events = table(spark, sf_dir, "events")
    replay_dir = write_replay_dir(events, n_files=2, sentinel=True)

    def transform(stream):
        clicks = (
            stream.filter(F.col("event_type").isin("click", SENTINEL_TYPE))
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            stream.filter(F.col("event_type").isin("purchase", SENTINEL_TYPE))
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        return clicks.join(
            purchases,
            F.expr(
                "p_user = c_user AND p_ts >= c_ts "
                "AND p_ts <= c_ts + INTERVAL 1 HOUR"
            ),
            "left_semi",
        ).select("click_id", F.col("c_user").alias("user_id"))

    out = run_replay(spark, replay_dir, events.schema, transform, "append")
    return out.filter(F.col("click_id") != -1).orderBy("click_id")


from dp_dimension_importer_spark.operators.analytics import SESSION_GAP_MS


@register(
    "q51c_stateful_session_timeout",
    sql=f"""
    WITH m AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
    ), g AS (
        SELECT user_id, event_id, ms,
               CASE WHEN LAG(ms) OVER w IS NULL
                         OR ms - LAG(ms) OVER w > {SESSION_GAP_MS}
                    THEN 1 ELSE 0 END AS new_s
        FROM m
        WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
    ), s AS (
        SELECT user_id, ms,
               CAST(SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ms, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_n
        FROM g
    )
    SELECT user_id, session_n, COUNT(*) AS n_events,
           MIN(ms) AS start_ms, MAX(ms) AS end_ms,
           MAX(ms) - MIN(ms) AS duration_ms
    FROM s GROUP BY user_id, session_n
    ORDER BY user_id, session_n
    """,
)
def q51c_stateful_session_timeout(spark, sf_dir):
    """STREAMING sessionization with EVENT-TIME TIMEOUTS — the timer half
    of the custom-stateful API (q51 covers state, this covers timers):
    :func:`streaming.stateful.session_flush` holds one open session per
    user (three longs of state) and emits each session exactly once when
    it closes — by a past-gap successor event, or by the
    ``GroupStateTimeout.EventTimeTimeout`` firing when the watermark
    passes last_event + gap. The replay sentinel drives the watermark
    past every open session, so the final no-data micro-batch flushes the
    tail via timeouts alone — precisely the drain-then-stop shutdown the
    reference's graceful close implements (SURVEY R23).

    The oracle is events_sessionize's batch SQL verbatim, so a green row
    pins that close-on-event and close-on-timeout TOGETHER partition the
    stream exactly like the batch window form. ``session_n`` (the
    per-user ordinal) is assigned by a batch window AFTER the replay —
    sessions close in event-time order per user, and deriving the
    ordinal outside the operator lets timed-out state be ``remove()``d
    immediately instead of lingering as a counter."""
    from pyspark.sql import Window as W

    from dp_dimension_importer_spark.streaming.stateful import session_flush

    events = table(spark, sf_dir, "events")
    replay_dir = write_replay_dir(events, n_files=4, sentinel=True)

    def transform(stream):
        # The sentinel rows MUST flow through the watermark operator: a
        # pre-watermark filter on event_type gets pushed below the
        # EventTimeWatermark node into the scan (the predicate doesn't
        # reference ts, so Catalyst is free to), the sentinel timestamps
        # never advance the watermark, and the globally-last session's
        # timeout never fires (debugged on a 4-row repro: the sentinel
        # batches read 0 rows with the filter, 1 each without). So the
        # sentinel user (-1) sessionizes like anyone else and is dropped
        # AFTER the replay — the q46/q52 convention.
        return session_flush(
            stream.withWatermark("ts", "1 minute"), SESSION_GAP_MS
        )

    out = run_replay(
        spark, replay_dir, events.schema, transform, "append"
    ).filter(F.col("user_id") >= 0)
    w = W.partitionBy("user_id").orderBy("start_ms")
    return out.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_n"),
        "n_events",
        "start_ms",
        "end_ms",
        (F.col("end_ms") - F.col("start_ms")).alias("duration_ms"),
    ).orderBy("user_id", "session_n")


@register(
    "q79_stream_snapshot_append",
    sql="""
    SELECT event_id, user_id, event_type,
           CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS value_milli
    FROM events ORDER BY event_id
    """,
)
def q79_stream_snapshot_append(spark, sf_dir):
    """Exactly-once streaming APPEND into the snapshot table layer: the
    events table replays as a file stream (one file per micro-batch),
    each batch commits as a NEW snapshot version whose manifest carries
    the ``txn`` watermark (storage.write_snapshot mode='append' — the
    idempotence marker and the data commit are one atomic hard-link, so
    there is no marker-vs-data crash window, unlike the sidecar commit
    log q60 demonstrates for plain parquet tables). After the drain, a
    REDELIVERY of the first batch is replayed by hand and must be a
    no-op; the final read must equal the whole events table — the batch
    oracle. Per-batch versions also mean time travel reaches any stream
    prefix.

    Reference parity: consume → idempotent sink → commit-after-sink
    (`message/consumer.go:24-56`, `store/store.go:16-20`), with the
    table format's transaction log as the offset store."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.streaming import sink as snap_sink

    events = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias(
            "value_milli"
        ),
    )
    replay_dir = write_replay_dir(
        events, n_files=4, order_col="event_id", sentinel=False
    )
    scratch = tempfile.mkdtemp(prefix="q79_snap_")
    table_path = scratch + "/table"
    try:
        snap_sink.run_stream_snapshot_append(
            spark, replay_dir, events.schema, table_path,
            checkpoint=scratch + "/ckpt",
        )
        v_before = storage.snapshot_versions(table_path)[-1]
        # redeliver batch 0 by hand: the txn watermark must skip it
        first = spark.read.parquet(replay_dir).orderBy("event_id").limit(5)
        snap_sink.make_snapshot_append_handler(table_path)(first, 0)
        assert storage.snapshot_versions(table_path)[-1] == v_before, (
            "redelivered batch 0 must not commit a new version"
        )
        return (
            storage.read_snapshot(spark, table_path)
            .orderBy("event_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(replay_dir, ignore_errors=True)


@register("q51d_stream_ewma", sql=_BATCH_ORACLE["events_ewma"])
def q51d_stream_ewma(spark, sf_dir):
    """events_ewma as a REAL streaming job
    (:func:`streaming.stateful.ewma_stream`): the events table replays
    in event-time order through the file harness and every event emits
    its exponentially-smoothed value in the micro-batch that carries it
    — one long of state per user, NoTimeout, append mode. The oracle is
    the batch query's recursive-CTE SQL verbatim, so the green row pins
    that the streaming recurrence (state carried ACROSS micro-batches)
    lands bit-identical to the batch scan — the q63 pattern applied to
    custom numeric state rather than a declarative window."""
    events = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    replay_dir = write_replay_dir(events, n_files=4, sentinel=False)
    try:
        from dp_dimension_importer_spark.streaming.stateful import (
            ewma_stream,
        )

        out = run_replay(
            spark, replay_dir, events.schema, ewma_stream, "append"
        )
        return (
            out.orderBy("user_id", "ewma_micro", "event_id")
            .localCheckpoint(eager=True)
        )
    finally:
        import shutil

        shutil.rmtree(replay_dir, ignore_errors=True)


@register(
    "q87_stream_mor_upsert",
    sql="""
    SELECT user_id, event_type AS last_type, event_id AS last_event
    FROM (
        SELECT user_id, event_type, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ms(ts) DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
)
def q87_stream_mor_upsert(spark, sf_dir):
    """Exactly-once STREAMING CDC UPSERT into the merge-on-read layer
    (:func:`streaming.sink.run_stream_mor_upsert` — q79's append sink
    with REPLACE semantics, and q86's delta chain fed by a live stream):
    the events table replays in order (one file per micro-batch), each
    batch collapses to its latest row per user and lands as ONE delta
    commit carrying the ``txn`` watermark — O(batch) per trigger, no
    base file ever rewritten, the manifest hard-link the single commit
    point. After the drain a REDELIVERY of batch 0 is replayed by hand
    and must commit nothing. The final resolved read must equal the
    batch "latest event per user" — exactly the per-key current-state
    table a CDC consumer maintains. The seq key is integer
    ``ms·2^20 + event_id`` (event ids stay far below 2^20 at any test
    sf), so intra-batch ties are total-ordered on both engines; the
    replay being event-time-ordered makes commit-order-wins coincide
    with the global latest, which is what the oracle states."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.streaming import sink as mor_sink

    events = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        (F.unix_millis("ts") * F.lit(1 << 20) + F.col("event_id"))
        .alias("seq"),
    )
    replay_dir = write_replay_dir(
        events, n_files=4, order_col="event_id", sentinel=False
    )
    scratch = tempfile.mkdtemp(prefix="q87_mor_")
    table_path = scratch + "/table"
    try:
        mor_sink.run_stream_mor_upsert(
            spark, replay_dir, events.schema, table_path,
            key_cols=["user_id"], seq_col="seq",
            checkpoint=scratch + "/ckpt",
        )
        v_before = storage.snapshot_versions(table_path)[-1]
        # redeliver batch 1 by hand: the txn watermark must skip it
        first = spark.read.parquet(replay_dir).orderBy("event_id").limit(50)
        mor_sink.make_mor_upsert_handler(
            table_path, ["user_id"], "seq"
        )(first, 1)
        assert storage.snapshot_versions(table_path)[-1] == v_before, (
            "redelivered batch must not commit a new delta"
        )
        return (
            storage.read_snapshot(spark, table_path)
            .select(
                "user_id",
                F.col("event_type").alias("last_type"),
                F.col("event_id").alias("last_event"),
            )
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(replay_dir, ignore_errors=True)


@register(
    "q88b_stream_cdc_apply",
    sql="""
    SELECT user_id, event_id AS last_event, event_type AS last_type
    FROM (
        SELECT user_id, event_type, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ms(ts) DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1 AND event_type <> 'view' ORDER BY user_id
    """,
)
def q88b_stream_cdc_apply(spark, sf_dir):
    """Exactly-once STREAMING CDC APPLY with DELETE markers
    (:func:`streaming.sink.run_stream_cdc_apply` → q88's
    ``merge_apply_changes`` per micro-batch — the delete-capable member
    of the sink family after q60's upsert merge and q87's MOR deltas):
    every event becomes a change row whose op is 'D' when the event type
    is 'view' and 'U' otherwise, so a user's row EXISTS at the end iff
    their globally-latest event is a non-view — the current-state table
    a CDC consumer maintains when the feed carries tombstones. The
    replay is event-time-ordered (seq = ms·2^20 + event_id increases
    along it), so sequential per-batch application equals the one-shot
    oracle. Batch 0 bootstraps the table from the verb's own compacted
    rows, its non-deletes; every later batch is one MERGE. The txn
    watermark in the manifest is the single commit point, and a
    hand-redelivered batch is asserted to commit nothing."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.streaming import sink as cdc_sink

    events = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        (F.unix_millis("ts") * F.lit(1 << 20) + F.col("event_id"))
        .alias("seq"),
        F.when(F.col("event_type") == "view", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    replay_dir = write_replay_dir(
        events, n_files=4, order_col="event_id", sentinel=False
    )
    scratch = tempfile.mkdtemp(prefix="q88b_cdc_")
    table_path = scratch + "/table"
    try:
        cdc_sink.run_stream_cdc_apply(
            spark, replay_dir, events.schema, table_path,
            key_cols=["user_id"], seq_col="seq",
            checkpoint=scratch + "/ckpt",
        )
        v_before = storage.snapshot_versions(table_path)[-1]
        # redeliver batch 1 by hand: the txn watermark must skip it
        first = spark.read.parquet(replay_dir).orderBy("event_id").limit(50)
        cdc_sink.make_cdc_apply_handler(
            table_path, ["user_id"], "seq"
        )(first, 1)
        assert storage.snapshot_versions(table_path)[-1] == v_before, (
            "redelivered batch must not commit"
        )
        return (
            storage.read_snapshot(spark, table_path)
            .select(
                "user_id",
                F.col("event_id").alias("last_event"),
                F.col("event_type").alias("last_type"),
            )
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(replay_dir, ignore_errors=True)


_Q90_SQL = """
    WITH b AS (
        SELECT o_orderkey,
               CAST((ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1))
                     * 31
                     + ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)))
                    % 8 AS INTEGER) AS bucket,
               o_totalprice AS price
        FROM orders
    ), feed AS (
        SELECT o_orderkey, bucket, price, 1 AS seq,
               'insert' AS change_type, 1 AS version
        FROM b WHERE bucket < 6
        UNION ALL
        SELECT o_orderkey, bucket, price, 1, 'insert', 2
        FROM b WHERE bucket IN (6, 7)
        UNION ALL
        SELECT o_orderkey, bucket, price, 1, 'delete', 3
        FROM b WHERE bucket = 0
        UNION ALL
        SELECT o_orderkey, bucket, price + 1000, 2, 'upsert', 5
        FROM b WHERE bucket IN (2, 3)
        UNION ALL
        SELECT o_orderkey, bucket, price, 1, 'delete', 7
        FROM b WHERE bucket = 7
    )
    SELECT o_orderkey, bucket,
           CAST(FLOOR(price * 100 + 0.5) AS BIGINT) AS cents,
           CAST(seq AS BIGINT) AS seq, change_type,
           CAST(version AS BIGINT) AS version
    FROM feed ORDER BY version, o_orderkey
"""


@register("q90_changefeed", sql=_Q90_SQL)
def q90_changefeed(spark, sf_dir):
    """Incremental CHANGE-FEED source end-to-end
    (:func:`streaming.changefeed.read_changes_stream` — the CDC *reader*
    over the snapshot layer, offsets = snapshot versions): build a table
    whose history exercises EVERY transition kind the feed dispatches on
    (storage.classify_transition) — v1 initial write, v2 append, v3 DV
    delete, v4 DV purge (rewrite, empty delta), v5 MOR delta upsert, v6
    major compaction (rewrite, empty delta), v7 COW delete (rewrite,
    real deletes) — then replay the whole feed in one availableNow run
    through a memory sink and return the RAW change log. The oracle
    reconstructs each version's exact delta in SQL, so a green row pins
    insert/upsert/delete classification, per-version attribution, the
    deleted rows' old values, AND that the two pure-rewrite commits
    (purge, compaction) emit ZERO rows — the no-logical-change property
    the diff fallback must honor. The fold invariant (feed folded ==
    final table state) is asserted in-query; restart/vacuum/ordering
    semantics are pinned in tests/test_changefeed.py. Reference parity:
    the importer's patch-back loop
    (dp-dimension-importer handler/incoming_instance_handler.go:217-280)
    is exactly this incremental consumer."""
    import shutil
    import tempfile
    import uuid

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.operators.analytics import hash_bucket
    from dp_dimension_importer_spark.streaming import changefeed

    orders = table(spark, sf_dir, "orders")
    b = orders.select(
        "o_orderkey",
        hash_bucket("o_orderkey", 8).cast("int").alias("bucket"),
        F.col("o_totalprice").alias("price"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    scratch = tempfile.mkdtemp(prefix="q90_feed_")
    path = scratch + "/table"
    name = "q90_feed_" + uuid.uuid4().hex[:8]
    try:
        storage.write_snapshot(spark, b.filter("bucket < 6"), path)
        storage.write_snapshot(
            spark, b.filter("bucket IN (6, 7)"), path, mode="append"
        )
        storage.delete_where_snapshot(spark, path, "bucket = 0", mode="dv")
        storage.purge_deletion_vectors(spark, path)
        storage.upsert_delta_snapshot(
            spark,
            path,
            b.filter("bucket IN (2, 3)").withColumn(
                "price", F.col("price") + 1000
            ).withColumn("seq", F.lit(2).cast("bigint")),
            key_cols=["o_orderkey"],
            seq_col="seq",
        )
        storage.compact_mor(spark, path)
        storage.delete_where_snapshot(spark, path, "bucket = 7", mode="cow")
        assert storage.snapshot_versions(path) == [1, 2, 3, 4, 5, 6, 7]

        feed = changefeed.read_changes_stream(
            spark, path, key_cols=["o_orderkey"]
        )
        q = (
            feed.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", scratch + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        log = spark.table(name).localCheckpoint(eager=True)

        # fold invariant: the feed's net effect IS the final table
        folded = changefeed.changefeed_fold(
            log, ["o_orderkey"], seq_col="seq"
        ).select("o_orderkey", "bucket", "price", "seq")
        final = storage.read_snapshot(spark, path).select(
            "o_orderkey", "bucket", "price", "seq"
        )
        assert folded.exceptAll(final).count() == 0, "fold ⊄ final state"
        assert final.exceptAll(folded).count() == 0, "final state ⊄ fold"

        return (
            log.select(
                "o_orderkey",
                "bucket",
                F.floor(F.col("price") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
                F.col("seq").cast("long").alias("seq"),
                "change_type",
                F.col("_version").alias("version"),
            )
            .orderBy("version", "o_orderkey")
            .localCheckpoint(eager=True)
        )
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(scratch, ignore_errors=True)


@register(
    "q90b_changefeed_mv_stream",
    sql="""
    SELECT event_type,
           CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                AS BIGINT)                          AS sum_micros,
           COUNT(*)                                 AS cnt_rows,
           MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))    AS max_ts_epoch
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q90b_changefeed_mv_stream(spark, sf_dir):
    """The full CDC LOOP: snapshot table → incremental CHANGE FEED →
    exactly-once streaming MV (q90's source driving q69's sink — the
    end-to-end shape a production MV uses to track a table it doesn't
    own, and the streaming twin of mv_refresh_changefeed's batch
    wiring). Events land in a source snapshot table as FOUR append
    commits; :func:`streaming.changefeed.read_changes_stream` streams
    the per-version deltas; a ``foreachBatch`` handler
    (:func:`streaming.sink.make_agg_state_handler` — one state version
    per batch, committed with the batch id as the manifest ``txn``
    mark) merges each batch's mergeable partials into the MV. A
    hand-redelivered batch 0 must commit no version (asserted). The
    oracle is the
    one-shot GROUP BY over the full events table: feed-driven streaming
    MV == batch recompute exactly. Reference parity: the importer's
    patch-back loop (handler/incoming_instance_handler.go:217-280)
    consuming its own upstream feed."""
    import shutil
    import tempfile

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.operators.analytics import hash_bucket
    from dp_dimension_importer_spark.streaming import changefeed
    from dp_dimension_importer_spark.streaming import sink as agg_sink

    events = table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    ).withColumn("b", hash_bucket("event_id", 4))
    scratch = tempfile.mkdtemp(prefix="q90b_mv_")
    src = scratch + "/src"
    state_path = scratch + "/state"

    def partial(df):
        ins = df.filter(F.col("change_type") == "insert")
        m = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
        return ins.groupBy("event_type").agg(
            F.sum(m).alias("sum_micros"),
            F.count(F.lit(1)).alias("cnt_rows"),
            F.max(F.col("ts").cast("long")).alias("max_ts_epoch"),
        )

    try:
        for i in range(4):  # four append commits = four feed versions
            storage.write_snapshot(
                spark,
                events.filter(F.col("b") == i).drop("b"),
                src,
                mode="append" if i else "overwrite",
            )
        feed = changefeed.read_changes_stream(
            spark, src, key_cols=["event_id"]
        )
        handler = agg_sink.make_agg_state_handler(
            state_path, ["event_type"], partial
        )
        q = (
            feed.writeStream.foreachBatch(handler)
            .option("checkpointLocation", scratch + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        versions = storage.snapshot_versions(state_path)
        # hand-redelivery of an already-applied batch: no new version
        handler(spark.createDataFrame([], feed.schema), 0)
        assert storage.snapshot_versions(state_path) == versions, (
            "redelivered batch committed an MV version"
        )
        out = storage.read_snapshot(spark, state_path)
        return (
            out.select(
                "event_type", "sum_micros", "cnt_rows", "max_ts_epoch"
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


_Q90C_SQL = """
    WITH live AS (
        SELECT event_id, ts, event_type, value FROM events
        WHERE event_id % 3 = 0
          AND event_type = 'view'
          AND ts >= TIMESTAMP '2024-01-05 00:00:00'
          AND ts < TIMESTAMP '2024-01-10 00:00:00'
          AND NOT (event_id % 10 = 4)
    ), m_live AS (
        SELECT event_id, ts, event_type,
               CASE WHEN event_id % 2 = 0 THEN value + 500
                    ELSE value END AS value
        FROM events
        WHERE event_id % 9 = 0
          AND ts < TIMESTAMP '2024-01-13'
          AND event_type = 'view'
    ), u AS (
        SELECT 'appends' AS src, ts, value FROM live
        UNION ALL
        SELECT 'mor', ts, value FROM m_live
    )
    SELECT src, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM u GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("q90c_changefeed_partitioned", sql=_Q90C_SQL)
def q90c_changefeed_partitioned(spark, sf_dir):
    """PARTITION-ADMITTED change feed end-to-end (r12): a hidden-
    partitioned table (days(ts) × identity(event_type)) takes two
    partitioned appends and a DV delete; a consumer subscribed to ONE
    event type and a five-day window opens the feed with
    ``partition_where`` — append commits admit only matching partitions'
    files, the DV commit intersects its touched files with the same
    predicate (r11 verdict #7: a one-type consumer never reads another
    type's deletes), and a COW REWRITE confined to another partition
    emits nothing (r13: both diff endpoints restrict to admitted files,
    so compactions/DML in unsubscribed regions cost the consumer zero). Because identity/days admission is EXACT on
    partition-aligned predicates, the folded feed equals the live rows
    of the subscribed slice — which is what the oracle states over raw
    events, so a green row pins admission (no file wrongly dropped: the
    ADVICE r11 missed-change bug class), per-kind dispatch under
    partition_where, and the fold. Bucket-transform and conservative-
    superset cases are pinned in tests/test_changefeed.py.

    r14 MOR leg (r13 verdict #2 "Done"): a second, hidden-partitioned
    MOR table (identity(event_type), MOR keys (event_type, event_id))
    takes a delta-group upsert whose hive-routed files carry REAL
    partition tuples — the subscriber's feed admits the MOR commit
    EXACTLY by tuple (the table carries NO stats on purpose, so the
    r13 stat-range fallback would admit everything: the structural
    assert that only 'view' rows arrive from the MOR version pins
    tuple admission specifically)."""
    import datetime as dt
    import shutil
    import tempfile
    import uuid

    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.streaming import changefeed

    # bound the fixture cost (the bench showed the two hive-layout
    # commits dominating at sf0.1): a third of events, twelve days —
    # the day cut only shrinks the partition fan-out (the subscribed
    # window is days 5-9, so the result is untouched and the oracle
    # needs no mirror); the id cut IS mirrored in the oracle
    ev = (
        table(spark, sf_dir, "events")
        .filter("event_id % 3 = 0 AND ts < TIMESTAMP '2024-01-13'")
        .select("event_id", "ts", "event_type", "value")
    )
    spec = [("days", "ts"), ("identity", "event_type")]
    scratch = tempfile.mkdtemp(prefix="q90c_feed_")
    path = scratch + "/table"
    name = "q90c_feed_" + uuid.uuid4().hex[:8]
    try:
        def _appends_leg_fixture():
            storage.write_snapshot_partitioned(
                spark, ev.filter("event_id % 2 = 0"), path, spec
            )
            storage.write_snapshot_partitioned(
                spark, ev.filter("event_id % 2 = 1"), path, spec,
                mode="append",
            )
            r = storage.delete_where_snapshot(
                spark, path, "event_type = 'view' AND event_id % 10 = 4",
                mode="dv",
                # the predicate is view-confined: probe only view
                # partitions' files (r13 partition-tuple probe pruning —
                # the production one-type delete never scans the other
                # types' files; same matched rows, so the DV commit and
                # the feed are unchanged)
                partition_where={"event_type": ("=", "view")},
            )
            # r13 (r12 verdict #5): a COW rewrite confined to ANOTHER
            # partition ('click') — rewrite admission is now exact, so
            # the 'view' subscriber's diff never reads it and the feed
            # emits NOTHING for this version (pre-r13 the rewrite kind
            # passed through as a conservative superset: every region's
            # compaction reached every consumer)
            storage.update_where_snapshot(
                spark, path, {"value": F.col("value") + 1000.0},
                "event_type = 'click' AND event_id % 20 = 2",
                # r13: partition-tuple probe pruning — the click-confined
                # predicate probes only click partitions' files
                partition_where={"event_type": ("=", "click")},
            )
            return r

        # ---- r14 MOR leg fixture (disjoint path — built concurrently
        # with the appends leg, guide §2.6)
        mpath = scratch + "/mor_table"
        mname = "q90c_mor_" + uuid.uuid4().hex[:8]
        ev2 = ev.filter("event_id % 9 = 0").withColumn(
            "seq", F.lit(0).cast("long")
        )

        def _mor_leg_fixture():
            # NO stats_cols: the r13 stat-range fallback would admit
            # every file — tuple admission is the only thing that can
            # prune here
            storage.write_snapshot_partitioned(
                spark, ev2, mpath, [("identity", "event_type")]
            )
            delta = ev2.filter("event_id % 2 = 0").withColumn(
                "value", F.col("value") + 500.0
            ).withColumn("seq", F.lit(1).cast("long"))
            return storage.upsert_delta_snapshot(
                spark, mpath, delta, ["event_type", "event_id"], "seq"
            )

        r, v_mor = run_concurrently(
            _appends_leg_fixture, _mor_leg_fixture
        )
        feed = changefeed.read_changes_stream(
            spark, path, key_cols=["event_id"],
            partition_where={
                "event_type": ("=", "view"),
                "ts": ("between", dt.datetime(2024, 1, 5),
                       dt.datetime(2024, 1, 9, 23, 59, 59, 999999)),
            },
        )
        feed2 = changefeed.read_changes_stream(
            spark, mpath, key_cols=["event_type", "event_id"],
            partition_where={"event_type": ("=", "view")},
        )
        # both replays are independent availableNow drains: start both,
        # then await both — the second stream's micro-batch fills the
        # executors the first one's tail leaves idle (guide §2.6)
        q = (
            feed.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", scratch + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q2 = (
            feed2.writeStream.format("memory")
            .queryName(mname)
            .option("checkpointLocation", scratch + "/ckpt2")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q2.awaitTermination()
        # the drained log is O(changed rows) by design — orders of
        # magnitude under a table scan — but the memory sink hands it
        # back split across every micro-batch partition, and a
        # checkpointed RDD's partition count rides into EVERY
        # downstream scan stage (AQE can only coalesce post-shuffle
        # partitions, not source scans). Coalesce before the
        # checkpoint: narrow, no shuffle, and the fold's own window
        # exchange re-spreads heavy work regardless (guide §2.2).
        log = spark.table(name).coalesce(8).localCheckpoint(eager=True)
        # one aggregate instead of a distinct+collect scan (guide §5)
        kinds = set(
            log.agg(F.collect_set("change_type")).collect()[0][0]
        )
        assert kinds <= {"insert", "delete"}, kinds
        if r["dv_files_written"]:
            # the subscribed slice's deletes must have flowed
            assert "delete" in kinds
        live = changefeed.changefeed_fold(log, ["event_id"])
        # ---- r14 MOR leg: partitioned MOR table, exact tuple admission
        # (fixture + replay ran above, overlapped with the appends leg)
        log2 = spark.table(mname).coalesce(8).localCheckpoint(eager=True)
        # EXACT MOR admission pin: every row the feed delivered from
        # the MOR delta version is a subscribed ('view') row — with
        # stat-range admission (no stats recorded) non-view files
        # would have flowed. ONE aggregate job for both pins (guide §5
        # — was two separate count() actions over the same log)
        is_mor = (F.col("_version") == v_mor).cast("int")
        pins = log2.agg(
            F.sum(is_mor).alias("n_mor"),
            F.sum(
                is_mor * (F.col("event_type") != "view").cast("int")
            ).alias("n_bad"),
        ).collect()[0]
        assert pins["n_mor"] and pins["n_mor"] > 0
        assert not pins["n_bad"], (
            "MOR commit admitted a non-subscribed partition's file"
        )
        live2 = changefeed.changefeed_fold(
            log2, ["event_type", "event_id"]
        )
        # admission is exact on partition-aligned predicates: the fold
        # IS the subscribed slice, no residual row-filter needed — but
        # apply it anyway so the pin survives a future coarser transform
        cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        u = (
            live.filter(
                (F.col("event_type") == "view")
                & (F.col("ts") >= dt.datetime(2024, 1, 5))
                & (F.col("ts") < dt.datetime(2024, 1, 10))
            )
            .select("ts", "value")
            .withColumn("src", F.lit("appends"))
            .unionByName(
                live2.filter(F.col("event_type") == "view")
                .select("ts", "value")
                .withColumn("src", F.lit("mor"))
            )
        )
        return (
            u.groupBy(
                "src", F.date_format("ts", "yyyy-MM-dd").alias("day")
            )
            .agg(F.count("*").alias("n"),
                 F.sum(cents).alias("sum_cents"))
            .orderBy("src", "day")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
