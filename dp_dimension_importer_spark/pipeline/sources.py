"""Event sources: strict decode + dead-letter (reference R1/R2/R20).

The reference consumes Avro from Kafka and silently drops undecodable
messages (message/kafka_message_receiver.go:35-38) while still committing
the offset (message/consumer.go:39-41). We improve on the silent loss:
malformed payloads are split into a dead-letter DataFrame (SURVEY.md §1.3)
instead of vanishing, and checkpointing replaces commit-always.

Payload encoding here is JSON (the Avro schema is two string fields —
schema/schema.go:7-26; ``from_avro`` needs the spark-avro package, which is
not bundled, so the harness speaks JSON with the SAME strict-schema
semantics: unknown/missing fields and unparseable bytes → dead letter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from dp_dimension_importer_spark.pipeline.models import NEW_INSTANCE_SCHEMA
from dp_dimension_importer_spark.session import local_frame


def decode_events(raw: DataFrame, value_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """bytes/str payloads → (decoded NewInstance events, dead letters).

    A payload is dead-lettered when it is not a JSON object matching the
    schema (from_json → NULL struct) — mirroring drop-on-bad-avro
    (kafka_message_receiver_test.go:51-76) but keeping the evidence.
    Works identically on batch and streaming DataFrames.
    """
    parsed = raw.withColumn(
        "_event",
        F.from_json(F.col(value_col).cast("string"), NEW_INSTANCE_SCHEMA),
    )
    # from_json yields a NULL struct for undecodable payloads; an all-null
    # struct (valid JSON, wrong fields) is equally undecodable for us.
    is_valid = F.col("_event").isNotNull() & (
        F.col("_event.instance_id").isNotNull() | F.col("_event.file_url").isNotNull()
    )
    events = (
        parsed.filter(is_valid)
        .select(F.col("_event.file_url").alias("file_url"),
                F.col("_event.instance_id").alias("instance_id"))
    )
    dead = parsed.filter(~is_valid).select(
        F.col(value_col).cast("string").alias("payload"),
        F.lit("undecodable payload").alias("reason"),
    )
    return events, dead


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based event stream: one JSON payload per line, column ``value``.

    Stand-in for ``spark.readStream.format("kafka")`` (same downstream
    contract: a ``value`` column of raw bytes/strings); swap the source
    without touching decode/import logic.
    """
    return (
        spark.readStream.format("text")
        .load(path)
        .withColumnRenamed("value", "value")
    )


def read_event_batch(spark: SparkSession, payloads: list[str | None]) -> DataFrame:
    """A batch of raw payloads already on the driver, as a local frame
    (``session.local_frame``) with one ``value`` column: decoding it runs
    no Spark job and no Python worker. The batch runner and tests use it."""
    schema = T.StructType([T.StructField("value", T.StringType())])
    return local_frame(spark, [(p,) for p in payloads], schema)


def kafka_reader_options(
    brokers: list[str],
    topic: str = "dimensions-extracted",
    consumer_group: str = "dp-dimension-importer",
    offset_oldest: bool = True,
) -> dict[str, str]:
    """Reference consumer config → spark-sql-kafka reader options
    (config/config.go:56-67: KAFKA_ADDR, DIMENSIONS_EXTRACTED_TOPIC,
    DIMENSIONS_EXTRACTED_CONSUMER_GROUP, KAFKA_OFFSET_OLDEST). Pure mapping
    so the contract is testable without a broker. ``failOnDataLoss=false``
    mirrors the reference's commit-always consumer (message/consumer.go:
    39-41) — it never re-reads a lost offset either."""
    return {
        "kafka.bootstrap.servers": ",".join(brokers),
        "subscribe": topic,
        "kafka.group.id": consumer_group,
        "startingOffsets": "earliest" if offset_oldest else "latest",
        "failOnDataLoss": "false",
    }


def read_kafka_event_stream(
    spark: SparkSession, brokers: list[str], topic: str = "dimensions-extracted", **kw
) -> DataFrame:
    """R1 as one ``.format()`` swap: same downstream contract as
    ``read_event_stream`` — a ``value`` column of raw bytes — so decode
    (JSON or Avro via ``avro_codec.decode_events_avro``) and the import
    transform are untouched. Requires the spark-sql-kafka package on the
    cluster; everything else in the pipeline is package-agnostic."""
    return (
        spark.readStream.format("kafka")
        .options(**kafka_reader_options(brokers, topic, **kw))
        .load()
        .select("value")
    )


def read_csv_strict(
    spark: SparkSession, path: str, schema, header: bool = True
) -> tuple[DataFrame, DataFrame]:
    """CSV with the same strict-decode + dead-letter contract as
    ``decode_events`` (reference R2: drop-on-bad-record, improved to keep
    the evidence): rows that fail the declared schema come back in a second
    DataFrame instead of silently vanishing (or poisoning columns as nulls).

    Spark-native mechanics: PERMISSIVE mode + ``columnNameOfCorruptRecord``
    captures the raw line of every malformed row; the good frame drops the
    capture column, so downstream plans see exactly ``schema``."""
    from pyspark.sql import types as T

    full = T.StructType(
        schema.fields + [T.StructField("_corrupt", T.StringType())]
    )
    df = (
        spark.read.schema(full)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        .cache()  # one pass decides good/bad; uncached, each side re-parses
    )
    good = df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    dead = df.filter(F.col("_corrupt").isNotNull()).select(
        F.col("_corrupt").alias("payload"),
        F.lit("malformed csv row").alias("reason"),
    )
    return good, dead


def read_jsonl_strict(
    spark: SparkSession, path: str, schema
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines twin of :func:`read_csv_strict` — same strict-decode +
    dead-letter contract over ``spark.read.json`` (a different parser
    with different failure modes: type mismatches and truncated objects
    rather than column-count drift). PERMISSIVE +
    ``columnNameOfCorruptRecord`` captures each malformed line verbatim;
    the good frame sees exactly ``schema``."""
    from pyspark.sql import types as T

    full = T.StructType(
        schema.fields + [T.StructField("_corrupt", T.StringType())]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        .cache()  # one pass decides good/bad; uncached, each side re-parses
    )
    good = df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    dead = df.filter(F.col("_corrupt").isNotNull()).select(
        F.col("_corrupt").alias("payload"),
        F.lit("malformed json line").alias("reason"),
    )
    return good, dead
