"""Streaming ingestion: wire JSON -> typed events -> raw fact table.

Reference dataflow (SURVEY.md §3 entry 1): Kafka source
(StreamJob.java:205-211) -> Jackson parse with malformed-row drop
(:228-249) -> watermark 10 s (:215) -> JDBC raw sink with ingest
timestamp (:307-329).

Spark form: any (key, value)-shaped source — ``format("kafka")`` in
production, file/rate sources in tests (the transformations are
source-agnostic DataFrame code; the engine has no hard Kafka
dependency). Parse ONCE with ``from_json`` (the reference parses twice
— SURVEY.md §1.5.4); malformed JSON yields null structs which we drop
(DROPMALFORMED semantics, §1.4); unparseable timestamps are dropped,
not wall-clock-faked (§1.5.5).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..schemas import CLICK_WIRE_SCHEMA

WATERMARK = "10 seconds"  # StreamJob.java:215


def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str = "click_events",
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source in the reference's configuration (topic
    `click_events`, latest offsets — StreamJob.java:205-211). Returns
    the raw (key, value, ...) frame; feed to ``parse_clicks``.

    Requires the spark-sql-kafka package on the classpath; every
    transformation downstream is source-agnostic, so tests use
    ``read_json_file_stream`` instead of a broker. The wire contract
    itself (key=user_id, 7-field flat JSON value) is pinned without a
    broker by tests/test_streaming.py::test_kafka_wire_contract_round_trip.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def write_kafka_sink(
    df: DataFrame, brokers: str, topic: str, checkpoint: str
):
    """Kafka producer parity (produce.py:148-174: key=user_id,
    value=JSON): expects (key, value) columns, e.g. from
    ``sources.clickgen.as_json_records`` (whose exact wire shape is
    round-trip tested against ``parse_clicks`` — see
    test_kafka_wire_contract_round_trip)."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def read_json_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """File-source stream of JSON-lines — the test-harness stand-in for
    the Kafka source.

    ``max_files_per_trigger=1`` (default) gives deterministic
    one-file-per-batch replay for tests; pass ``None`` for live tailing
    (each trigger drains ALL newly arrived files — capping it on a live
    source builds an ever-growing backlog and inflates latency).
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def parse_clicks(
    raw: DataFrame, value_col: str = "value", watermark: str = WATERMARK
) -> DataFrame:
    """Wire JSON -> typed click events with event-time watermark.

    Works identically on streaming and batch frames (the same logical
    plan incrementalizes — that is the point of Structured Streaming).

    ``watermark`` defaults to the reference's 10 s bounded
    out-of-orderness; the exact-distinct rollup passes a longer delay
    (window length + lateness, ``agg.EXACT_WATERMARK``), which decides
    which late events it counts (see streaming/agg.py).
    """
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), CLICK_WIRE_SCHEMA).alias("e")
    )
    return (
        parsed
        # DROPMALFORMED: null struct (bad JSON) or null/absent ts.
        .where(F.col("e").isNotNull() & F.col("e.ts").isNotNull())
        .select(
            F.col("e.event_id").alias("event_id"),
            F.col("e.user_id").alias("user_id"),
            F.timestamp_millis(F.col("e.ts")).alias("ts"),
            F.col("e.page").alias("page"),
            F.col("e.referrer").alias("referrer"),
            F.col("e.country").alias("country"),
            F.col("e.device").alias("device"),
        )
        .withWatermark("ts", watermark)
    )


def parse_clicks_with_dlq(
    raw: DataFrame, value_col: str = "value", watermark: str = WATERMARK
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE ingestion: returns (events, dead_letters).

    Production alternative to DROPMALFORMED: malformed records are not
    silently discarded but routed to a dead-letter frame carrying the
    raw payload and a reason — replayable after a parser fix. Both
    frames derive from one ``from_json`` pass (no double parse).

    ``from_json`` yields an all-NULL struct (not a null) for unparseable
    input, so malformed-vs-missing-field is distinguished via the
    corrupt-record column."""
    from pyspark.sql.types import StringType, StructField, StructType

    # NOTE: StructType.add MUTATES in place — build a fresh schema so
    # the shared CLICK_WIRE_SCHEMA is never modified.
    schema_with_corrupt = StructType(
        list(CLICK_WIRE_SCHEMA.fields) + [StructField("_corrupt", StringType())]
    )
    parsed = raw.select(
        F.col(value_col).cast("string").alias("raw"),
        F.from_json(
            F.col(value_col).cast("string"),
            schema_with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("e"),
    )
    bad = F.col("e._corrupt").isNotNull() | F.col("e.ts").isNull()
    ok = (
        parsed.where(~bad)
        .select(
            F.col("e.event_id").alias("event_id"),
            F.col("e.user_id").alias("user_id"),
            F.timestamp_millis(F.col("e.ts")).alias("ts"),
            F.col("e.page").alias("page"),
            F.col("e.referrer").alias("referrer"),
            F.col("e.country").alias("country"),
            F.col("e.device").alias("device"),
        )
        .withWatermark("ts", watermark)
    )
    dlq = parsed.where(bad).select(
        "raw",
        F.when(F.col("e._corrupt").isNotNull(), "malformed-json")
        .otherwise("missing-ts")
        .alias("reason"),
        F.current_timestamp().alias("rejected_at"),
    )
    return ok, dlq


def write_raw_events(events: DataFrame, path: str, checkpoint: str, trigger=None):
    """Raw append sink with ingest timestamp (reference clicks_raw:
    created_at DEFAULT now(), clickhouse_tables.sql:14; 10 s batching
    StreamJob.java:318-322 -> processingTime trigger). Month partition
    for pruning parity with MergeTree PARTITION BY toYYYYMM."""
    out = events.withColumn("created_at", F.current_timestamp()).withColumn(
        "month", F.date_format("ts", "yyyyMM")
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("month")
        .outputMode("append")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
