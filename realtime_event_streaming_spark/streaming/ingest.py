"""Streaming ingestion: wire JSON -> typed events -> raw fact table.

Reference dataflow (SURVEY.md §3 entry 1): Kafka source
(StreamJob.java:205-211) -> Jackson parse with malformed-row drop
(:228-249) -> watermark 10 s (:215) -> JDBC raw sink with ingest
timestamp (:307-329).

Spark form: any (key, value)-shaped source — ``format("kafka")`` in
production, file/rate sources in tests (the transformations are
source-agnostic DataFrame code; the engine has no hard Kafka
dependency). Every JSON parser here and in ``corpus_ingest`` goes
through ``json_columns``, which evaluates ``from_json`` once per record
(the reference parses twice — SURVEY.md §1.5.4). Malformed JSON parses
to all-null columns, so the null-``ts`` filter drops it together with
records that lack a timestamp (DROPMALFORMED semantics, §1.4);
unparseable timestamps are dropped, not wall-clock-faked (§1.5.5).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

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


def json_columns(
    raw: DataFrame,
    schema: StructType,
    value_col: str = "value",
    options: dict[str, str] | None = None,
    keep_raw: bool = False,
) -> DataFrame:
    """Wire JSON in ``value_col`` -> one column per ``schema`` field,
    the wire fields null when the record does not parse; ``keep_raw``
    also keeps the payload string as ``raw``.

    The parse runs inside a generator (``inline`` of a one-element
    array) so that it happens once per record. In the plain form,
    ``select(from_json(...) AS e).where(e.ts IS NOT NULL)``, Catalyst
    pushes the filter beneath the Project that defines ``e`` and copies
    the parse into it: three parses per row. A filter on a generator's
    output columns cannot move below the Generate."""
    value = F.col(value_col).cast("string")
    keep = [value.alias("raw")] if keep_raw else []
    return raw.select(
        *keep, F.inline(F.array(F.from_json(value, schema, options)))
    )


def _click_events(events: DataFrame, watermark: str) -> DataFrame:
    """Wire columns -> the typed click schema (ts as a timestamp),
    watermarked."""
    return (
        events.select(*CLICK_WIRE_SCHEMA.fieldNames())
        .withColumn("ts", F.timestamp_millis("ts"))
        .withWatermark("ts", watermark)
    )


def parse_clicks(
    raw: DataFrame, value_col: str = "value", watermark: str = WATERMARK
) -> DataFrame:
    """Wire JSON -> typed click events with event-time watermark, one
    ``from_json`` per record (``json_columns``).

    Works identically on streaming and batch frames (the same logical
    plan incrementalizes — that is the point of Structured Streaming),
    so the Kafka source, the file source, batch frames and the replay
    plans share this one code path.

    ``watermark`` defaults to the reference's 10 s bounded
    out-of-orderness; the exact-distinct rollup passes a longer delay
    (window length + lateness, ``agg.EXACT_WATERMARK``), which decides
    which late events it counts (see streaming/agg.py).
    """
    events = json_columns(raw, CLICK_WIRE_SCHEMA, value_col)
    # DROPMALFORMED: bad JSON parses to all-null columns, so a null ts
    # is the whole test.
    return _click_events(events.where(F.col("ts").isNotNull()), watermark)


def parse_clicks_with_dlq(
    raw: DataFrame, value_col: str = "value", watermark: str = WATERMARK
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE ingestion: returns (events, dead_letters).

    Production alternative to DROPMALFORMED: malformed records are not
    silently discarded but routed to a dead-letter frame carrying the
    raw payload and a reason — replayable after a parser fix. Both
    frames derive from one ``json_columns`` parse, so each frame's plan
    evaluates ``from_json`` once per record.

    Unparseable input fills the corrupt-record column and leaves the
    wire fields null, which tells malformed JSON from a missing ts."""
    # NOTE: StructType.add MUTATES in place — build a fresh schema so
    # the shared CLICK_WIRE_SCHEMA is never modified.
    schema_with_corrupt = StructType(
        list(CLICK_WIRE_SCHEMA.fields) + [StructField("_corrupt", StringType())]
    )
    parsed = json_columns(
        raw,
        schema_with_corrupt,
        value_col,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        keep_raw=True,
    )
    bad = F.col("_corrupt").isNotNull() | F.col("ts").isNull()
    ok = _click_events(parsed.where(~bad), watermark)
    dlq = parsed.where(bad).select(
        "raw",
        F.when(F.col("_corrupt").isNotNull(), "malformed-json")
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
