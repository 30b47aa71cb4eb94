"""Fault tolerance: restart from checkpoint must be exactly-once.

Reference relies on Flink's 30 s checkpoints (StreamJob.java:199);
Spark checkpoints every micro-batch. This test stops the rollup query
mid-stream, delivers the rest of the data, restarts against the SAME
checkpoint and sink, and asserts the final table equals the batch truth
with no duplicated windows.

The rollup keeps its window state on one shuffle partition
(``write_rollup``); a checkpoint written at another count resumes at
that count."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from realtime_event_streaming_spark.sources.clickgen import (
    as_json_records,
    generate_clicks,
    write_stream_fixture,
)
from realtime_event_streaming_spark.schemas import CLICK_WIRE_SCHEMA
from realtime_event_streaming_spark.session import shuffle_partitions
from realtime_event_streaming_spark.streaming.agg import (
    EXACT_WATERMARK,
    minute_rollup_batch,
    minute_rollup_stream_exact,
    write_rollup,
)
from realtime_event_streaming_spark.streaming.deploy import start_pipeline
from realtime_event_streaming_spark.streaming.ingest import (
    parse_clicks,
    read_json_file_stream,
    write_raw_events,
)


_PROVIDERS = [
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
]


@pytest.mark.parametrize("provider", _PROVIDERS, ids=["hdfs", "rocksdb"])
def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path, provider):
    """Both state-store providers (the in-memory default and RocksDB —
    the 100 TB deployment choice for large keyed state) recover
    exactly-once from the same mid-stream restart. The provider class is
    pinned into the checkpoint at first run; each param uses its own
    tmp_path so the two never mix."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try:
        _run_recovery_scenario(spark, tmp_path)
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def _run_recovery_scenario(spark, tmp_path):
    d = str(tmp_path)
    clicks = generate_clicks(spark, n_events=3000, n_users=100, rate_per_sec=5)
    write_stream_fixture(clicks, d + "/all", n_files=6)
    parts = sorted(p for p in os.listdir(d + "/all") if p.startswith("part-"))
    os.makedirs(d + "/in")
    for p in parts[:3]:
        shutil.copy2(os.path.join(d + "/all", p), os.path.join(d + "/in", p))

    def run_once():
        stream = parse_clicks(
            read_json_file_stream(spark, d + "/in"), watermark=EXACT_WATERMARK
        )
        q = write_rollup(
            minute_rollup_stream_exact(stream),
            d + "/agg",
            d + "/ck",
            trigger={"availableNow": True},
        )
        q.awaitTermination(300)

    run_once()
    n_phase1 = spark.read.parquet(d + "/agg").count()
    assert n_phase1 > 0, "phase 1 should finalize some windows"

    for p in parts[3:]:
        shutil.copy2(os.path.join(d + "/all", p), os.path.join(d + "/in", p))
    run_once()

    emitted = spark.read.parquet(d + "/agg").drop("month")
    truth = minute_rollup_batch(parse_clicks(as_json_records(clicks)))
    joined = emitted.alias("s").join(
        truth.alias("b"), ["window_start", "page", "country"]
    )
    mism = joined.where(
        (F.col("s.cnt") != F.col("b.cnt"))
        | (F.col("s.unique_users") != F.col("b.unique_users"))
    ).count()
    dups = (
        emitted.groupBy("window_start", "page", "country")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert emitted.count() > n_phase1, "restart must process the new files"
    assert mism == 0, "restarted query diverged from batch truth"
    assert dups == 0, "restart double-emitted windows"


def test_pipeline_resumes_checkpoints_of_the_nested_struct_parse(
    spark, tmp_path
):
    """Checkpoints written by the earlier parse shape (``from_json`` into
    one struct column, filtered on that struct) resume under
    ``start_pipeline``'s single-parse wiring: the raw sink stays
    exactly-once and the rollup still equals the batch truth."""
    d = str(tmp_path)
    clicks = generate_clicks(spark, n_events=3000, n_users=100, rate_per_sec=5)
    write_stream_fixture(clicks, d + "/all", n_files=6)
    parts = sorted(p for p in os.listdir(d + "/all") if p.startswith("part-"))
    os.makedirs(d + "/in")

    def deliver(names):
        for p in names:
            shutil.copy2(os.path.join(d + "/all", p), os.path.join(d + "/in", p))

    deliver(parts[:3])
    e = F.col("e")
    nested = (
        read_json_file_stream(spark, d + "/in")
        .select(F.from_json(F.col("value"), CLICK_WIRE_SCHEMA).alias("e"))
        .where(e.isNotNull() & e.ts.isNotNull())
        .select(
            *[
                F.timestamp_millis(e.ts).alias(c) if c == "ts" else e[c].alias(c)
                for c in CLICK_WIRE_SCHEMA.fieldNames()
            ]
        )
        .withWatermark("ts", EXACT_WATERMARK)
    )
    drain = {"availableNow": True}
    old = [
        write_raw_events(
            nested, d + "/out/clicks_raw", d + "/out/_ck_raw", drain
        ),
        write_rollup(
            minute_rollup_stream_exact(nested),
            d + "/out/page_minute_agg",
            d + "/out/_ck_agg",
            trigger=drain,
        ),
    ]
    for q in old:
        q.awaitTermination(300)
    n_raw_phase1 = spark.read.parquet(d + "/out/clicks_raw").count()
    n_agg_phase1 = spark.read.parquet(d + "/out/page_minute_agg").count()
    assert 0 < n_raw_phase1 < 3000 and n_agg_phase1 > 0

    deliver(parts[3:])
    start_pipeline(spark, d + "/in", d + "/out").await_all(300)

    raw = spark.read.parquet(d + "/out/clicks_raw")
    assert raw.count() == 3000
    assert raw.select("event_id").distinct().count() == 3000
    emitted = spark.read.parquet(d + "/out/page_minute_agg").drop("month")
    assert emitted.count() > n_agg_phase1, "resume must process the new files"
    keys = ["window_start", "page", "country"]
    truth = (
        minute_rollup_batch(parse_clicks(as_json_records(clicks)))
        .join(emitted.select(*keys), keys)
        .select(*emitted.columns)
    )
    assert emitted.exceptAll(truth).count() == 0, "resumed rollup diverged"
    dups = emitted.groupBy(*keys).count().where(F.col("count") > 1).count()
    assert dups == 0, "resume double-emitted windows"


_SHUFFLE_KEY = "spark.sql.shuffle.partitions"
_KEYS = ["window_start", "page", "country"]


def _wire_fixture(spark, d):
    """The 3000-event wire fixture in six files under ``d/all``; returns
    the clicks and the file names in order."""
    clicks = generate_clicks(spark, n_events=3000, n_users=100, rate_per_sec=5)
    write_stream_fixture(clicks, d + "/all", n_files=6)
    parts = sorted(p for p in os.listdir(d + "/all") if p.startswith("part-"))
    os.makedirs(d + "/in")
    return clicks, parts


def _deliver(d, names):
    for p in names:
        shutil.copy2(os.path.join(d + "/all", p), os.path.join(d + "/in", p))


def _state_partitions(ck) -> list[str]:
    op = os.path.join(ck, "state", "0")
    return sorted(n for n in os.listdir(op) if n.isdigit())


def _assert_rollup_is_batch_truth(spark, clicks, agg_path):
    emitted = spark.read.parquet(agg_path).drop("month")
    assert emitted.count() > 0
    truth = (
        minute_rollup_batch(parse_clicks(as_json_records(clicks)))
        .join(emitted.select(*_KEYS), _KEYS)
        .select(*emitted.columns)
    )
    assert emitted.exceptAll(truth).count() == 0, "rollup diverged"
    assert truth.exceptAll(emitted).count() == 0, "rollup diverged"
    dups = emitted.groupBy(*_KEYS).count().where(F.col("count") > 1).count()
    assert dups == 0, "rollup double-emitted windows"


def test_pipeline_rollup_state_runs_on_one_partition(spark, tmp_path):
    """The rollup's window state lives on one shuffle partition whatever
    the session's count, and starting it leaves the session's count as
    it was."""
    d = str(tmp_path)
    clicks, parts = _wire_fixture(spark, d)
    _deliver(d, parts)
    before = spark.conf.get(_SHUFFLE_KEY, None)
    assert before != "1"

    pipe = start_pipeline(spark, d + "/in", d + "/out")
    assert spark.conf.get(_SHUFFLE_KEY, None) == before
    pipe.await_all(300)

    (op,) = pipe.rollup_query.lastProgress["stateOperators"]
    assert op["numShufflePartitions"] == 1
    assert op["numStateStoreInstances"] == 1
    assert _state_partitions(d + "/out/_ck_agg") == ["0"]
    _assert_rollup_is_batch_truth(spark, clicks, d + "/out/page_minute_agg")


def test_rollup_checkpoint_keeps_its_recorded_partition_count(spark, tmp_path):
    """A rollup checkpoint written at 8 shuffle partitions (the session
    count, before the rollup pinned its own) resumes through
    ``write_rollup`` at 8, exactly-once."""
    d = str(tmp_path)
    clicks, parts = _wire_fixture(spark, d)
    agg_path, ck = d + "/agg", d + "/ck"

    def stream():
        return parse_clicks(
            read_json_file_stream(spark, d + "/in"), watermark=EXACT_WATERMARK
        )

    _deliver(d, parts[:3])
    with shuffle_partitions(spark, 8):
        q = (
            minute_rollup_stream_exact(stream())
            .withColumn("month", F.date_format("window_start", "yyyyMM"))
            .writeStream.format("parquet")
            .option("path", agg_path)
            .option("checkpointLocation", ck)
            .partitionBy("month")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(300)
    n_phase1 = spark.read.parquet(agg_path).count()
    assert n_phase1 > 0, "phase 1 should finalize some windows"
    assert len(_state_partitions(ck)) == 8

    _deliver(d, parts[3:])
    q = write_rollup(
        minute_rollup_stream_exact(stream()),
        agg_path,
        ck,
        trigger={"availableNow": True},
    )
    q.awaitTermination(300)

    (op,) = q.lastProgress["stateOperators"]
    assert op["numShufflePartitions"] == 8
    assert len(_state_partitions(ck)) == 8
    assert spark.read.parquet(agg_path).count() > n_phase1
    _assert_rollup_is_batch_truth(spark, clicks, agg_path)


def test_shuffle_partitions_restores_the_prior_value(spark):
    before = spark.conf.get(_SHUFFLE_KEY, None)
    try:
        with shuffle_partitions(spark, 3):
            assert spark.conf.get(_SHUFFLE_KEY) == "3"
        assert spark.conf.get(_SHUFFLE_KEY, None) == before

        spark.conf.unset(_SHUFFLE_KEY)
        unset = spark.conf.get(_SHUFFLE_KEY, None)
        with shuffle_partitions(spark, 1):
            assert spark.conf.get(_SHUFFLE_KEY) == "1"
        assert spark.conf.get(_SHUFFLE_KEY, None) == unset
    finally:
        spark.conf.set(_SHUFFLE_KEY, before)
