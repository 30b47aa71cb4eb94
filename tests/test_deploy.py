"""Deployment wiring, observability, and rollup backfill."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from realtime_event_streaming_spark.io import backfill_minute_rollup
from realtime_event_streaming_spark.sources.clickgen import (
    generate_clicks,
    write_stream_fixture,
)
from realtime_event_streaming_spark.streaming.deploy import (
    ProgressRecorder,
    data_lag_seconds,
    query_metrics,
    start_pipeline,
)


def test_pipeline_wiring_and_metrics(spark, tmp_path):
    clicks = generate_clicks(spark, n_events=2500, n_users=100, rate_per_sec=5)
    write_stream_fixture(clicks, str(tmp_path / "wire"), n_files=4)

    pipe = start_pipeline(spark, str(tmp_path / "wire"), str(tmp_path / "out"))
    pipe.await_all()

    raw = spark.read.parquet(str(tmp_path / "out" / "clicks_raw"))
    agg = spark.read.parquet(str(tmp_path / "out" / "page_minute_agg"))
    assert raw.count() == 2500
    assert agg.count() > 100

    metrics = query_metrics(pipe.raw_query)
    assert metrics, "expected per-batch progress"
    assert sum(m["input_rows"] for m in metrics) == 2500
    assert all(m["batch_duration_ms"] > 0 for m in metrics)
    # every data batch reports where its time went, phase by phase
    for m in metrics:
        for phase in ("latest_offset", "get_batch", "query_planning",
                      "add_batch", "wal_commit", "commit_offsets"):
            assert m[f"{phase}_ms"] is not None and m[f"{phase}_ms"] >= 0
        assert m["add_batch_ms"] <= m["batch_duration_ms"]
    # the stateless raw query has no state to report
    assert all(m["state_rows"] == m["state_commit_ms"] == 0 for m in metrics)
    # rollup query exposes stateful-operator rows and a moving watermark
    roll = query_metrics(pipe.rollup_query)
    assert any(m["state_rows"] > 0 for m in roll)
    assert any(m["state_memory_bytes"] > 0 for m in roll)
    assert any(m["state_commit_ms"] > 0 for m in roll)
    # the fixture delivers events in order: nothing falls behind the
    # watermark, and the count is reported as a number, not missing
    assert all(m["rows_dropped_by_watermark"] == 0 for m in roll)
    assert any(m["watermark"] and m["watermark"].startswith("2024-") for m in roll)
    # per-batch event-time lag: fixture events are dated 2024-01-01, so
    # lag is large and positive whenever eventTime.max is reported
    lags = [m["data_lag_seconds"] for m in roll if m["data_lag_seconds"] is not None]
    assert lags and all(lag > 0 for lag in lags)

    # reference formula-exact at-rest lag: now() - max(created_at); the
    # raw sink stamped created_at moments ago, so the lag is tiny
    lag = data_lag_seconds(spark, str(tmp_path / "out" / "clicks_raw"))
    assert lag is not None and 0 <= lag < 600

    rec = ProgressRecorder(str(tmp_path / "metrics.jsonl"))
    n = rec.record(pipe.raw_query)
    lines = [json.loads(l) for l in open(tmp_path / "metrics.jsonl")]
    assert len(lines) == n and lines[0]["input_rows"] is not None
    assert lines[0]["wal_commit_ms"] is not None
    assert "state_memory_bytes" in lines[0]


def test_backfill_matches_streaming_rollup(spark, tmp_path):
    clicks = generate_clicks(spark, n_events=2500, n_users=100, rate_per_sec=5)
    write_stream_fixture(clicks, str(tmp_path / "wire"), n_files=4)
    pipe = start_pipeline(spark, str(tmp_path / "wire"), str(tmp_path / "out"))
    pipe.await_all()

    agg_path = str(tmp_path / "out" / "page_minute_agg")
    # materialize the streaming result BEFORE the backfill rewrites the dir
    streamed_rows = spark.read.parquet(agg_path).drop("month").collect()
    streamed = spark.createDataFrame(
        streamed_rows, spark.read.parquet(agg_path).drop("month").schema
    )

    n = backfill_minute_rollup(
        spark, str(tmp_path / "out" / "clicks_raw"), agg_path, "202401"
    )
    rebuilt = spark.read.parquet(agg_path).drop("month")
    assert rebuilt.count() == n
    # backfill covers ALL windows (incl. never-finalized tail), and on
    # the finalized ones it agrees with what streaming wrote
    assert n >= streamed.count()
    j = streamed.alias("s").join(
        rebuilt.alias("b"), ["window_start", "page", "country"]
    )
    assert j.count() == streamed.count()
    assert (
        j.where(
            (F.col("s.cnt") != F.col("b.cnt"))
            | (F.col("s.unique_users") != F.col("b.unique_users"))
        ).count()
        == 0
    )
