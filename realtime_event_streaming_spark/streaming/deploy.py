"""Deployment wiring and observability for the streaming pipeline.

``start_pipeline`` assembles the reference's full dataflow (SURVEY.md
§3 entry 1) as managed queries: wire source -> parse -> raw sink +
exact rollup sink; the anomaly stage chains off the rollup table. The
CLI's ``pipeline`` command and tests drive the same wiring.

``query_metrics`` / ``ProgressRecorder`` replace the reference's
Prometheus/Grafana surface (MONITORING_SETUP.md): per-query input
rate, process rate, batch duration and its phases, watermark and state
health, as plain dicts / JSONL — scrapeable by anything.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from .agg import EXACT_WATERMARK, minute_rollup_stream_exact, write_rollup
from .ingest import parse_clicks, read_json_file_stream, write_raw_events


@dataclass
class Pipeline:
    raw_query: StreamingQuery
    rollup_query: StreamingQuery

    def await_all(self, timeout: int = 600) -> None:
        self.raw_query.awaitTermination(timeout)
        self.rollup_query.awaitTermination(timeout)

    def stop(self) -> None:
        for q in (self.raw_query, self.rollup_query):
            if q.isActive:
                q.stop()


#: Both stages drain what is present when they start, then stop.
_DRAIN = {"availableNow": True}


def start_pipeline(
    spark: SparkSession, wire_path: str, out_dir: str
) -> Pipeline:
    """Start the ingestion + rollup queries over a wire-format JSON
    directory; they drain the files present at start (one file per
    micro-batch) and stop. Live tailing composes
    ``read_json_file_stream(..., max_files_per_trigger=None)`` with the
    same parse and sinks under the default trigger. Swap
    ``read_json_file_stream`` for ``read_kafka_stream`` in a Kafka
    deployment — everything downstream is identical."""
    stream = parse_clicks(
        read_json_file_stream(spark, wire_path), watermark=EXACT_WATERMARK
    )
    q1 = write_raw_events(
        stream, f"{out_dir}/clicks_raw", f"{out_dir}/_ck_raw", trigger=_DRAIN
    )
    q2 = write_rollup(
        minute_rollup_stream_exact(stream),
        f"{out_dir}/page_minute_agg",
        f"{out_dir}/_ck_agg",
        trigger=_DRAIN,
    )
    return Pipeline(raw_query=q1, rollup_query=q2)


def start_anomaly_stage(
    spark: SparkSession, out_dir: str, sink_name: str = "anomaly_scored"
) -> StreamingQuery:
    """Stage 2 of the deployment: drain the rollup table through the
    Welford scorer into a memory sink (swap for a Kafka/console sink in
    production). Decoupled from the rollup query via storage — each
    stage restarts and backfills independently (SURVEY.md §3)."""
    from .anomaly_stream import score_rollup_stream

    agg_path = f"{out_dir}/page_minute_agg"
    schema = spark.read.parquet(agg_path).schema
    rollup = spark.readStream.schema(schema).parquet(agg_path)
    return (
        score_rollup_stream(rollup.drop("month"))
        .writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .trigger(**_DRAIN)
        .start()
    )


def _iso_to_epoch(s: str | None) -> float | None:
    if not s:
        return None
    from datetime import datetime, timezone

    try:
        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()
    except ValueError:
        return None


#: Micro-batch phases of progress ``durationMs``, in the order Spark runs
#: them, recorded as ``<name>_ms`` (None when a batch skipped the phase).
PHASES = {
    "latest_offset": "latestOffset",
    "get_batch": "getBatch",
    "query_planning": "queryPlanning",
    "add_batch": "addBatch",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
}

#: State-operator health, summed over the batch's stateful operators.
STATE_HEALTH = {
    "state_rows": "numRowsTotal",
    "state_commit_ms": "commitTimeMs",
    "state_memory_bytes": "memoryUsedBytes",
    "rows_dropped_by_watermark": "numRowsDroppedByWatermark",
}


def query_metrics(query: StreamingQuery) -> list[dict]:
    """Per-batch metrics from a query's recent progress: the numbers
    the reference's Grafana dashboard charts (records-in/out rates,
    flink-dashboard.json:57-64), plus watermark position and the batch's
    event-time lag (batch wall time minus newest event processed — the
    live-path analogue of the reference's ``data_lag_seconds``,
    sql/metrics_queries.sql:33-40; wall clock is legitimate in the live
    path, unlike the deterministic oracle queries).

    Each row also says where the batch's time went (the ``PHASES`` of
    ``durationMs``) and how its state is doing (``STATE_HEALTH``;
    ``state_commit_ms`` is task time summed over state partitions, not
    wall time)."""
    out = []
    for p in query.recentProgress:
        durations = p.get("durationMs") or {}
        ops = p.get("stateOperators") or []
        batch_ts = _iso_to_epoch(p.get("timestamp"))
        ev_max = _iso_to_epoch((p.get("eventTime") or {}).get("max"))
        lag = (
            round(batch_ts - ev_max, 3)
            if batch_ts is not None and ev_max is not None
            else None
        )
        out.append(
            {
                "batch_id": p.get("batchId"),
                "input_rows": p.get("numInputRows"),
                "input_rows_per_sec": p.get("inputRowsPerSecond"),
                "processed_rows_per_sec": p.get("processedRowsPerSecond"),
                "batch_duration_ms": p.get("batchDuration"),
                "watermark": (p.get("eventTime") or {}).get("watermark"),
                "data_lag_seconds": lag,
                **{
                    f"{name}_ms": durations.get(key)
                    for name, key in PHASES.items()
                },
                **{
                    name: sum(op.get(key, 0) for op in ops)
                    for name, key in STATE_HEALTH.items()
                },
            }
        )
    return out


def data_lag_seconds(spark: SparkSession, raw_path: str) -> float | None:
    """The reference's at-rest freshness metric, formula-exact:
    ``now() - max(created_at)`` over the raw fact table
    (sql/metrics_queries.sql:33-40). Returns None on an empty table."""
    import time

    import pyspark.sql.functions as F

    # Driver-side collect of a 1-row MAX aggregate: this is a
    # monitoring endpoint called once per scrape interval, not a data
    # path — distinct from the hot-path collects the engine forbids.
    row = (
        spark.read.parquet(raw_path)
        .agg(F.max("created_at").alias("m"))
        .collect()[0]
    )
    if row.m is None:
        return None
    return round(time.time() - row.m.timestamp(), 3)


class ProgressRecorder:
    """Stream metrics to a JSONL file (the scrape target).

    Periodic ``record`` calls append only batches not yet written
    (recentProgress retains ~100 entries; without the high-water mark a
    scraper would duplicate them every call)."""

    def __init__(self, path: str):
        self.path = path
        self._last_batch: dict[str, int] = {}

    def record(self, query: StreamingQuery) -> int:
        mark = self._last_batch.get(query.id, -1)
        rows = [
            r for r in query_metrics(query)
            if r["batch_id"] is not None and r["batch_id"] > mark
        ]
        if rows:
            self._last_batch[query.id] = max(r["batch_id"] for r in rows)
            with open(self.path, "a") as fh:
                for r in rows:
                    fh.write(json.dumps(r) + "\n")
        return len(rows)
