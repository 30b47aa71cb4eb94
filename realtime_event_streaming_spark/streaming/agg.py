"""Streaming minute rollup — the engine-maintained materialized view.

One streaming aggregation replaces BOTH of the reference's duplicated
write paths (Flink window job StreamJob.java:253-304 AND the ClickHouse
MV clickhouse_tables.sql:75-85 — the double-write bug, SURVEY.md
§1.5.2): tumbling 1-minute event-time windows per (page, country) with
count + EXACT distinct users (reference semantics: HashSet
StreamJob.java:102-108 / uniqExact :83).

Exact distinct is one set per window key: ``size(collect_set(user_id))``
in the same aggregate as the count, so the query runs a single stateful
operator over one scan of the source. ``collect_set`` ignores null
users, as ``countDistinct`` and SQL ``COUNT(DISTINCT)`` do.

The watermark delay is window length + reference lateness (60 s +
10 s), so windows finalize 60 s later than the reference's. That bound
decides which late events still count: an event up to 70 s behind the
newest event of earlier batches is kept, where the reference's 10 s
watermark would drop it.

``write_rollup`` starts the query with its state on ONE shuffle
partition, whatever the session's count. The stateful stage reads the
map-side partial aggregates, bounded by windows x pages x countries in
the batch rather than by the event rate, and live state is about 200
keys; partitions never split one key's user set, so more of them add
no parallelism, only a stateful task, a state-store version and a sink
write task per partition on every micro-batch. A checkpoint written
with another count resumes with the count recorded in its offset log.

The ``approx`` variant keeps the reference's 10 s emission latency by
trading exact uniques for HLL (approx_count_distinct) — the documented
100 TB default, where per-window user sets stop being a good idea
anyway (SURVEY.md §7 hard-part 1).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..session import shuffle_partitions

#: Watermark delay for the exact path: window length + reference's 10 s
#: bounded out-of-orderness (StreamJob.java:215). It sets which late
#: events count and when windows finalize; shortening it to the
#: reference's 10 s would drop events the exact path counts today.
EXACT_WATERMARK = "70 seconds"

_WINDOW = "1 minute"


def minute_rollup_stream_exact(events: DataFrame) -> DataFrame:
    """Exact cnt + unique_users per 1-min window x (page, country).

    ``events`` must carry ``withWatermark("ts", EXACT_WATERMARK)``
    (see ingest.parse_clicks(watermark=...)).
    """
    return (
        events.groupBy(F.window("ts", _WINDOW).alias("win"), "page", "country")
        .agg(
            F.count("*").alias("cnt"),
            F.size(F.collect_set("user_id"))
            .cast("bigint")
            .alias("unique_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "page",
            "country",
            "cnt",
            "unique_users",
        )
    )


def rollup_stream_approx(
    events: DataFrame,
    window: str = _WINDOW,
    dims: tuple[str, ...] = ("page", "country"),
    slide: str | None = None,
) -> DataFrame:
    """Approximate multi-grain variant: single stateful operator, 10 s
    watermark parity with the reference, HLL distinct — the scale
    default. Grains per the reference's rollup tables
    (clickhouse_tables.sql): 1 min x (page, country) :23-37;
    5 min x page :40-54; 1 hour x (page, country, device) :57-72.
    ``slide`` < ``window`` gives overlapping (sliding) windows."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.groupBy(w.alias("win"), *dims)
        .agg(
            F.count("*").alias("cnt"),
            F.approx_count_distinct("user_id").alias("unique_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *dims,
            "cnt",
            "unique_users",
        )
    )


def rollup_5min_stream(events: DataFrame) -> DataFrame:
    """The orphan rt.page_5min_agg's intended writer (5 min x page)."""
    return rollup_stream_approx(events, "5 minutes", ("page",))


def rollup_hourly_stream(events: DataFrame) -> DataFrame:
    """The orphan rt.page_hourly_agg's intended writer
    (1 hour x page, country, device)."""
    return rollup_stream_approx(events, "1 hour", ("page", "country", "device"))


def rollup_sliding_stream(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str = "1 minute",
    dims: tuple[str, ...] = ("page",),
) -> DataFrame:
    """Sliding-window rollup (each event lands in window/slide
    overlapping windows). Not in the reference (SURVEY.md §2.10 notes
    only tumbling); provided because trend dashboards want it and it is
    a one-argument change in Spark."""
    return rollup_stream_approx(events, window, dims, slide=slide)


def session_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Event-time session windows per user (gap-based, engine-managed
    merging state). The streaming counterpart of the batch
    `user_sessions` query; the reference only *simulates* sessions on
    the producer side (produce.py:64-125)."""
    w = F.session_window("ts", gap)
    return (
        events.groupBy(w.alias("win"), "user_id")
        .agg(F.count("*").alias("events_in_session"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "events_in_session",
        )
    )


def minute_rollup_batch(events: DataFrame) -> DataFrame:
    """Batch ground truth: same grouping, countDistinct — used by the
    reconciliation test (the Spark analogue of the reference's
    pipeline-consistency query metrics_queries.sql:42-57)."""
    w = F.window("ts", _WINDOW)
    return (
        events.groupBy(w.alias("win"), "page", "country")
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("user_id").alias("unique_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "page",
            "country",
            "cnt",
            "unique_users",
        )
    )


def write_rollup_update_log(
    agg: DataFrame, path: str, checkpoint: str, trigger=None
):
    """Update-mode rollup -> append-only refinement log.

    The reference's MV model (clickhouse_tables.sql:75-85 +
    SummingMergeTree :33): every insert block writes partial aggregate
    rows immediately; reads re-aggregate. Spark form: the aggregation
    runs in UPDATE mode — each micro-batch emits the current value of
    every (window, dims) key it touched — and foreachBatch appends
    those rows stamped with the batch id. Windows are visible at
    micro-batch latency (10 s parity with the reference) instead of
    waiting for the watermark to finalize them; ``read_rollup_log``
    provides the read-side merge.
    """

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(path)
        )

    writer = (
        agg.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def read_rollup_log(
    spark,
    path: str,
    key_cols: tuple[str, ...] = ("window_start", "page", "country"),
) -> DataFrame:
    """Read-side merge of the update log: latest refinement per key
    (update mode emits cumulative values, so last-writer-wins — the
    analogue of ClickHouse's merge-on-read, with max(batch_id) instead
    of SummingMergeTree's row addition). ``key_cols`` must match the
    grain the log was written at."""
    from pyspark.sql import Window

    log = spark.read.parquet(path)
    w = Window.partitionBy(*key_cols).orderBy(F.desc("batch_id"))
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )


def write_rollup(agg: DataFrame, path: str, checkpoint: str, trigger=None):
    """Append the finalized windows to the partitioned agg table
    (reference sink batching 5 s -> processingTime trigger,
    StreamJob.java:293-297).

    The query starts with ``spark.sql.shuffle.partitions`` at 1, so its
    window state and the fused parquet write run as one task per
    micro-batch (see the module docstring). ``start()`` reads the count
    from its clone of the session, and the session's own value is
    restored before this returns. Spark records the count in the offset
    log, so a checkpoint written at 8 partitions resumes at 8."""
    out = agg.withColumn("month", F.date_format("window_start", "yyyyMM"))
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("month")
        .outputMode("append")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    with shuffle_partitions(agg.sparkSession, 1):
        return writer.start()


# ---------------------------------------------------------------------------
# SummingMergeTree parts store: additive partials + merge-on-read
# ---------------------------------------------------------------------------
#
# `write_rollup_update_log` mirrors the reference MV's refinement
# stream with LAST-WRITER-WINS merge (update-mode cumulative rows).
# This trio is the other half of ClickHouse's model — the ADDITIVE
# part merge of SummingMergeTree itself (clickhouse_tables.sql:33):
# every micro-batch writes one PARTIAL-aggregate part, parts merge by
# addition on read, and compaction folds old parts. Because partials
# are additive, the stream needs NO aggregation state at all (no
# watermark, no update-mode dedup) — the insert path is a stateless
# map-side reduce per batch, which is why the original scales to any
# ingest rate.
#
# Exactly-once: each part lands under its deterministic batch_id
# partition via DYNAMIC partition overwrite, so a replayed batch
# REPLACES its own part instead of double-counting — idempotent
# without any sink-side dedup state. Compaction must therefore only
# fold parts whose batches can no longer replay (in production: older
# than the checkpoint's committed offset horizon; tests compact after
# the stream stops). It folds into a hidden sibling of the store and
# swaps it in with `io.replace_dir`, the same crash-safe rewrite as the
# table compactions: the live store is set aside, never deleted, until
# the folded one is in place.
#
# Distinct users cannot merge additively as counts — each part stores
# a mergeable DataSketches HLL instead (the sound form of the
# reference's flagged sum-of-distincts rollup, see operators/sketches).

#: parts-store grain and the additive/mergeable metric set
_PARTS_GRAIN = ("m_min", "country")


def _rollup_part(batch_df: DataFrame) -> DataFrame:
    return batch_df.groupBy(
        F.expr("(unix_micros(ts) div 60000000)").alias("m_min"),
        "country",
    ).agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.expr("hll_sketch_agg(user_id)").alias("users_hll"),
    )


def write_rollup_parts(
    events: DataFrame, path: str, checkpoint: str, trigger=None
):
    """Streaming insert path of the additive parts store: per
    micro-batch, one stateless partial aggregate written as the part
    ``batch_id=N`` (dynamic partition overwrite — replay-idempotent).
    ``events`` is the parsed click stream (`ingest.parse_clicks`)."""

    def _write_part(batch_df: DataFrame, batch_id: int) -> None:
        (
            _rollup_part(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    writer = events.writeStream.foreachBatch(_write_part).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def read_rollup_parts(spark: SparkSession, path: str) -> DataFrame:
    """Merge-on-read: counters add, HLL sketches union — one group-by
    over part rows (minutes x countries x parts, never raw events)."""
    return (
        spark.read.parquet(path)
        .groupBy(*_PARTS_GRAIN)
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.expr(
                "hll_sketch_estimate(hll_union_agg(users_hll))"
            ).alias("approx_users"),
        )
    )


def compact_rollup_parts(spark: SparkSession, path: str) -> None:
    """Fold all parts into a single part (batch_id = -1), preserving
    merge-on-read semantics exactly (counters summed, sketches
    unioned — NOT estimated, so later parts keep merging losslessly).
    Only run over batches that can no longer replay (see the comment
    block above). The ClickHouse background-merge analogue, rewritten
    in place through ``io.replace_dir``: a crash at any point leaves
    the unfolded or the folded store readable at ``path``."""
    from ..io import replace_dir

    def _fold(tmp: str) -> None:
        (
            spark.read.parquet(path)
            .groupBy(*_PARTS_GRAIN)
            .agg(
                F.sum("cnt").cast("bigint").alias("cnt"),
                F.expr("hll_union_agg(users_hll)").alias("users_hll"),
            )
            .withColumn("batch_id", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(tmp)
        )

    replace_dir(path, _fold)
