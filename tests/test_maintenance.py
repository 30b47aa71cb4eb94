"""Storage maintenance jobs: TTL partition expiry and small-file
compaction (the explicit versions of ClickHouse's background merges
and TTL, SURVEY.md §4)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from realtime_event_streaming_spark.io import (
    compact_index_table,
    compact_partition,
    expire_old_partitions,
    write_events_table,
)
from realtime_event_streaming_spark.sources.clickgen import (
    as_json_records,
    generate_clicks,
)

SF = "/root/testdata/sf0.001"


def test_compaction_preserves_data(spark, tmp_path):
    clicks = generate_clicks(spark, n_events=20000, n_users=500, rate_per_sec=50)
    ev = clicks.withColumn("ts", F.timestamp_millis("ts"))
    path = str(tmp_path / "events")
    # deliberately fragment (write_events_table would coalesce per
    # month, so write raw): many small files, like a micro-batch sink
    (
        ev.withColumn("month", F.date_format("ts", "yyyyMM"))
        .repartition(40)
        .write.partitionBy("month")
        .parquet(path)
    )
    part = tmp_path / "events" / "month=202401"
    before_files = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    before = spark.read.parquet(path)
    before_cnt = before.count()
    before_sum = before.agg(F.sum(F.hash("event_id"))).collect()[0][0]

    n_after = compact_partition(spark, path, "202401")

    after_files = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert after_files == n_after <= 2 < before_files
    after = spark.read.parquet(path)
    assert after.count() == before_cnt
    assert after.agg(F.sum(F.hash("event_id"))).collect()[0][0] == before_sum


def _checksum(df):
    """Row count and an order-free hash sum over every column."""
    return tuple(
        df.select(F.count("*"), F.sum(F.hash(*df.columns))).first()
    )


def _month_partition(spark, tmp_path):
    clicks = generate_clicks(spark, n_events=10000, n_users=200, rate_per_sec=50)
    ev = clicks.withColumn("ts", F.timestamp_millis("ts"))
    path = str(tmp_path / "t")
    (
        ev.withColumn("month", F.date_format("ts", "yyyyMM"))
        .repartition(10)
        .write.partitionBy("month")
        .parquet(path)
    )

    def compact():
        assert compact_partition(spark, path, "202401") >= 1

    return (
        f"{path}/month=202401",
        compact,
        lambda: _checksum(spark.read.parquet(path)),
    )


def _merged_dedup_bands(spark, tmp_path):
    from realtime_event_streaming_spark.operators.dedup import (
        merge_dedup_index,
        write_dedup_index,
    )

    path = str(tmp_path / "index")
    write_dedup_index(spark, SF, path)
    batch = spark.createDataFrame(
        [(9200, " ".join(f"c0t{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    merge_dedup_index(spark, path, batch)
    bands = f"{path}/minhash_bands"
    return (
        bands,
        lambda: compact_index_table(spark, bands),
        lambda: _checksum(spark.read.parquet(bands)),
    )


def _rollup_parts(spark, tmp_path):
    from realtime_event_streaming_spark.streaming.agg import (
        _rollup_part,
        compact_rollup_parts,
        read_rollup_parts,
    )
    from realtime_event_streaming_spark.streaming.ingest import parse_clicks

    clicks = generate_clicks(spark, n_events=3000, n_users=100, rate_per_sec=5)
    events = parse_clicks(as_json_records(clicks))
    path = str(tmp_path / "parts")
    for k in range(3):
        (
            _rollup_part(events.where(F.pmod(F.hash("event_id"), F.lit(3)) == k))
            .withColumn("batch_id", F.lit(k))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(path)
        )
    return (
        path,
        lambda: compact_rollup_parts(spark, path),
        lambda: _checksum(
            read_rollup_parts(spark, path).select("m_min", "country", "cnt")
        ),
    )


@pytest.mark.parametrize(
    "make",
    [_month_partition, _merged_dedup_bands, _rollup_parts],
    ids=["compact_partition", "compact_index_table", "compact_rollup_parts"],
)
def test_compaction_recovers_from_interrupted_swap(spark, tmp_path, make):
    """Every compaction rewrites through `io.replace_dir`: a crash
    between its two renames leaves the live directory set aside as
    `.compact_old_<name>`, and the next compaction restores it before
    rewriting, so no row is lost and no hidden sibling is left."""
    live, compact, rows = make(spark, tmp_path)
    before = rows()
    parent, name = os.path.split(live)
    # simulate the crash window: live set aside, the copy never renamed in
    os.rename(live, os.path.join(parent, f".compact_old_{name}"))
    compact()
    assert rows() == before
    assert not [p for p in os.listdir(parent) if p.startswith(".compact")]


def test_ttl_drops_only_old_partitions(spark, tmp_path):
    # ~3 months of data -> several month partitions
    clicks = generate_clicks(spark, n_events=50000, n_users=500, rate_per_sec=0.01)
    ev = clicks.withColumn("ts", F.timestamp_millis("ts"))
    path = str(tmp_path / "events")
    write_events_table(ev, path)
    months = sorted(
        p.split("=")[1] for p in os.listdir(path) if p.startswith("month=")
    )
    assert len(months) >= 2
    cutoff = months[1]
    dropped = expire_old_partitions(spark, path, cutoff)
    assert dropped == [months[0]]
    remaining = spark.read.parquet(path).select("month").distinct().collect()
    assert all(str(r.month) >= cutoff for r in remaining)
