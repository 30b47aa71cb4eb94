"""Table I/O: read the driver's parquet tables, write engine tables.

Read side
---------
``load_table`` normalizes the one irregular input: ``events.ts`` is
stored as parquet INT64 TIMESTAMP(NANOS); with
``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as a long which
we truncate to microseconds (``ts div 1000`` — integer division, no
double round-trip) and expose as TIMESTAMP_NTZ so semantics match the
DuckDB oracle's naive microsecond timestamps exactly.

``read_index_parquet`` reads the engine's materialized index tables
with their data columns' schema cached per path, so a probe builds its
query without a schema-inference job. Partition columns are not
cached: they come from the directory listing of every read, so a
rewrite of the path with another layout needs no eviction.

Write side
----------
``write_events_table`` mirrors the reference's at-rest layout
(reference: sql/clickhouse_tables.sql:16-20 — MergeTree partitioned by
toYYYYMM(ts), ORDER BY (ts, user_id, event_id), bloom-filter indexes on
user_id/page at :105,:108) as partitioned Parquet:

- month partition column -> Hive-style partition dirs -> Catalyst
  partition pruning for the time-range predicates every reference query
  uses;
- ``sortWithinPartitions(ts)`` -> parquet row-group min/max stats act as
  the primary-index range scan;
- parquet bloom filters on point-lookup columns -> data skipping.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import prepare

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Inferred schemas: schema inference runs a 1-task Spark job per read;
#: caching it makes every query construction after the first touch of a
#: table run ZERO jobs (fully lazy plans). ``load_table`` keys a
#: fixture's whole schema by (path, mtime), so a fixture rewritten
#: mid-process with a different schema re-infers instead of silently
#: reading with the stale one; the getmtime stat is nanoseconds against
#: the 1-task job it replaces. ``read_index_parquet`` keys an index
#: table's data columns by its bare path.
_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table; normalize ``events.ts`` to TIMESTAMP_NTZ."""
    import os

    prepare(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None  # non-local URI or missing path: key on the path alone
    key = (path, mtime)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"),
        )
    return df


def read_index_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a materialized-index parquet dir, its data columns' schema
    cached per process.

    ``spark.read.parquet(dir)`` without a schema runs a footer-reading
    schema-inference JOB on every call — measured 0.2 s per table at
    contract scale on the pt-partitioned index tables (64 footers),
    paid again on EVERY probe/merge invocation. So the first read of a
    path infers, and later reads pass the cached schema: query
    construction then runs zero inference jobs.

    Only the DATA columns are cached. The partition columns (``pt``,
    ``cid``, ``band_idx``, ``hb``) are the table's layout, and Spark
    rediscovers them from the directory listing it makes on every read
    anyway, with the same inferred types (a ``bigint`` written
    partition column reads back ``int`` either way). A writer that
    rewrites the path with another layout (``write_dedup_index``'s
    ``bucket_bands``, a user's own ``DataFrameWriter``) therefore needs
    no eviction: the next read sees the layout on disk. What the cache
    relies on is that a table's data columns do not depend on writer
    options (pinned by tests/test_dedup_index.py
    ::test_index_data_columns_do_not_depend_on_writer_options).
    ``compact_index_table`` is the one rewrite that can move a column
    between partition and data, and it drops the path's entry itself.

    The cache is keyed by the bare path, not ``load_table``'s (path,
    mtime): a partition overwrite does not bump the parent dir's
    mtime, so an mtime key would re-infer on some writes and not
    others. Only a schema is cached, never rows: every read scans the
    files on disk as they are at execution time."""
    data_cols = _SCHEMA_CACHE.get(path)
    if data_cols is not None:
        return spark.read.schema(data_cols).parquet(path)
    df = spark.read.parquet(path)
    relation = df._jdf.queryExecution().analyzed().relation()
    layout = set(relation.partitionSchema().fieldNames())
    _SCHEMA_CACHE[path] = StructType(
        [f for f in df.schema.fields if f.name not in layout]
    )
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register temp views for ``spark.sql`` queries over one SF dir."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_events_table(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    bloom_cols: tuple[str, ...] = ("user_id", "page"),
) -> None:
    """Write an event-fact table in the reference's at-rest layout."""
    out = df.withColumn("month", F.date_format(F.col(ts_col), "yyyyMM"))
    writer = (
        out.repartition("month")
        .sortWithinPartitions(ts_col)
        .write.mode("overwrite")
        .partitionBy("month")
    )
    for c in bloom_cols:
        if c in df.columns:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    spark: SparkSession,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    location: str | None = None,
) -> None:
    """Persist a table bucketed (and sorted) by its join key.

    The 100 TB lever for fact-fact joins: two tables bucketed by the
    same key with the same bucket count join with ZERO shuffle (Spark
    reads co-located buckets). E.g. bucket ``orders`` and ``lineitem``
    by order key and the orders⋈lineitem join in segment_top_orders /
    order_priority_count drops both exchanges — verified in
    tests/test_bucketing.py by asserting the absence of shuffle nodes.
    """
    writer = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if location:
        writer = writer.option("path", location)
    writer.saveAsTable(table)


def zorder_value(
    df: DataFrame, cols: tuple[str, ...], bits: int = 16
) -> "tuple[DataFrame, str]":
    """Append a Morton (Z-order) key column interleaving ``cols``.

    Each column is normalized to a ``bits``-bit integer with
    ``width_bucket`` over its observed min/max (one tiny stats job —
    this is a write-path operator, eagerness is fine), then the bit
    planes are interleaved: bit *i* of column *j* lands at position
    ``i * len(cols) + j``. Rows close in z-value are close in EVERY
    interleaved dimension, so range-partitioning by the z-key gives
    parquet files whose min/max stats are tight on all of them at once
    — multi-dimensional data skipping from one layout, where a plain
    sort only serves its leading column. Timestamps participate via
    epoch micros. Returns (df_with_key, key_col_name).

    Raises ``TypeError`` up front for non-numeric/non-timestamp layout
    columns (strings would only fail later inside ``float(lo)`` with an
    opaque error) and ``ValueError`` when NO column contributes bits
    (all constant/empty) — a silent all-zero z-key would degenerate the
    write to one range partition with no clustering at all.
    """
    dtypes = dict(df.dtypes)
    _OK = ("tinyint", "smallint", "int", "bigint", "long", "float",
           "double", "date")
    for c in cols:
        dt = dtypes.get(c)
        if dt is None:
            raise TypeError(f"zorder column {c!r} not in {list(dtypes)}")
        if not (dt in _OK or dt.startswith(("timestamp", "decimal"))):
            raise TypeError(
                f"zorder column {c!r} has non-orderable-numeric type "
                f"{dt!r}; hash string keys to a numeric column first"
            )
    stats = df.select(
        *[
            F.min(_zorder_numeric(df, c)).alias(f"_min_{i}")
            for i, c in enumerate(cols)
        ],
        *[
            F.max(_zorder_numeric(df, c)).alias(f"_max_{i}")
            for i, c in enumerate(cols)
        ],
    ).first()
    k = len(cols)
    z = F.lit(0).cast("long")
    n_contributing = 0
    for j, c in enumerate(cols):
        lo = stats[f"_min_{j}"]
        hi = stats[f"_max_{j}"]
        if lo is None or hi is None or lo == hi:
            continue  # constant/empty column contributes no bits
        n_contributing += 1
        v = _zorder_numeric(df, c)
        # width_bucket yields 1..2^bits (+1 at the exact max) -> 0-based
        bucket = F.least(
            F.lit(2**bits - 1),
            F.width_bucket(
                v.cast("double"),
                F.lit(float(lo)),
                F.lit(float(hi)),
                F.lit(2**bits),
            )
            - 1,
        ).cast("long")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)), i * k + j
                )
            )
    if n_contributing == 0:
        raise ValueError(
            f"zorder over {cols}: every column is constant or empty — "
            "the z-key would be all zeros (one range partition, no "
            "clustering); pick at least one varying column"
        )
    return df.withColumn("_zorder", z), "_zorder"


def _zorder_numeric(df: DataFrame, col: str):
    """Numeric view of a layout column (timestamps -> epoch micros)."""
    dt = dict(df.dtypes).get(col, "")
    if dt.startswith("timestamp"):
        return F.unix_micros(F.col(col).cast("timestamp"))
    return F.col(col)


def write_zorder_table(
    df: DataFrame,
    path: str,
    cols: tuple[str, ...],
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Write ``df`` clustered by a Z-order key over ``cols``.

    The 100 TB layout lever beyond single-column sorting: the events
    table is queried by time range (every reference dashboard query)
    AND by user (point lookups, GDPR deletes). ``sortWithinPartitions
    (ts)`` serves only the first; Z-order clustering gives every file
    tight min/max envelopes on BOTH columns, so either predicate skips
    most files from footer stats alone — same effect Delta/Iceberg
    OPTIMIZE ZORDER BY targets, built here from plain repartitionByRange
    + sort. Skipping ratios are measured (not assumed) in
    tests/test_layout.py from the written parquet footers.
    """
    keyed, zcol = zorder_value(df, cols, bits)
    (
        keyed.repartitionByRange(n_files, zcol)
        .sortWithinPartitions(zcol)
        .drop(zcol)
        .write.mode("overwrite")
        .parquet(path)
    )


def _retire_stream_metadata(path: str) -> None:
    """Remove a streaming sink's ``_spark_metadata`` transaction log
    before any batch rewrite of the directory: the log pins the exact
    file list, so rewritten/deleted files would break every subsequent
    read of the table root. Offline maintenance only — restart the
    writing stream with a fresh checkpoint/sink afterwards."""
    import shutil
    from pathlib import Path

    meta = Path(path) / "_spark_metadata"
    if meta.exists():
        shutil.rmtree(meta)


def backfill_minute_rollup(
    spark: SparkSession,
    raw_path: str,
    agg_path: str,
    month: str,
    window: str = "1 minute",
    dims: tuple[str, ...] = ("page", "country"),
) -> int:
    """Recompute one month of a rollup table from the raw table, at any
    grain (defaults to the minute rollup; pass window/dims for the
    5-minute or hourly tables).

    The batch escape hatch every streaming MV needs: after a logic fix
    or late bulk correction, rebuild affected partitions from
    ``clicks_raw`` instead of replaying the stream. Batch countDistinct
    gives exact uniques; the write replaces only the target month
    partition. Returns rows written.

    OFFLINE operation: stop the rollup stream first. A streaming sink
    owns a ``_spark_metadata`` transaction log that pins the exact file
    list; a manual rewrite invalidates it, so this job retires the log
    (reads then list files directly) — restart the stream with a fresh
    checkpoint/sink afterwards.
    """
    import pyspark.sql.functions as F

    _retire_stream_metadata(agg_path)

    raw = spark.read.parquet(raw_path).where(F.col("month") == month)
    w = F.window("ts", window)
    agg = (
        raw.groupBy(w.alias("win"), *dims)
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("user_id").alias("unique_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *dims,
            "cnt",
            "unique_users",
            F.date_format(F.col("win.start"), "yyyyMM").alias("month"),
        )
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        agg.write.mode("overwrite").partitionBy("month").parquet(agg_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # row count from the written partition: no second run of the agg
    return (
        spark.read.parquet(agg_path)
        .where(F.col("month") == int(month))
        .count()
    )


def compact_partition(
    spark: SparkSession,
    path: str,
    month: str,
    target_file_mb: int = 128,
) -> int:
    """Rewrite one month partition into size-targeted files.

    Streaming sinks produce one small file per micro-batch; left alone,
    a year of 10 s triggers is ~3 M files. This is the maintenance job
    ClickHouse's background merges do implicitly: coalesce a partition
    to ceil(bytes / target) sorted files. Partition-scoped (no full
    table rewrite), idempotent, safe to run while readers use other
    months. Returns the new file count.
    """
    import math
    from pathlib import Path

    import shutil

    part_dir = Path(path) / f"month={month}"
    tmp = Path(path) / f".compact_tmp_month={month}"
    old = Path(path) / f".compact_old_month={month}"
    # Crash recovery from a previous interrupted swap: if the live dir
    # is gone but the set-aside copy exists, restore it first.
    if not part_dir.exists() and old.exists():
        old.rename(part_dir)
    if not part_dir.exists():
        return 0
    _retire_stream_metadata(path)
    size = sum(f.stat().st_size for f in part_dir.glob("*.parquet"))
    n_files = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(str(part_dir))
    # Dot-prefixed siblings are invisible to Spark's file index, so
    # readers scanning the table never see the in-flight copy. The swap
    # is two renames (a dir cannot be renamed onto a non-empty target):
    # a crash between them leaves the month set aside under
    # .compact_old_* and the recovery above restores it on the next run.
    sort_col = "ts" if "ts" in df.columns else df.columns[0]
    (
        df.repartition(n_files)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(str(tmp))
    )
    if old.exists():
        shutil.rmtree(old)
    part_dir.rename(old)
    tmp.rename(part_dir)
    shutil.rmtree(old)
    return n_files


def compact_index_table(
    spark: SparkSession,
    path: str,
    partition_col: str | None = None,
    target_file_mb: int = 128,
) -> dict[str, int]:
    """Compact an append-maintained parquet index table in place.

    Incremental index maintenance (``operators.dedup.merge_dedup_index``
    / ``operators.similarity.merge_ann_index``) appends one file set per
    admitted batch; left alone, a nightly admission cycle accumulates
    O(batches) small files and probe-side scans degrade. This is the
    background-merge step (the analogue of ClickHouse's part merges the
    reference relies on, sql/clickhouse_tables.sql:33 SummingMergeTree
    semantics): rewrite the table into size-targeted files —
    per-partition-value files when ``partition_col`` is set (each probe
    prunes to its partition dirs, so one well-sized file per value is
    the read-optimal layout), else ceil(bytes/target) files.

    Same crash-safe two-rename swap as ``compact_partition``: readers
    never see the in-flight copy (dot-prefixed dirs are invisible to
    Spark's file index), and an interrupted swap is restored on the
    next run. Returns ``{"files_before": b, "files_after": a}``.
    """
    import math
    import shutil
    from pathlib import Path

    root = Path(path)
    tmp = root.parent / f".compact_tmp_{root.name}"
    old = root.parent / f".compact_old_{root.name}"
    if not root.exists() and old.exists():
        old.rename(root)
    files_before = len(list(root.rglob("*.parquet")))
    df = spark.read.parquet(str(root))
    if partition_col is not None:
        writer = (
            df.repartition(partition_col)
            .write.mode("overwrite")
            .partitionBy(partition_col)
        )
    else:
        size = sum(f.stat().st_size for f in root.rglob("*.parquet"))
        n_files = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
        writer = df.repartition(n_files).write.mode("overwrite")
    writer.parquet(str(tmp))
    if old.exists():
        shutil.rmtree(old)
    root.rename(old)
    tmp.rename(root)
    shutil.rmtree(old)
    # ``partition_col`` need not match the table's layout, so the
    # rewrite can turn a partition column into a data column (or back):
    # the data columns cached for the path must not outlive the swap.
    _SCHEMA_CACHE.pop(path, None)
    files_after = len(list(root.rglob("*.parquet")))
    return {"files_before": files_before, "files_after": files_after}


def expire_old_partitions(
    spark: SparkSession, path: str, cutoff_month: str
) -> list[str]:
    """TTL/retention job (reference: clickhouse_tables.sql:19,36,53,71).

    Drops whole month partitions older than ``cutoff_month`` ('yyyyMM').
    Partition-level deletes are the scalable TTL: no data rewrite, no
    row-level scan — the same operation ClickHouse's TTL performs at
    part granularity.
    """
    import shutil
    from pathlib import Path

    dropped = []
    root = Path(path)
    if not root.exists():
        return dropped
    _retire_stream_metadata(path)
    for p in sorted(root.glob("month=*")):
        month = p.name.split("=", 1)[1]
        if month < cutoff_month:
            shutil.rmtree(p)
            dropped.append(month)
    return dropped
