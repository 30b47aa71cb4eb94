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

Maintenance
-----------
The engine runs the part merges and TTL that the reference leaves to
ClickHouse (clickhouse_tables.sql:33). Every in-place rewrite
(``compact_partition``, ``compact_index_table`` and
``streaming.agg.compact_rollup_parts``) goes through ``replace_dir``,
which writes a hidden sibling and swaps it in with two renames, so a
crash at any point leaves the old or the new contents readable.
``compact_index_table`` keeps the layout it finds on disk: the
partition columns come from the table itself, not from the caller.
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
    ``cid``, ``band_idx``) are the table's layout, and Spark
    rediscovers them from the directory listing it makes on every read
    anyway, with the same inferred types (a ``bigint`` written
    partition column reads back ``int`` either way). A writer that
    rewrites the path with another layout (a user's own
    ``DataFrameWriter.partitionBy``) therefore needs no eviction: the
    next read sees the layout on disk. What the cache
    relies on is that a table's data columns do not depend on writer
    options (pinned by tests/test_dedup_index.py
    ::test_index_data_columns_do_not_depend_on_writer_options), and
    ``compact_index_table`` rewrites a table under its own partition
    columns, so compaction keeps them too.

    The cache is keyed by the bare path, not ``load_table``'s (path,
    mtime): a partition overwrite does not bump the parent dir's
    mtime, so an mtime key would re-infer on some writes and not
    others. Only a schema is cached, never rows: every read scans the
    files on disk as they are at execution time."""
    data_cols = _SCHEMA_CACHE.get(path)
    if data_cols is not None:
        return spark.read.schema(data_cols).parquet(path)
    df = spark.read.parquet(path)
    layout = _partition_columns(df)
    _SCHEMA_CACHE[path] = StructType(
        [f for f in df.schema.fields if f.name not in layout]
    )
    return df


def _partition_columns(df: DataFrame) -> list[str]:
    """The partition columns Spark discovered from the directory
    listing of a file-source read (no job: the listing is made when the
    read is built)."""
    relation = df._jdf.queryExecution().analyzed().relation()
    return list(relation.partitionSchema().fieldNames())


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


#: Output size a compaction aims for: a month partition or an
#: unpartitioned index table is rewritten as ceil(bytes / target) files.
COMPACT_TARGET_BYTES = 128 * 1024 * 1024


def replace_dir(live, write):
    """Rewrite directory ``live`` in place so that a crash at any point
    leaves either the old or the new contents under ``live``.

    ``write(tmp)`` fills the sibling ``.compact_tmp_<name>``: dot-
    prefixed dirs are invisible to Spark's file index, so readers of
    the table never see the in-flight copy. The swap is two renames (a
    dir cannot be renamed onto a non-empty target): ``live`` to
    ``.compact_old_<name>``, then the copy to ``live``; the old copy is
    removed last. A crash between the renames leaves the old contents
    set aside, and the next call restores them before anything else; a
    crash before or after the swap leaves a stale sibling that the next
    call removes. Returns what ``write`` returns, or None without
    calling it when there is no ``live`` directory to rewrite."""
    import shutil
    from pathlib import Path

    live = Path(live)
    tmp = live.parent / f".compact_tmp_{live.name}"
    old = live.parent / f".compact_old_{live.name}"
    if old.exists():
        if live.exists():
            shutil.rmtree(old)
        else:
            old.rename(live)
    shutil.rmtree(tmp, ignore_errors=True)
    if not live.exists():
        return None
    result = write(str(tmp))
    live.rename(old)
    tmp.rename(live)
    shutil.rmtree(old)
    return result


def _target_files(files) -> int:
    import math

    size = sum(f.stat().st_size for f in files)
    return max(1, math.ceil(size / COMPACT_TARGET_BYTES))


def compact_partition(spark: SparkSession, path: str, month: str) -> int:
    """Rewrite one month partition into size-targeted files.

    Streaming sinks produce one small file per micro-batch; left alone,
    a year of 10 s triggers is ~3 M files. This is the maintenance job
    ClickHouse's background merges do implicitly: coalesce a partition
    to ceil(bytes / ``COMPACT_TARGET_BYTES``) sorted files through
    ``replace_dir``. Partition-scoped (no full table rewrite),
    idempotent, safe to run while readers use other months. Returns
    the new file count (0 when the month does not exist).
    """
    from pathlib import Path

    live = Path(path) / f"month={month}"

    def _write(tmp: str) -> int:
        _retire_stream_metadata(path)
        n_files = _target_files(live.glob("*.parquet"))
        df = spark.read.parquet(str(live))
        sort_col = "ts" if "ts" in df.columns else df.columns[0]
        (
            df.repartition(n_files)
            .sortWithinPartitions(sort_col)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        return n_files

    return replace_dir(live, _write) or 0


def compact_index_table(spark: SparkSession, path: str) -> dict[str, int]:
    """Compact an append-maintained parquet index table in place.

    Incremental index maintenance (``operators.dedup.merge_dedup_index``
    / ``operators.similarity.merge_ann_index``) appends one file set per
    admitted batch; left alone, a nightly admission cycle accumulates
    O(batches) small files and probe-side scans degrade. This is the
    background-merge step (the analogue of ClickHouse's part merges the
    reference relies on, sql/clickhouse_tables.sql:33 SummingMergeTree
    semantics), rewritten through ``replace_dir``.

    The layout is the table's own: the partition columns come from the
    read of the path (``_partition_columns``), and the rewrite writes
    one file per partition leaf under the same columns (each probe
    prunes to its leaves, so one well-sized file per leaf is the
    read-optimal layout), or ceil(bytes / ``COMPACT_TARGET_BYTES``)
    files for an unpartitioned table. No column moves between partition
    and data, so the data columns ``read_index_parquet`` caches for the
    path stay valid. Returns ``{"files_before": b, "files_after": a}``.
    """
    from pathlib import Path

    root = Path(path)

    def _write(tmp: str) -> int:
        files = list(root.rglob("*.parquet"))
        df = spark.read.parquet(path)
        layout = _partition_columns(df)
        if layout:
            writer = df.repartition(*layout).write.partitionBy(*layout)
        else:
            writer = df.repartition(_target_files(files)).write
        writer.mode("overwrite").parquet(tmp)
        return len(files)

    files_before = replace_dir(root, _write) or 0
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
