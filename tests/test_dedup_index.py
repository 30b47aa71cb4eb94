"""Materialized dedup index: build once, probe a batch — the shape the
in-query incremental operators promise for warehouse scale."""

from __future__ import annotations

import pyspark.sql.functions as F

from realtime_event_streaming_spark.io import load_table
from realtime_event_streaming_spark.operators.dedup import (
    probe_dedup_index,
    write_dedup_index,
)

SF = "/root/testdata/sf0.001"


#: bucket count of the two-column ``(band_idx, hb)`` band layout the
#: layout tests write by hand: the package writes ``band_idx`` only, and
#: these tests pin what ``io`` does with a layout it did not write.
TWO_COLUMN_BUCKETS = 64


def _write_two_column_bands(bands, path: str) -> None:
    """Write a dedup index's band rows to ``path`` partitioned by
    ``(band_idx, hb = pmod(band_hash, TWO_COLUMN_BUCKETS))`` with a
    plain ``DataFrameWriter``."""
    bands.withColumn(
        "hb", F.pmod(F.col("band_hash"), F.lit(TWO_COLUMN_BUCKETS))
    ).write.mode("overwrite").partitionBy("band_idx", "hb").parquet(path)


def _rewrite_two_column(spark, path: str) -> None:
    """Move a dedup index's flat ``minhash_bands`` aside and rewrite it
    in place under the two-column layout."""
    import os

    bands = f"{path}/minhash_bands"
    os.rename(bands, f"{path}_flat_bands")
    _write_two_column_bands(spark.read.parquet(f"{path}_flat_bands"), bands)


def test_index_probe_classifies_exact_near_and_fresh(spark, tmp_path):
    path = str(tmp_path / "index")
    write_dedup_index(spark, SF, path)

    docs = load_table(spark, SF, "documents")
    exact_dup = docs.where("doc_id = 42").select(
        F.lit(9001).alias("doc_id"), "text"
    )
    near_dup = docs.where("doc_id = 43").select(
        F.lit(9002).alias("doc_id"),
        F.concat("text", F.lit(" qq zz")).alias("text"),
    )
    fresh = spark.createDataFrame(
        [(9003, " ".join(f"zz{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    batch = exact_dup.unionByName(near_dup).unionByName(fresh)

    out = {
        r.doc_id: (r.exact_dup, r.near_dup)
        for r in probe_dedup_index(spark, path, batch).collect()
    }
    # verbatim re-send: both detectors; token-appended re-send: only
    # the fuzzy one; novel text: neither
    assert out == {
        9001: (True, True),
        9002: (False, True),
        9003: (False, False),
    }


def test_merge_then_probe_flags_new_batch(spark, tmp_path):
    """Maintenance round trip: a novel page is invisible to the base
    index, admitted via merge, then its re-send flags on BOTH
    detectors — the index no longer goes stale after one cycle."""
    from realtime_event_streaming_spark.operators.dedup import (
        merge_dedup_index,
    )

    path = str(tmp_path / "index")
    write_dedup_index(spark, SF, path)
    novel = spark.createDataFrame(
        [(9100, " ".join(f"m{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    pre = probe_dedup_index(spark, path, novel).collect()[0]
    assert (pre.exact_dup, pre.near_dup) == (False, False)

    merge_dedup_index(spark, path, novel)
    resend = novel.select((F.col("doc_id") + 1).alias("doc_id"), "text")
    post = probe_dedup_index(spark, path, resend).collect()[0]
    assert (post.exact_dup, post.near_dup) == (True, True)


def test_compact_reduces_files_and_preserves_probe(spark, tmp_path):
    """Compaction is the background-merge step: after several appended
    batches it folds the per-batch file sets into per-partition files
    WITHOUT changing any probe answer."""
    from realtime_event_streaming_spark.io import compact_index_table
    from realtime_event_streaming_spark.operators.dedup import (
        merge_dedup_index,
    )

    path = str(tmp_path / "index")
    write_dedup_index(spark, SF, path)
    for k in range(3):
        batch = spark.createDataFrame(
            [(9200 + k, " ".join(f"c{k}t{i}" for i in range(20)))],
            "doc_id long, text string",
        )
        merge_dedup_index(spark, path, batch)

    probe = spark.createDataFrame(
        [
            (9300, " ".join(f"c1t{i}" for i in range(20))),  # merged batch
            (9301, " ".join(f"zz{i}" for i in range(20))),  # novel
        ],
        "doc_id long, text string",
    )
    before = sorted(
        map(tuple, probe_dedup_index(spark, path, probe).collect())
    )
    stats_bands = compact_index_table(spark, f"{path}/minhash_bands")
    stats_hash = compact_index_table(spark, f"{path}/content_hash")
    assert stats_bands["files_after"] < stats_bands["files_before"]
    assert stats_hash["files_after"] < stats_hash["files_before"]
    after = sorted(
        map(tuple, probe_dedup_index(spark, path, probe).collect())
    )
    assert before == after
    by_id = {r[0]: r[1:] for r in after}
    assert by_id[9300] == (True, True) and by_id[9301] == (False, False)


def test_layout_rewrite_same_path_reads_current_layout(spark, tmp_path):
    """`read_index_parquet` caches an index table's data columns per
    bare path, and a table can be rewritten at the SAME path with a
    different layout (± the `hb` partition column) by
    `write_dedup_index` or by any plain `DataFrameWriter`. A cached
    full schema would keep a stale `hb` after a two-column→flat rewrite
    (read back all-null), so the read would not show the table on disk.
    Partition columns come from the listing on disk, so every rewrite
    direction, by a package writer or not, reads the current layout
    and returns the flat answer."""
    from realtime_event_streaming_spark.io import read_index_parquet

    path = str(tmp_path / "index")
    docs = load_table(spark, SF, "documents")
    batch = docs.where("doc_id = 42").select(
        F.lit(9001).alias("doc_id"), "text"
    )

    # flat reference answer from an untouched path
    ref_path = str(tmp_path / "ref")
    write_dedup_index(spark, SF, ref_path)
    ref = sorted(map(tuple, probe_dedup_index(spark, ref_path, batch).collect()))
    assert ref  # the re-sent doc must flag
    flat = spark.read.parquet(f"{ref_path}/minhash_bands")

    def reads_current_layout(has_hb: bool) -> None:
        bands = f"{path}/minhash_bands"
        assert ("hb" in spark.read.parquet(bands).columns) == has_hb
        assert (
            read_index_parquet(spark, bands).schema
            == spark.read.parquet(bands).schema
        )
        probe = probe_dedup_index(spark, path, batch)
        assert sorted(map(tuple, probe.collect())) == ref

    # package writer, then a plain two-column write caches the path's
    # data columns
    write_dedup_index(spark, SF, path)
    _write_two_column_bands(flat, f"{path}/minhash_bands")
    reads_current_layout(has_hb=True)

    # package writer: two-column→flat and back
    write_dedup_index(spark, SF, path)
    reads_current_layout(has_hb=False)
    _write_two_column_bands(flat, f"{path}/minhash_bands")
    reads_current_layout(has_hb=True)

    # a plain DataFrameWriter, outside the package: two-column→flat and
    # back
    flat.write.mode("overwrite").partitionBy("band_idx").parquet(
        f"{path}/minhash_bands"
    )
    reads_current_layout(has_hb=False)
    _write_two_column_bands(flat, f"{path}/minhash_bands")
    reads_current_layout(has_hb=True)


def _partition_columns(path: str) -> set[str]:
    """Hive-style partition keys of a table, read off its directory
    names (``key=value``)."""
    import os

    return {
        d.split("=", 1)[0]
        for _, dirs, _ in os.walk(path)
        for d in dirs
        if "=" in d
    }


def test_index_data_columns_do_not_depend_on_writer_options(spark, tmp_path):
    """The rule `read_index_parquet`'s data-column cache rests on: a
    writer option may change an index sub-table's partition layout,
    never its data columns. For every sub-table the package's index
    writers build, the (warm) cached read equals the inferred read,
    and the data columns agree across the options that change layout
    or shard count. A warm read of a partitioned sub-table builds its
    query without launching a job."""
    from realtime_event_streaming_spark.io import read_index_parquet
    from realtime_event_streaming_spark.operators.dedup import (
        write_dedup_index as _write_dedup,
    )
    from realtime_event_streaming_spark.operators.retrieval import (
        write_ivfpq_index,
    )
    from realtime_event_streaming_spark.operators.similarity import (
        LSH_BITS,
        write_ann_index,
        write_nsw_index,
    )

    writers = {
        "dedup": [
            ("flat", lambda p: _write_dedup(spark, SF, p)),
            (
                "two_column",
                lambda p: (
                    _write_dedup(spark, SF, p),
                    _rewrite_two_column(spark, p),
                ),
            ),
        ],
        "ann": [("ivf", lambda p: write_ann_index(spark, SF, p))],
        "nsw": [
            (
                f"shards{s}",
                lambda p, s=s: write_nsw_index(
                    spark, SF, p, bucket_bits=LSH_BITS, n_shards=s
                ),
            )
            for s in (1, 4)
        ],
        "ivfpq": [("pq", lambda p: write_ivfpq_index(spark, SF, p))],
    }
    tables = {
        "dedup": ("content_hash", "minhash_bands"),
        "ann": ("centroids", "postings"),
        "nsw": ("near", "vecs"),
        "ivfpq": ("centroids", "codebooks", "codes", "vectors"),
    }
    partitioned = []
    for index, options in writers.items():
        data_cols: dict[str, set] = {}
        for option, write in options:
            root = str(tmp_path / index / option)
            write(root)
            for table in tables[index]:
                p = f"{root}/{table}"
                read_index_parquet(spark, p)  # miss: infers and caches
                inferred = spark.read.parquet(p).schema
                assert read_index_parquet(spark, p).schema == inferred, p
                layout = _partition_columns(p)
                if layout:
                    partitioned.append(p)
                cols = [
                    (f.name, f.dataType.simpleString())
                    for f in inferred.fields
                    if f.name not in layout
                ]
                assert cols, p
                data_cols.setdefault(table, set()).add(tuple(cols))
        for table, seen in data_cols.items():
            assert len(seen) == 1, (index, table, seen)
    assert {p.rsplit("/", 1)[1] for p in partitioned} >= {
        "minhash_bands",
        "postings",
        "near",
        "vecs",
        "codes",
    }

    sc = spark.sparkContext
    group = "warm-index-read"
    sc.setJobGroup(group, group)
    try:
        for p in partitioned:
            read_index_parquet(spark, p)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_compaction_keeps_a_two_column_layout(spark, tmp_path):
    """`compact_index_table` rewrites a table under the partition
    columns it finds on disk. A merged band table that a plain writer
    then repartitioned by two columns must keep both through a
    compaction (no column may move into the data files), the cached
    read must equal the inferred one, and the probe answer must not
    move."""
    from realtime_event_streaming_spark.io import (
        compact_index_table,
        read_index_parquet,
    )
    from realtime_event_streaming_spark.operators.dedup import (
        merge_dedup_index,
    )

    path = str(tmp_path / "index")
    bands = f"{path}/minhash_bands"
    write_dedup_index(spark, SF, path)
    merge_dedup_index(
        spark,
        path,
        spark.createDataFrame(
            [(9200, " ".join(f"c0t{i}" for i in range(20)))],
            "doc_id long, text string",
        ),
    )
    _rewrite_two_column(spark, path)
    docs = load_table(spark, SF, "documents")
    batch = docs.where("doc_id = 42").select(
        F.lit(9001).alias("doc_id"), "text"
    ).unionByName(
        spark.createDataFrame(
            [(9300, " ".join(f"c0t{i}" for i in range(20)))],
            "doc_id long, text string",
        )
    )
    before = sorted(map(tuple, probe_dedup_index(spark, path, batch).collect()))
    assert _partition_columns(bands) == {"band_idx", "hb"}

    stats = compact_index_table(spark, bands)

    assert stats["files_after"] <= stats["files_before"]
    assert _partition_columns(bands) == {"band_idx", "hb"}
    assert (
        read_index_parquet(spark, bands).schema
        == spark.read.parquet(bands).schema
    )
    after = sorted(map(tuple, probe_dedup_index(spark, path, batch).collect()))
    assert after == before
    assert {r[0]: r[1:] for r in after} == {
        9001: (True, True),
        9300: (True, True),
    }
