#!/usr/bin/env python
"""Sharded-NSW serving-twin wall-clock claim (round-15): the sharded
probe's wall over an S-shard corpus ~ the FLAT serving probe's wall
over ONE shard's worth of vectors, because the sharded hop loop
advances all S beams in the same H jobs (per-hop driver cost paid
once) and the per-hop frames are serving-batch bounded either way.

Budget-fair arms (equal total evaluation budget, queries x 64):
  flat   : write_nsw_index over the first n/S vectors of $SF_DIR,
           probe_nsw_index at the contract width B=64
  sharded: write_nsw_index(n_shards=4) over ALL of $SF_DIR (S=4
           shards of n/S vectors each), probe_nsw_index(n_shards=4)
           at the contract per-shard width B_s=16 (4 x 16 = 64)

Prints per-arm build and median-of-N probe walls plus the host's
steal-jiffies rate around each probe (the repo's calm bar is <= 10
jiffies/s; see bench.py). Offline measurement script — results are
recorded in PERF.md "Sharded NSW serving twin".

Env knobs: SF_DIR (default /root/testdata/sf0.1), REPS (default 3).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

import duckdb
import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from realtime_event_streaming_spark.operators.similarity import (
    LSH_BITS,
    N_QUERIES,
    _NSW_SHARDS,
    _vectors,
    probe_nsw_index,
    write_nsw_index,
)
from realtime_event_streaming_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("REPS", "3"))


def _steal() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _qs(spark, sf_dir):
    return (
        _vectors(spark, sf_dir)
        .where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
        )
    )


def _timed(fn):
    walls, steals = [], []
    for _ in range(REPS):
        s0, t0 = _steal(), time.time()
        n = len(fn().collect())
        t1, s1 = time.time(), _steal()
        assert n > 0
        walls.append(t1 - t0)
        steals.append((s1 - s0) / max(t1 - t0, 1e-9))
    walls.sort()
    return walls[len(walls) // 2], walls, steals


def main() -> None:
    spark = get_spark("sharded-serve-walls")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="shserve_walls_")
    try:
        n_total = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{SF_DIR}/embeddings.parquet')"
        ).fetchone()[0]
        n_shard = n_total // _NSW_SHARDS
        # one-shard-sized corpus for the flat arm (vec_id keeps its
        # density: first n/S ids)
        flat_dir = os.path.join(tmp, "flat_corpus")
        os.makedirs(flat_dir)
        duckdb.sql(
            f"COPY (SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
            f" WHERE vec_id < {n_shard} ORDER BY vec_id)"
            f" TO '{flat_dir}/embeddings.parquet' (FORMAT PARQUET)"
        )
        flat_path = os.path.join(tmp, "flat_index")
        t0 = time.time()
        write_nsw_index(spark, flat_dir, flat_path, bucket_bits=LSH_BITS)
        flat_build = time.time() - t0

        shard_path = os.path.join(tmp, "sharded_index")
        t0 = time.time()
        write_nsw_index(
            spark, SF_DIR, shard_path, bucket_bits=LSH_BITS, n_shards=_NSW_SHARDS
        )
        shard_build = time.time() - t0

        fq = _qs(spark, flat_dir)
        sq = _qs(spark, SF_DIR)
        flat_med, flat_walls, flat_steals = _timed(
            lambda: probe_nsw_index(spark, flat_path, fq)
        )
        shard_med, shard_walls, shard_steals = _timed(
            lambda: probe_nsw_index(
                spark, shard_path, sq, n_shards=_NSW_SHARDS
            )
        )
        print(
            f"corpus {n_total} vectors, {_NSW_SHARDS} shards of {n_shard}; "
            f"{REPS} reps"
        )
        print(
            f"flat    (1 x {n_shard}, B=64):  build {flat_build:.1f}s  "
            f"probe median {flat_med:.2f}s  walls "
            f"{[round(w, 2) for w in flat_walls]}  steal/s "
            f"{[round(s, 1) for s in flat_steals]}"
        )
        print(
            f"sharded ({_NSW_SHARDS} x {n_shard}, B_s=16): build "
            f"{shard_build:.1f}s  probe median {shard_med:.2f}s  walls "
            f"{[round(w, 2) for w in shard_walls]}  steal/s "
            f"{[round(s, 1) for s in shard_steals]}"
        )
        print(f"sharded/flat probe ratio: {shard_med / flat_med:.2f}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
