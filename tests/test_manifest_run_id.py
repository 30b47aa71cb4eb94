"""The manifest-admission ``run_id`` partition value stays a string."""

from __future__ import annotations

import hashlib
import re

from pyspark.sql.types import StringType

from realtime_event_streaming_spark.streaming.corpus_ingest import (
    manifest_run_id,
)


def test_run_id_reads_back_as_string_for_numeric_looking_digests(
    spark, tmp_path
):
    """A checkpoint whose md5 prefix looks like a number in scientific
    notation (``168e94140507``) must still give a string partition
    column: read back bare, partition type inference takes it for a
    decimal with a ten-million-digit exponent and the admission batch
    that reads its own index never finishes."""
    ckpt = next(
        c
        for c in (str(tmp_path / f"ckpt{i}") for i in range(100_000))
        if re.fullmatch(r"[0-9]+e[0-9]+", hashlib.md5(c.encode()).hexdigest()[:12])
    )
    out = str(tmp_path / "index")
    spark.range(1).selectExpr(
        f"'{manifest_run_id(ckpt)}' AS run_id", "id"
    ).write.partitionBy("run_id").parquet(out)
    back = spark.read.parquet(out)
    assert back.schema["run_id"].dataType == StringType()
    assert [r.run_id for r in back.collect()] == [manifest_run_id(ckpt)]
