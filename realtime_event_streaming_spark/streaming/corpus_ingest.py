"""Streaming corpus ingestion: the training-data admission pipeline as
a stream.

Marries the batch corpus-curation surface (quality filter + exact
dedup, `operators/sampling.training_corpus_pipeline` /
`operators/dedup.dedup_incremental`) to Structured Streaming: documents
arrive continuously (crawl output), and each micro-batch admits only
quality-passing, first-seen documents — the nightly-batch admission
check (`dedup_incremental`) collapsed to per-micro-batch latency.

Stages (all built-in expressions, one stateful op):

1. parse: JSON lines -> typed columns, DROPMALFORMED, ingest event
   time + watermark (same discipline as the click path);
2. quality gate: token count + type-token ratio — the SAME thresholds
   as the batch `training_corpus_pipeline`, so batch and stream admit
   identical documents;
3. dedup: ``dropDuplicatesWithinWatermark`` on the content digest —
   exactly-once admission per distinct text within the watermark
   horizon, state evicted as the watermark advances (the same
   bounded-state discipline as the exact rollup);
4. the admitted stream is the curated corpus table (append sink), and
   a windowed per-source rollup reports admission rates;
5. `start_corpus_admission` composes the stream with the MATERIALIZED
   content-hash index (`operators/dedup.write_dedup_index`): each
   micro-batch anti-joins the index (rejecting re-sends older than any
   watermark horizon) and appends the admitted hashes back — the full
   production loop.

Scale notes: state is one digest per distinct text within the horizon
— bounded by arrival rate x horizon, not corpus size; the horizon
absorbs near-in-time crawler re-sends cheaply, the index probe covers
all history at O(batch) join cost. Everything shuffles by
digest/source only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .ingest import json_columns, read_json_file_stream

#: wire schema for one crawled document (JSON lines)
DOC_WIRE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("ingest_ts", LongType()),  # epoch milliseconds
    ]
)

#: quality thresholds — MUST match operators/sampling.training_corpus_pipeline
MIN_TOKENS = 20
MIN_TTR = 0.3

DOC_WATERMARK = "30 seconds"


def _start_drain(stream: DataFrame, batch_fn, checkpoint: str):
    """Start ``batch_fn`` as the stream's foreachBatch sink and drain
    what has arrived (``availableNow``). Every stream in this module
    reads its wire directory one file per micro-batch
    (``read_json_file_stream``'s default), so a replay is
    deterministic."""
    return (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def parse_docs(raw: DataFrame, watermark: str = DOC_WATERMARK) -> DataFrame:
    """JSON -> typed doc rows (one parse per record), malformed dropped,
    watermarked."""
    docs = json_columns(raw, DOC_WIRE_SCHEMA).where(
        F.col("ingest_ts").isNotNull()
    )
    return docs.withColumn(
        "ingest_ts", F.timestamp_millis("ingest_ts")
    ).withWatermark("ingest_ts", watermark)


def admit_docs(docs: DataFrame) -> DataFrame:
    """Quality gate + first-seen content dedup; emits the admitted
    document stream (the curated corpus)."""
    toks = docs.withColumn("tk", F.split("text", " "))
    quality = toks.where(
        (F.size("tk") >= MIN_TOKENS)
        & (
            F.size(F.array_distinct("tk"))
            / F.size("tk").cast("double")
            >= MIN_TTR
        )
    )
    hashed = quality.select(
        "doc_id",
        "lang",
        "source",
        "ingest_ts",
        F.md5("text").alias("content_hash"),
        F.size("tk").cast("long").alias("n_tokens"),
    )
    return hashed.dropDuplicatesWithinWatermark(["content_hash"])


def admission_rollup(admitted: DataFrame) -> DataFrame:
    """Per-source 1-minute admission rollup (append mode) — the
    monitoring twin of the click path's minute rollup."""
    return (
        admitted.groupBy(F.window("ingest_ts", "1 minute"), "source")
        .agg(
            F.count("*").alias("docs_admitted"),
            F.sum("n_tokens").alias("tokens_admitted"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "source",
            "docs_admitted",
            "tokens_admitted",
        )
    )


def start_corpus_admission(
    spark: SparkSession,
    src_path: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
):
    """The full production admission loop: stream -> quality gate ->
    within-horizon dedup (`admit_docs`) -> per-micro-batch probe of
    the MATERIALIZED content-hash index (rejecting re-sends of
    anything ever admitted, however old — the case the watermark
    horizon cannot cover) -> append admitted docs to the corpus table
    AND their hashes to the index, so the next batch sees them.

    foreachBatch is the documented Spark pattern for multi-sink +
    read-your-writes maintenance; on recovery a batch may re-run, so
    the index tolerates duplicate hash rows (probes always read it
    DISTINCT) — admission stays effectively exactly-once because
    re-run batches re-probe the index their first run already updated.

    Scale notes: the probe is a left-anti equi-join from the small
    batch side into the hash index (O(batch) work when AQE broadcasts
    the batch); the index append is 32 B per admitted doc."""
    candidates = admit_docs(parse_docs(read_json_file_stream(spark, src_path)))

    def _admit(batch_df, batch_id):
        known = (
            batch_df.sparkSession.read.parquet(f"{index_path}/content_hash")
            .select("h")
            .distinct()
        )
        fresh = batch_df.join(
            known, batch_df.content_hash == known.h, "left_anti"
        ).localCheckpoint()  # two sinks below; compute the probe once
        fresh.write.mode("append").parquet(out_path)
        fresh.select("doc_id", F.col("content_hash").alias("h")).write.mode(
            "append"
        ).parquet(f"{index_path}/content_hash")

    return _start_drain(candidates, _admit, checkpoint)


# ---------------------------------------------------------------------------
# streaming EMBEDDING admission: the ANN-index twin of the hash loop
# ---------------------------------------------------------------------------

from pyspark.sql.types import ArrayType, DoubleType  # noqa: E402

#: wire schema for one embedded item (JSON lines)
VEC_WIRE_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("v", ArrayType(DoubleType())),
        StructField("ingest_ts", LongType()),  # epoch milliseconds
    ]
)

#: admission cosine ceiling: a probe hit at or above this against ANY
#: indexed vector marks the arrival a semantic duplicate (exact
#: re-sends score 1.0 — `merge_ann_index` guarantees an exact copy
#: lands in its source's cell, so the probe always sees it).
SEMANTIC_DUP_COSINE = 0.995


def parse_vectors(raw: DataFrame) -> DataFrame:
    """JSON -> typed (vec_id, v, ingest_ts) rows (one parse per record),
    malformed dropped."""
    vecs = json_columns(raw, VEC_WIRE_SCHEMA).where(
        F.col("vec_id").isNotNull() & (F.size("v") > 0)
    )
    return vecs.withColumn("ingest_ts", F.timestamp_millis("ingest_ts"))


def start_embedding_admission(
    spark: SparkSession,
    src_path: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    dup_cosine: float = SEMANTIC_DUP_COSINE,
):
    """`start_corpus_admission`'s ANN twin: the embedding stream
    composes with the MATERIALIZED IVF index
    (`operators/similarity.write_ann_index`). Each micro-batch

    1. PROBES the index with the batch vectors
       (`probe_ann_index`: rank the broadcast centroids, read the
       nprobe nearest cells' postings only) and rejects arrivals whose
       best indexed neighbor scores >= ``dup_cosine`` (semantic
       near-duplicates, however old — the history the within-stream
       horizon cannot cover);
    2. APPENDS the admitted vectors to the corpus table AND into the
       index postings (`merge_ann_index`: assign to nearest EXISTING
       centroid, cid-partitioned append) — so the NEXT batch's probes
       see them: read-your-writes admission, exactly the
       content-hash loop with cosine in place of equality.

    Same recovery discipline as the hash loop: a replayed batch
    re-probes an index its first run already updated, and its own
    vectors score 1.0 there — re-sends collapse instead of
    double-admitting (the append does add duplicate posting rows for
    the replayed batch itself; the probe tail's top-k ranking is
    insensitive to posting multiplicity, and compaction
    (`io.compact_index_table`) folds them — documented at
    `start_corpus_admission`).

    Scale notes (100 TB): per batch the corpus appears ONLY as nprobe
    cells' postings per query vector (cid-partition-pruned reads);
    the append is O(batch) rows into the touched cells. Centroids are
    K rows, broadcast twice (probe + assign). Nothing rescans, nothing
    retrains — retraining is the periodic `write_ann_index` rebuild,
    exactly the FAISS add-after-train maintenance split."""
    from ..operators.similarity import merge_ann_index, probe_ann_index

    candidates = parse_vectors(read_json_file_stream(spark, src_path))

    def _admit(batch_df, batch_id):
        sess = batch_df.sparkSession
        batch = batch_df.localCheckpoint()  # probed AND written below
        hits = (
            probe_ann_index(
                sess,
                index_path,
                batch.select(F.col("vec_id").alias("query_id"), "v"),
                topk=1,
            )
            .where(F.col("cosine") >= dup_cosine)
            .select(F.col("query_id").alias("vec_id"))
            .distinct()
        )
        fresh = batch.join(hits, "vec_id", "left_anti").localCheckpoint()
        fresh.write.mode("append").parquet(out_path)
        merge_ann_index(sess, index_path, fresh.select("vec_id", "v"))

    return _start_drain(candidates, _admit, checkpoint)


# ---------------------------------------------------------------------------
# streaming MANIFEST admission: the pretraining_mix_manifest twin
# ---------------------------------------------------------------------------


def manifest_run_id(checkpoint: str) -> str:
    """The ``run_id`` partition value of a manifest-admission run: a
    digest of its checkpoint location. The leading letter keeps it a
    string under partition type inference; a bare hex digest such as
    ``168e94140507`` is inferred as the decimal 168 x 10^94140507,
    and reading the table back did not finish in 90 s."""
    import hashlib

    return "r" + hashlib.md5(checkpoint.encode()).hexdigest()[:12]


def start_manifest_admission(
    spark: SparkSession,
    src_path: str,
    index_path: str,
    out_path: str,
    manifest_path: str,
    checkpoint: str,
):
    """`pretraining_mix_manifest`'s streaming twin: the same admission
    chain (quality gate -> exact-dedup survivorship), run per micro-
    batch, with EVERY stage's kill count recorded — each batch appends
    per-source counter rows (batch_id, source, n_input, drop_quality,
    drop_duplicate, admitted, tokens_admitted) to ``manifest_path``
    alongside the admitted docs and the index update, so the corpus
    manifest accumulates live instead of being recomputed nightly.

    Unlike `start_corpus_admission` (which gates BEFORE the sink and
    so cannot count what it dropped), the raw parsed stream enters
    foreachBatch ungated: the batch function computes the quality
    verdict, resolves duplicates within the batch (first doc_id per
    content hash) and against the MATERIALIZED hash index (everything
    ever admitted), and attributes every input row to exactly one
    fate — the same conservation invariant the batch manifest pins
    (n_input = drop_quality + drop_duplicate + admitted, per source,
    per batch; test_corpus_ingest pins it and stream==batch parity).

    Exactly-once (ALL columns, every crash window): the parts-store
    discipline of `start_incremental_packing`, applied to all three
    sinks. The stream's own index appends land in a SEPARATE
    provenance-keyed table ``{index_path}/content_hash_stream``
    partitioned by (run_id, batch_id) — ``run_id`` derives from the
    checkpoint location, so a recovered re-run of batch N (same
    checkpoint) probes seed + stream rows with batch_id < N only,
    EXCLUDING its own first run's appends, and therefore recomputes
    byte-identical fates; corpus, index and manifest all write with
    dynamic partition overwrite on (run_id, batch_id), so the re-run
    overwrites its own partitions with identical rows. No ordering of
    the three writes can double-count a counter column or duplicate a
    corpus row. A NEW checkpoint is a new logical run: its run_id
    differs, so it sees every prior run's admissions as history (the
    grown index) and appends alongside rather than overwriting."""
    parsed = parse_docs(read_json_file_stream(spark, src_path))
    run_id = manifest_run_id(checkpoint)
    stream_index = f"{index_path}/content_hash_stream"

    def _admit(batch_df, batch_id):
        sess = batch_df.sparkSession
        from pyspark.sql import Window as W

        flagged = batch_df.select(
            "doc_id",
            "source",
            "text",
            F.md5("text").alias("content_hash"),
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            (
                (F.size(F.split("text", " ")) >= MIN_TOKENS)
                & (
                    F.size(F.array_distinct(F.split("text", " ")))
                    / F.size(F.split("text", " ")).cast("double")
                    >= MIN_TTR
                )
            ).alias("q_ok"),
        ).localCheckpoint()
        known = sess.read.parquet(f"{index_path}/content_hash").select("h")
        try:
            # history EXCLUDING this run's own batch N (replay safety):
            # other runs' rows always count; this run's only below N
            known = known.unionByName(
                sess.read.parquet(stream_index)
                .where(
                    (F.col("run_id") != run_id)
                    | (F.col("batch_id") < batch_id)
                )
                .select("h")
            )
        except AnalysisException:
            pass  # no streamed admissions yet
        known = known.distinct()
        wocc = W.partitionBy("content_hash").orderBy("doc_id")
        fates = (
            flagged.where("q_ok")
            .withColumn("occ", F.row_number().over(wocc))
            .join(known, F.col("content_hash") == F.col("h"), "left")
            .select(
                "doc_id", "source", "text", "content_hash", "n_tokens",
                ((F.col("occ") > 1) | F.col("h").isNotNull()).alias("dup"),
            )
            .localCheckpoint()
        )
        admitted = fates.where(~F.col("dup"))
        (
            admitted.select(
                "doc_id", "source", "text", "content_hash", "n_tokens"
            )
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "batch_id")
            .parquet(out_path)
        )
        (
            admitted.select("doc_id", F.col("content_hash").alias("h"))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "batch_id")
            .parquet(stream_index)
        )
        counters = (
            flagged.select("doc_id", "source", F.col("q_ok"))
            .join(
                fates.select("doc_id", "dup"), "doc_id", "left"
            )
            .groupBy("source")
            .agg(
                F.count("*").cast("bigint").alias("n_input"),
                F.sum(F.when(F.col("q_ok"), 0).otherwise(1))
                .cast("bigint")
                .alias("drop_quality"),
                F.sum(F.when(F.col("dup"), 1).otherwise(0))
                .cast("bigint")
                .alias("drop_duplicate"),
                F.sum(
                    F.when(F.col("q_ok") & ~F.coalesce("dup", F.lit(False)), 1)
                    .otherwise(0)
                )
                .cast("bigint")
                .alias("admitted"),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
        )
        tokens = (
            admitted.groupBy("source")
            .agg(F.sum("n_tokens").cast("bigint").alias("tokens_admitted"))
        )
        (
            counters.join(tokens, "source", "left")
            .select(
                "batch_id",
                "source",
                "n_input",
                "drop_quality",
                "drop_duplicate",
                "admitted",
                F.coalesce("tokens_admitted", F.lit(0).cast("bigint")).alias(
                    "tokens_admitted"
                ),
            )
            .withColumn("run_id", F.lit(run_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "batch_id")
            .parquet(manifest_path)
        )

    return _start_drain(parsed, _admit, checkpoint)


# ---------------------------------------------------------------------------
# incremental sequence packing: `sequence_pack`'s streaming twin
# ---------------------------------------------------------------------------


def start_incremental_packing(
    spark: SparkSession,
    src_path: str,
    out_path: str,
    checkpoint: str,
    seq_len: int = 256,
):
    """`operators/chunking.sequence_pack`'s streaming twin: documents
    stream in and each micro-batch extends the per-source token
    concatenation EXACTLY where the previous batches left off, so the
    packed (source, seq_idx) assignments over the whole stream equal
    the batch packer's output on the same concatenation — training
    sequences can be cut continuously as the crawl lands instead of
    nightly.

    State is the parts-store discipline (`streaming/agg.
    write_rollup_parts`), NOT a mutable offset cell: the output table
    is partitioned by batch_id and written with dynamic partition
    overwrite, and batch N's starting offset per source is derived by
    SUMMING the token totals of parts batch_id < N at write time.
    Replay of batch N therefore reads the identical prefix and
    overwrites its own partition with identical rows — idempotent by
    construction, no read-modify-write race.

    Scale notes (100 TB): per batch, one window cumsum partitioned by
    source (the batch is micro-batch-sized) plus one bounded
    aggregate over the prior parts' per-source totals (parts x
    sources rows, compactable like the rollup parts). The assignment
    table IS the training manifest — a sequence is complete once a
    later batch starts a higher seq_idx for its source."""
    from pyspark.sql import Window as W

    parsed = parse_docs(read_json_file_stream(spark, src_path))

    def _pack(batch_df, batch_id):
        sess = batch_df.sparkSession
        toks = batch_df.select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        )
        try:
            prior = (
                sess.read.parquet(out_path)
                .where(F.col("batch_id") < batch_id)
                .groupBy("source")
                .agg(F.sum("n_tok").alias("tok_offset"))
            )
        except AnalysisException:  # first batch: no table yet
            # ONLY path-not-found counts as "first batch" — a transient
            # read failure at batch N>0 must fail the batch (and retry
            # under the checkpoint), never silently reset offsets to 0
            prior = None
        wcum = (
            W.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        cum = toks.withColumn(
            "tok_before_batch",
            F.coalesce(F.sum("n_tok").over(wcum), F.lit(0)),
        )
        if prior is not None:
            cum = cum.join(F.broadcast(prior), "source", "left")
        else:
            cum = cum.withColumn("tok_offset", F.lit(None).cast("long"))
        (
            cum.select(
                "doc_id",
                "source",
                "n_tok",
                (
                    F.col("tok_before_batch")
                    + F.coalesce("tok_offset", F.lit(0))
                ).alias("tok_before"),
            )
            .withColumn(
                "seq_idx",
                F.floor(F.col("tok_before") / F.lit(float(seq_len))).cast(
                    "long"
                ),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    return _start_drain(parsed, _pack, checkpoint)
