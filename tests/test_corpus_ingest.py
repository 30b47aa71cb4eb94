"""Streaming corpus admission: quality gate + cross-batch content
dedup + windowed admission rollup, replayed deterministically."""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F

from realtime_event_streaming_spark.streaming.corpus_ingest import (
    admission_rollup,
    admit_docs,
    parse_docs,
)
from realtime_event_streaming_spark.streaming.ingest import (
    read_json_file_stream,
)

BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z

GOOD_1 = " ".join(f"alpha{i}" for i in range(30))
GOOD_2 = " ".join(f"beta{i}" for i in range(25))
GOOD_3 = " ".join(f"gamma{i}" for i in range(40))
DUP_TEXT = " ".join(f"delta{i}" for i in range(22))
JUNK_SHORT = "a a a"  # fails MIN_TOKENS
JUNK_TTR = " ".join(["rep"] * 25)  # fails type-token ratio


def _doc(doc_id, text, source, off_s):
    return json.dumps(
        {
            "doc_id": doc_id,
            "text": text,
            "lang": "en",
            "source": source,
            "ingest_ts": BASE_MS + off_s * 1000,
        }
    )


def _write_batches(path, batches):
    os.makedirs(path, exist_ok=True)
    t0 = time.time()
    for i, lines in enumerate(batches):
        f = os.path.join(path, f"b{i}.json")
        with open(f, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(f, (t0 + i, t0 + i))


def _run(df, spark, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def test_streaming_admission_quality_dedup_and_rollup(spark, tmp_path):
    batches = [
        [
            _doc(1, GOOD_1, "sA", 0),
            _doc(2, GOOD_2, "sA", 5),
            _doc(3, JUNK_SHORT, "sB", 6),
            _doc(4, DUP_TEXT, "sB", 10),
            "not json at all",
        ],
        [
            _doc(5, DUP_TEXT, "sB", 20),  # exact re-send, other batch
            _doc(6, JUNK_TTR, "sA", 21),
            _doc(7, GOOD_3, "sA", 25),
        ],
        # sentinels must PASS the quality gate: Catalyst pushes the
        # gate's filter below the EventTimeWatermark node, so rejected
        # rows never advance the watermark. Two are needed — the wm
        # computed from batch N only takes effect in batch N+1, so the
        # second sentinel's batch is what closes the [00:00, 01:00)
        # window for the rollup.
        [_doc(99, " ".join(f"sent{i}" for i in range(21)), "sZ", 120)],
        [_doc(100, " ".join(f"sent2x{i}" for i in range(21)), "sZ", 180)],
    ]
    src = str(tmp_path / "docs")
    _write_batches(src, batches)

    admitted = _run(
        admit_docs(parse_docs(read_json_file_stream(spark, src))),
        spark,
        "corpus_admitted",
    )
    rows = {r.doc_id: r for r in admitted.collect()}
    # quality rejects the short/repetitive docs, the cross-batch
    # re-send collapses to its first-seen id; 99/100 are the
    # watermark-advancing sentinels
    assert set(rows) == {1, 2, 4, 7, 99, 100}
    assert rows[4].content_hash == rows[4].content_hash
    assert all(r.n_tokens >= 20 for r in rows.values())

    rollup = _run(
        admission_rollup(admit_docs(parse_docs(read_json_file_stream(spark, src)))),
        spark,
        "corpus_rollup",
    )
    got = {
        (r.source, r.docs_admitted, r.tokens_admitted)
        for r in rollup.where(
            F.col("window_start") == "2024-01-01 00:00:00"
        ).collect()
    }
    assert got == {("sA", 3, 95), ("sB", 1, 22)}


def test_admission_against_materialized_index_rejects_history(spark, tmp_path):
    """The composed loop: a re-send of a CORPUS doc (older than any
    watermark horizon) is rejected by the index probe, and a doc
    admitted in batch 1 rejects its own re-send in batch 2 because the
    index was updated in between."""
    from realtime_event_streaming_spark.io import load_table
    from realtime_event_streaming_spark.operators.dedup import (
        write_dedup_index,
    )
    from realtime_event_streaming_spark.streaming.corpus_ingest import (
        start_corpus_admission,
    )

    index = str(tmp_path / "index")
    write_dedup_index(spark, "/root/testdata/sf0.001", index)
    corpus_text = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .where("doc_id = 10")
        .collect()[0]
        .text
    )

    batches = [
        [
            _doc(1, corpus_text, "sA", 0),  # historic dup -> index reject
            _doc(2, GOOD_1, "sA", 1),  # fresh -> admitted
        ],
        [
            _doc(3, GOOD_1, "sB", 100),  # re-send of batch-1 admit -> reject
            _doc(4, GOOD_2, "sB", 101),  # fresh -> admitted
        ],
    ]
    src = str(tmp_path / "docs")
    _write_batches(src, batches)

    q = start_corpus_admission(
        spark,
        src,
        index,
        str(tmp_path / "corpus_out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    admitted = spark.read.parquet(str(tmp_path / "corpus_out"))
    assert {r.doc_id for r in admitted.collect()} == {2, 4}
    # the index grew by exactly the admitted hashes
    grown = spark.read.parquet(f"{index}/content_hash")
    assert grown.count() == 500 + 2


def _vec(vec_id, v, off_s):
    return json.dumps(
        {"vec_id": vec_id, "v": v, "ingest_ts": BASE_MS + off_s * 1000}
    )


def test_embedding_admission_read_your_writes(spark, tmp_path):
    """The ANN twin of the hash loop: an exact copy of an INDEXED
    vector is rejected by the batch-1 probe (history), and a vector
    admitted in batch 1 rejects its own batch-2 re-send because
    `merge_ann_index` appended it in between — batch-1 vectors are
    retrievable by batch-2 probes."""
    from realtime_event_streaming_spark.io import load_table
    from realtime_event_streaming_spark.operators.similarity import (
        write_ann_index,
    )
    from realtime_event_streaming_spark.streaming.corpus_ingest import (
        start_embedding_admission,
    )

    index = str(tmp_path / "ann_index")
    write_ann_index(spark, "/root/testdata/sf0.001", index)
    corpus_v = [
        float(x)
        for x in load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .where("vec_id = 5")
        .collect()[0]
        .embedding
    ]
    fresh_a = [1.0 if i % 2 == 0 else 0.5 for i in range(64)]
    fresh_d = [0.25 if i % 3 == 0 else -1.0 for i in range(64)]

    batches = [
        [
            _vec(10001, fresh_a, 0),     # fresh -> admitted
            _vec(10002, corpus_v, 1),    # exact indexed copy -> reject
            "not json at all",
        ],
        [
            _vec(10003, fresh_a, 100),   # re-send of batch-1 admit -> reject
            _vec(10004, fresh_d, 101),   # fresh -> admitted
        ],
    ]
    src = str(tmp_path / "vecs")
    _write_batches(src, batches)

    q = start_embedding_admission(
        spark,
        src,
        index,
        str(tmp_path / "vec_out"),
        str(tmp_path / "vec_ckpt"),
    )
    q.awaitTermination(300)

    admitted = spark.read.parquet(str(tmp_path / "vec_out"))
    assert {r.vec_id for r in admitted.collect()} == {10001, 10004}
    # the index grew by exactly the admitted vectors, probe-visible
    post = spark.read.parquet(f"{index}/postings")
    assert post.count() == 500 + 2
    assert {
        r.vec_id for r in post.where("vec_id >= 10000").collect()
    } == {10001, 10004}


def test_manifest_admission_counters_conserve_and_match_batch(
    spark, tmp_path
):
    """The pretraining_mix_manifest streaming twin: per-batch counter
    rows must (a) attribute every input row to exactly one fate
    (n_input = drop_quality + drop_duplicate + admitted, per source
    per batch), (b) admit exactly the set the batch chain (quality
    gate + first-seen dedup incl. history) would admit, and (c) be
    replay-safe — a second run over the same files against the grown
    index admits nothing."""
    from realtime_event_streaming_spark.io import load_table
    from realtime_event_streaming_spark.operators.dedup import (
        write_dedup_index,
    )
    from realtime_event_streaming_spark.streaming.corpus_ingest import (
        start_manifest_admission,
    )

    index = str(tmp_path / "index")
    write_dedup_index(spark, "/root/testdata/sf0.001", index)
    corpus_text = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .where("doc_id = 10")
        .collect()[0]
        .text
    )

    batches = [
        [
            _doc(1, corpus_text, "sA", 0),   # historic dup -> index kill
            _doc(2, GOOD_1, "sA", 1),        # admitted
            _doc(3, JUNK_SHORT, "sA", 2),    # quality kill
            _doc(4, GOOD_2, "sB", 3),        # admitted
            _doc(5, GOOD_2, "sB", 4),        # within-batch dup -> kill
        ],
        [
            _doc(6, GOOD_1, "sB", 100),      # re-send of batch-1 admit
            _doc(7, JUNK_TTR, "sB", 101),    # quality kill
            _doc(8, GOOD_3, "sA", 102),      # admitted
        ],
    ]
    src = str(tmp_path / "docs")
    _write_batches(src, batches)

    q = start_manifest_admission(
        spark,
        src,
        index,
        str(tmp_path / "corpus_out"),
        str(tmp_path / "manifest"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    man = spark.read.parquet(str(tmp_path / "manifest")).collect()
    assert len(man) == 4  # 2 batches x 2 sources
    for r in man:
        assert r.n_input == r.drop_quality + r.drop_duplicate + r.admitted, r
    assert sum(r.admitted for r in man) == 3
    assert sum(r.drop_quality for r in man) == 2
    assert sum(r.drop_duplicate for r in man) == 3  # historic+within+resend

    admitted = spark.read.parquet(str(tmp_path / "corpus_out"))
    assert {r.doc_id for r in admitted.collect()} == {2, 4, 8}
    # admitted tokens match the counter rows
    tok_manifest = sum(r.tokens_admitted for r in man)
    tok_corpus = admitted.agg(F.sum("n_tokens")).collect()[0][0]
    assert tok_manifest == tok_corpus

    # replay the same files on a fresh checkpoint: the grown index
    # rejects everything; counters record the rejection, not silence
    q2 = start_manifest_admission(
        spark,
        src,
        index,
        str(tmp_path / "corpus_out"),
        str(tmp_path / "manifest2"),
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(300)
    man2 = spark.read.parquet(str(tmp_path / "manifest2")).collect()
    assert sum(r.admitted for r in man2) == 0
    assert sum(r.drop_duplicate for r in man2) == 6  # every survivor killed
    assert spark.read.parquet(str(tmp_path / "corpus_out")).count() == 3


def test_manifest_admission_batch_replay_is_exactly_once(spark, tmp_path):
    """A RECOVERED re-run of an already-executed batch (crash after
    the sinks wrote but before the checkpoint commit — simulated by
    deleting the last commit marker and restarting) must leave every
    manifest column, the corpus rows AND the stream index byte-stable:
    the (run_id, batch_id) parts-store discipline recomputes identical
    fates because the probe excludes the run's own batch-N appends."""
    import shutil

    from realtime_event_streaming_spark.streaming.corpus_ingest import (
        start_manifest_admission,
    )

    index = str(tmp_path / "index")
    spark.createDataFrame(
        [(-1, "0" * 32)], "doc_id long, h string"
    ).write.parquet(f"{index}/content_hash")

    batches = [
        [_doc(1, GOOD_1, "sA", 0), _doc(2, JUNK_SHORT, "sA", 1)],
        [_doc(3, GOOD_2, "sB", 10), _doc(4, GOOD_2, "sB", 11)],
    ]
    src = str(tmp_path / "docs")
    _write_batches(src, batches)

    ckpt = str(tmp_path / "ckpt")
    args = (
        spark,
        src,
        index,
        str(tmp_path / "corpus"),
        str(tmp_path / "manifest"),
        ckpt,
    )
    q1 = start_manifest_admission(*args)
    q1.awaitTermination(300)

    def _snapshot():
        man = sorted(
            tuple(r)
            for r in spark.read.parquet(str(tmp_path / "manifest"))
            .select(
                "batch_id", "source", "n_input", "drop_quality",
                "drop_duplicate", "admitted", "tokens_admitted",
            )
            .collect()
        )
        corpus = sorted(
            tuple(r)
            for r in spark.read.parquet(str(tmp_path / "corpus"))
            .select("doc_id", "content_hash", "n_tokens")
            .collect()
        )
        idx = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{index}/content_hash_stream")
            .select("doc_id", "h", "batch_id")
            .collect()
        )
        return man, corpus, idx

    before = _snapshot()
    assert sum(r[5] for r in before[0]) == 2  # docs 1, 3 admitted

    # simulate the crash window: batch 1's sinks committed, the
    # checkpoint commit didn't — Spark will re-run batch 1 on restart
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    shutil.rmtree(str(tmp_path / "corpus") + "/_spark_metadata",
                  ignore_errors=True)

    q2 = start_manifest_admission(*args)
    q2.awaitTermination(300)
    assert _snapshot() == before


def test_incremental_packing_matches_batch_and_replays(spark, tmp_path):
    """The sequence_pack streaming twin: (a) streamed per-batch packing
    with parts-derived offsets must equal the batch packer's global
    cumsum over the same concatenation (doc_ids arrive monotone, so
    arrival order == doc_id order); (b) a replay over the same files
    overwrites its own batch partitions with identical rows."""
    import pyspark.sql.functions as FF
    from pyspark.sql import Window as W

    from realtime_event_streaming_spark.streaming.corpus_ingest import (
        start_incremental_packing,
    )

    texts = {
        1: " ".join(f"a{i}" for i in range(100)),
        2: " ".join(f"b{i}" for i in range(200)),
        3: " ".join(f"c{i}" for i in range(90)),
        4: " ".join(f"d{i}" for i in range(150)),
        5: " ".join(f"e{i}" for i in range(300)),
        6: " ".join(f"f{i}" for i in range(60)),
    }
    batches = [
        [_doc(1, texts[1], "sA", 0), _doc(2, texts[2], "sB", 1)],
        [_doc(3, texts[3], "sA", 10), _doc(4, texts[4], "sA", 11)],
        [_doc(5, texts[5], "sB", 20), _doc(6, texts[6], "sA", 21)],
    ]
    src = str(tmp_path / "docs")
    _write_batches(src, batches)

    out = str(tmp_path / "packed")
    q = start_incremental_packing(
        spark, src, out, str(tmp_path / "ckpt"), seq_len=256
    )
    q.awaitTermination(300)

    got = {
        r.doc_id: (r.source, r.tok_before, r.seq_idx)
        for r in spark.read.parquet(out).collect()
    }
    assert len(got) == 6

    # batch twin: global cumsum over (source, doc_id)
    rows = [(d, s, len(texts[d].split())) for d, s in
            [(1, "sA"), (2, "sB"), (3, "sA"), (4, "sA"), (5, "sB"), (6, "sA")]]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    wcum = (
        W.partitionBy("source").orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    want = {
        r.doc_id: (r.source, r.tok_before, r.seq_idx)
        for r in df.withColumn(
            "tok_before", FF.coalesce(FF.sum("n_tok").over(wcum), FF.lit(0))
        )
        .withColumn(
            "seq_idx", FF.floor(FF.col("tok_before") / 256.0).cast("long")
        )
        .collect()
    }
    assert got == want

    # replay over the same files (fresh checkpoint, same out table):
    # batch ids restart at 0 and dynamic overwrite lands identical rows
    q2 = start_incremental_packing(
        spark, src, out, str(tmp_path / "ckpt2"), seq_len=256
    )
    q2.awaitTermination(300)
    again = {
        r.doc_id: (r.source, r.tok_before, r.seq_idx)
        for r in spark.read.parquet(out).collect()
    }
    assert again == want
    assert spark.read.parquet(out).count() == 6


def test_committed_manifest_fixture_matches_generator():
    """The committed wire fixture is byte-pinned to the generator that
    defines it (the replay_wire discipline) — a drift in either is a
    test failure, so the driver's oracle and the streaming replay can
    never silently diverge from the code."""
    from pathlib import Path

    from realtime_event_streaming_spark.plans.manifest_replay import (
        FIXTURE_DIR,
        manifest_fixture_batches,
    )

    gen = manifest_fixture_batches()
    parts = sorted(Path(FIXTURE_DIR).glob("part-*.txt"))
    assert len(parts) == len(gen)
    for p, lines in zip(parts, gen):
        assert p.read_text() == "\n".join(lines) + "\n", p


def test_manifest_admission_recovers_from_checkpoint(spark, tmp_path):
    """Checkpoint recovery for the manifest admission: a restart
    against the SAME checkpoint must process ONLY the files that
    arrived after the first run (offset tracking), never re-admit or
    re-count the already-processed batches, and the accumulated
    manifest must equal the one-shot truth over all files."""
    import os
    import time

    from realtime_event_streaming_spark.streaming.corpus_ingest import (
        start_manifest_admission,
    )

    index = str(tmp_path / "index")
    spark.createDataFrame(
        [(-1, "0" * 32)], "doc_id long, h string"
    ).write.parquet(f"{index}/content_hash")

    src = str(tmp_path / "docs")
    os.makedirs(src)
    t0 = time.time()

    def _deliver(i, lines):
        f = os.path.join(src, f"b{i}.json")
        with open(f, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(f, (t0 + i, t0 + i))

    _deliver(0, [_doc(1, GOOD_1, "sA", 0), _doc(2, JUNK_SHORT, "sA", 1)])
    _deliver(1, [_doc(3, GOOD_2, "sB", 10), _doc(4, GOOD_2, "sB", 11)])

    args = (
        spark,
        src,
        index,
        str(tmp_path / "corpus"),
        str(tmp_path / "manifest"),
        str(tmp_path / "ckpt"),
    )
    q1 = start_manifest_admission(*args)
    q1.awaitTermination(300)
    man1 = spark.read.parquet(str(tmp_path / "manifest"))
    assert {r.batch_id for r in man1.collect()} == {0, 1}
    assert sum(r.admitted for r in man1.collect()) == 2  # docs 1, 3

    # late file arrives; restart against the SAME checkpoint
    _deliver(2, [_doc(5, GOOD_3, "sA", 20), _doc(6, GOOD_1, "sA", 21)])
    q2 = start_manifest_admission(*args)
    q2.awaitTermination(300)

    man = spark.read.parquet(str(tmp_path / "manifest")).collect()
    # exactly one new batch; earlier rows untouched
    assert {r.batch_id for r in man} == {0, 1, 2}
    assert len(man) == len(man1.collect()) + 1
    for r in man:
        assert r.n_input == r.drop_quality + r.drop_duplicate + r.admitted
    # doc 6 is a re-send of batch-0's admit -> index kill; doc 5 admits
    assert sum(r.admitted for r in man) == 3
    admitted = spark.read.parquet(str(tmp_path / "corpus"))
    assert {r.doc_id for r in admitted.collect()} == {1, 3, 5}
    assert admitted.count() == 3  # no duplicated rows across restarts
