"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

A 100 TB training-data pipeline carries image/audio/video as opaque
``binary`` columns with typed metadata, decoded/feature-extracted by
Arrow-batched Python (the only place Python belongs in the hot path —
mapInPandas streams Arrow record batches, never rows).

The container has no image/audio libraries, so the *decode* step is a
deterministic stub (bytes -> length/fingerprint/dims, video ->
fixed-stride frame slices) — clearly marked, same batch shape and
schema as a real decoder. The Spark-side plumbing (binary encoding,
metadata struct, mapInPandas signature, per-batch iteration, frame
explosion) is real and oracle-checked: the stub's outputs are pure
functions of the payload, reproducible in SQL.

Swap ``_decode_stub``/``_frame_stub`` for PIL/ffmpeg calls and nothing
else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..registry import format_doc, register

N_FRAMES = 4

FEATURES_SCHEMA = (
    "doc_id bigint, n_bytes bigint, content_fp string, width int, height int"
)
FRAMES_SCHEMA = "doc_id bigint, frame_idx int, frame_fp string"


def binary_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents re-shaped as multimodal assets: payload bytes + typed
    metadata struct — the canonical wide-table layout (payload column
    LAST so metadata-only queries never touch the heavy bytes thanks to
    parquet column pruning)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.struct(
            F.lit("image/fake").alias("kind"),
            (64 + (F.col("doc_id") % 16) * 32).cast("int").alias("width"),
            (64 + (F.col("n_chars") % 9) * 32).cast("int").alias("height"),
        ).alias("meta"),
        F.encode("text", "UTF-8").alias("content"),
    )


def _decode_stub(content: bytes) -> tuple[int, str]:
    """Deterministic fake decode: (n_bytes, 8-hex content fingerprint)."""
    import hashlib

    return len(content), hashlib.md5(content).hexdigest()[:8]


def _features_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        decoded = [_decode_stub(c) for c in pdf["content"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "n_bytes": [d[0] for d in decoded],
                "content_fp": [d[1] for d in decoded],
                "width": [m["width"] for m in pdf["meta"]],
                "height": [m["height"] for m in pdf["meta"]],
            }
        )


_FEATURES_DUCK = """
SELECT doc_id,
       n_chars AS n_bytes,
       substr(md5(text), 1, 8) AS content_fp,
       cast(64 + (doc_id % 16) * 32 AS INT) AS width,
       cast(64 + (n_chars % 9) * 32 AS INT) AS height
FROM documents
ORDER BY doc_id
"""


@register("multimodal_features", _FEATURES_DUCK, tags=("multimodal",))
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary assets via
    mapInPandas (decode stubbed deterministically; see module doc).
    The oracle reproduces the stub in SQL, pinning the full plumbing:
    binary encode -> batch iterate -> python decode -> typed output."""
    assets = binary_assets(spark, sf_dir)
    return assets.mapInPandas(_features_batches, FEATURES_SCHEMA).orderBy("doc_id")


def _frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Fixed-stride 'video frame' sampling: N_FRAMES equal slices of the
    payload, fingerprint each — one output row per frame (row-exploding
    mapInPandas, the shape a real frame sampler has)."""
    import hashlib

    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_fp": []}
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            flen = len(content) // N_FRAMES
            if flen == 0:
                continue
            for i in range(N_FRAMES):
                chunk = bytes(content[i * flen : (i + 1) * flen])
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["frame_fp"].append(hashlib.md5(chunk).hexdigest()[:8])
        yield pd.DataFrame(out)


_FRAMES_DUCK = f"""
SELECT doc_id, i AS frame_idx,
       substr(md5(substr(text, i * (n_chars // {N_FRAMES}) + 1,
                         n_chars // {N_FRAMES})), 1, 8) AS frame_fp
FROM documents CROSS JOIN
     (SELECT unnest(generate_series(0, {N_FRAMES - 1})) AS i) AS g
WHERE n_chars // {N_FRAMES} > 0
ORDER BY doc_id, frame_idx
"""


@register("multimodal_frame_sample", _FRAMES_DUCK, tags=("multimodal",))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: mapInPandas exploding each
    asset into {n} fingerprinted frames (deterministic stub for the
    ffmpeg step)."""
    assets = binary_assets(spark, sf_dir)
    return assets.mapInPandas(_frame_batches, FRAMES_SCHEMA).orderBy(
        "doc_id", "frame_idx"
    )
format_doc(multimodal_frame_sample, n=N_FRAMES)


# ---------------------------------------------------------------------------
# audio segmentation (sliding byte windows, the ASR-prep shape)
# ---------------------------------------------------------------------------

SEG_BYTES = 48
SEG_HOP = 32

SEGMENTS_SCHEMA = (
    "doc_id bigint, seg_idx int, seg_fp string, voiced_ratio double"
)


def _segment_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Sliding-window 'audio' segmentation: SEG_BYTES windows advancing
    by SEG_HOP (overlapping, like ASR feature windows). The stubbed
    'voice activity' per segment is the non-space byte fraction — a
    deterministic stand-in for RMS energy a real VAD computes; swap
    the lambda for librosa/torchaudio and nothing else changes."""
    import hashlib

    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [], "seg_idx": [], "seg_fp": [], "voiced_ratio": []
        }
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            n = len(content)
            if n < SEG_BYTES:
                continue
            for i in range((n - SEG_BYTES) // SEG_HOP + 1):
                seg = bytes(content[i * SEG_HOP : i * SEG_HOP + SEG_BYTES])
                voiced = sum(1 for b in seg if b != 0x20)
                out["doc_id"].append(doc_id)
                out["seg_idx"].append(i)
                out["seg_fp"].append(hashlib.md5(seg).hexdigest()[:8])
                out["voiced_ratio"].append(round(voiced / SEG_BYTES, 4))
        yield pd.DataFrame(out)


_SEGMENTS_DUCK = f"""
SELECT doc_id, i AS seg_idx,
       substr(md5(substr(text, i * {SEG_HOP} + 1, {SEG_BYTES})), 1, 8)
         AS seg_fp,
       round(
         length(replace(substr(text, i * {SEG_HOP} + 1, {SEG_BYTES}), ' ', ''))
         / cast({SEG_BYTES} AS DOUBLE), 4) AS voiced_ratio
FROM documents CROSS JOIN
     (SELECT unnest(generate_series(0, 1000)) AS i) AS g
WHERE n_chars >= {SEG_BYTES}
  AND i <= (n_chars - {SEG_BYTES}) // {SEG_HOP}
ORDER BY doc_id, seg_idx
"""


@register("multimodal_audio_segments", _SEGMENTS_DUCK, tags=("multimodal",))
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size segmentation of binary payloads with a
    per-segment voice-activity proxy — the audio leg of the multimodal
    surface (images: `multimodal_features`, video:
    `multimodal_frame_sample`). Arrow-batched mapInPandas exploding
    each asset into its windows; the oracle reproduces the stub in
    SQL, pinning window offsets, fingerprints AND the activity math."""
    assets = binary_assets(spark, sf_dir)
    return assets.mapInPandas(_segment_batches, SEGMENTS_SCHEMA).orderBy(
        "doc_id", "seg_idx"
    )


# ---------------------------------------------------------------------------
# cross-video duplicate detection by shared frame fingerprints
# ---------------------------------------------------------------------------

#: minimum shared frames for a video pair to count as near-duplicate
_VDUP_MIN_SHARED = 2
_VDUP_TOPK = 10

_VDUP_DUCK = f"""
WITH off AS (SELECT max(doc_id) + 1 AS o FROM documents),
corpus AS (
  SELECT doc_id, text, n_chars FROM documents
  UNION ALL
  SELECT d.doc_id + off.o, d.text, d.n_chars
  FROM documents d CROSS JOIN off WHERE d.doc_id % 50 = 0
),
frames AS (
  SELECT doc_id, i AS frame_idx,
         substr(md5(substr(text, i * (n_chars // {N_FRAMES}) + 1,
                           n_chars // {N_FRAMES})), 1, 8) AS frame_fp
  FROM corpus CROSS JOIN
       (SELECT unnest(generate_series(0, {N_FRAMES - 1})) AS i) AS g
  WHERE n_chars // {N_FRAMES} > 0
),
pairs AS (
  SELECT a.doc_id AS va, b.doc_id AS vb,
         cast(count(*) AS BIGINT) AS shared_frames
  FROM frames a JOIN frames b
    ON a.frame_fp = b.frame_fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= {_VDUP_MIN_SHARED}
)
SELECT va, vb, shared_frames
FROM pairs
ORDER BY shared_frames DESC, va, vb
LIMIT {_VDUP_TOPK}
"""


@register("video_frame_dup_pairs", _VDUP_DUCK, tags=("multimodal", "dedup"))
def video_frame_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = binary_assets(spark, sf_dir)
    offset_df = assets.agg((F.max("doc_id") + 1).alias("_offset"))
    planted = (
        assets.where(F.col("doc_id") % 50 == 0)
        .crossJoin(F.broadcast(offset_df))
        .select(
            (F.col("doc_id") + F.col("_offset")).alias("doc_id"),
            "meta",
            "content",
        )
    )
    corpus = assets.unionByName(planted)
    frames = corpus.mapInPandas(_frame_batches, FRAMES_SCHEMA)
    a = frames.select(
        F.col("doc_id").alias("va"), F.col("frame_fp").alias("fp")
    )
    b = frames.select(
        F.col("doc_id").alias("vb"), F.col("frame_fp").alias("fp")
    )
    return (
        a.join(b, "fp")
        .where(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(F.count("*").cast("bigint").alias("shared_frames"))
        .where(F.col("shared_frames") >= _VDUP_MIN_SHARED)
        .orderBy(F.desc("shared_frames"), "va", "vb")
        .limit(_VDUP_TOPK)
    )
video_frame_dup_pairs.__doc__ = """Near-duplicate VIDEO detection by shared frame fingerprints —
    the content-ID shape: `multimodal_frame_sample`'s sampled-frame
    fingerprints become the blocking key, and two videos sharing >=
    {m} frames are a duplicate-candidate pair (re-encodes, re-uploads
    and trims share most sampled frames even when the container bytes
    differ). Composes the multimodal leg with the dedup family's
    discipline: the join is on the FINGERPRINT (bounded collision
    clusters), never all video pairs. Planted copies of every 50th
    asset (the `dedup_exact_groups` recipe) guarantee real positives
    at any scale factor.

    Plan: Arrow-batched mapInPandas explodes each asset into
    {n} fingerprinted frames (the stubbed ffmpeg step — swap for a
    real decoder, nothing else changes), then one group-by on
    frame_fp-equality pairs. Scale notes (100 TB): the pair join is
    fingerprint-blocked — its cost is sum over fingerprint clusters
    of cluster^2, the same bounded shape as the MinHash band join;
    frames-per-video is fixed ({n}), so the exploded table is
    n x videos rows with an 8-byte key.""".format(
        m=_VDUP_MIN_SHARED, n=N_FRAMES
    )
