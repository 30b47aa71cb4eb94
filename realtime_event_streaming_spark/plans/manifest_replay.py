"""Driver-visible replay of the streaming manifest admission.

The `streaming_rollup_replay` pattern applied to the corpus admission
chain: a fully deterministic document wire fixture is COMMITTED into
the repo (``tests/fixtures/manifest_wire/``, 3 JSON-lines files x 20
docs; ``tests/test_corpus_ingest.py::test_committed_manifest_fixture_
matches_generator`` re-derives it from `manifest_fixture_batches` and
asserts byte equality, so the fixture cannot drift from the code that
defines it). Both engines read the same bytes:

- Spark replays the files through the REAL streaming path —
  `streaming/corpus_ingest.start_manifest_admission` (file source one
  file per micro-batch, wire parse, quality gate, within-batch +
  against-index dedup, per-batch counter rows, index read-your-writes
  across batches) — against an index PRE-SEEDED with one historic
  content hash, then returns the per-source counter totals.
- The DuckDB oracle reads the same committed files and states the
  batch twin of the whole chain inline (gate, first-seen
  survivorship including the seeded historic hash, fate counters).

The per-source TOTALS are batch-invariant by construction (doc_ids
arrive monotone, so global first-seen == lowest doc_id), which is
exactly what makes the incremental execution's hash provable against
a one-shot relational answer — the stream==batch contract for the
admission pipeline, now driver-visible. The in-repo test keeps the
stronger per-batch evidence (conservation per batch, zero-admission
replay).
"""

from __future__ import annotations

import hashlib
import json
import shutil
import tempfile
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from .staging import stage_files

#: fixture geometry
_N_FILES = 3
_DOCS_PER_FILE = 20
_BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z

#: the historic document: its hash is pre-seeded into the index, so
#: its fixture occurrence is killed by the INDEX probe (the path the
#: watermark horizon cannot cover), not by within-stream dedup.
_HIST_TEXT = " ".join(f"hist{j}" for j in range(22))
_HIST_HASH = hashlib.md5(_HIST_TEXT.encode()).hexdigest()

#: committed fixture location; the replay streams
#: ``stage_files(FIXTURE_DIR)``, a content-keyed copy whose mtimes
#: increase in part order (FileStreamSource orders by mtime; a git
#: checkout gives arbitrary ones)
FIXTURE_DIR = (
    Path(__file__).resolve().parents[2]
    / "tests" / "fixtures" / "manifest_wire"
)


def _doc_text(f: int, i: int) -> str:
    if f == 0 and i == 1:
        return _HIST_TEXT
    if i % 7 == 0:
        return "a a a"  # fails MIN_TOKENS
    if i % 5 == 3:
        c = (i // 5) % 2
        return " ".join(f"dup{c}tok{j}" for j in range(25))
    return " ".join(f"w{f * 100 + i}x{j}" for j in range(30))


def manifest_fixture_batches() -> list[list[str]]:
    """The deterministic wire fixture: pure function of indices, no
    RNG — the committed files are byte-pinned to this generator."""
    out = []
    for f in range(_N_FILES):
        lines = []
        for i in range(_DOCS_PER_FILE):
            lines.append(json.dumps({
                "doc_id": f * 100 + i,
                "text": _doc_text(f, i),
                "lang": "en",
                "source": f"s{(i + f) % 3}",
                "ingest_ts": _BASE_MS + (f * 60 + i) * 1000,
            }))
        out.append(lines)
    return out


_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, text, source
  FROM read_json_auto('{FIXTURE_DIR}/part-*.txt',
                      format='newline_delimited')
  WHERE doc_id IS NOT NULL
),
flagged AS (
  SELECT doc_id, source, md5(text) AS h,
         len(string_split(text, ' ')) AS n_tok,
         (len(string_split(text, ' ')) >= 20
          AND len(list_distinct(string_split(text, ' ')))
              / cast(len(string_split(text, ' ')) AS DOUBLE) >= 0.3)
           AS q_ok
  FROM raw
),
surv AS (
  SELECT doc_id, source, n_tok,
         (row_number() OVER (PARTITION BY h ORDER BY doc_id) > 1
          OR h = '{_HIST_HASH}') AS dup
  FROM flagged WHERE q_ok
)
SELECT f.source,
       cast(count(*) AS BIGINT) AS n_input,
       cast(sum(CASE WHEN f.q_ok THEN 0 ELSE 1 END) AS BIGINT)
         AS drop_quality,
       cast(sum(CASE WHEN s.dup THEN 1 ELSE 0 END) AS BIGINT)
         AS drop_duplicate,
       cast(sum(CASE WHEN s.dup = FALSE THEN 1 ELSE 0 END) AS BIGINT)
         AS admitted,
       cast(coalesce(sum(CASE WHEN s.dup = FALSE THEN s.n_tok END), 0)
            AS BIGINT) AS tokens_admitted
FROM flagged f LEFT JOIN surv s ON s.doc_id = f.doc_id
GROUP BY f.source ORDER BY f.source
"""


@register("manifest_admission_replay", _ORACLE, tags=("streaming", "sampling"))
def manifest_admission_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming manifest admission replayed over the committed
    wire fixture (module doc): three micro-batches through
    `start_manifest_admission` against an index pre-seeded with one
    historic hash, per-source counter totals value-hashed against the
    DuckDB restatement of the whole chain. Proves the INCREMENTAL
    execution (per-batch gating, index read-your-writes across
    batches, within-batch survivorship) computes exactly the one-shot
    relational answer. ``sf_dir`` is unused — the fixture IS the
    input, like `rollup_parts_replay`."""
    from ..session import fixture_scale_shuffle
    from ..streaming.corpus_ingest import start_manifest_admission

    src = stage_files(FIXTURE_DIR)
    work = tempfile.mkdtemp(prefix="rtes_manifest_replay_")
    index = f"{work}/index"
    seed = spark.createDataFrame(
        [(-1, _HIST_HASH)], "doc_id long, h string"
    )
    seed.write.parquet(f"{index}/content_hash")
    with fixture_scale_shuffle(spark):
        q = start_manifest_admission(
            spark,
            src,
            index,
            f"{work}/corpus",
            f"{work}/manifest",
            f"{work}/ckpt",
        )
        q.awaitTermination(300)
    out = (
        spark.read.parquet(f"{work}/manifest")
        .groupBy("source")
        .agg(
            F.sum("n_input").cast("bigint").alias("n_input"),
            F.sum("drop_quality").cast("bigint").alias("drop_quality"),
            F.sum("drop_duplicate").cast("bigint").alias("drop_duplicate"),
            F.sum("admitted").cast("bigint").alias("admitted"),
            F.sum("tokens_admitted").cast("bigint").alias(
                "tokens_admitted"
            ),
        )
        .orderBy("source")
    )
    rows = out.collect()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema).orderBy("source")
