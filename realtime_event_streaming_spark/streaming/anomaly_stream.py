"""Stateful streaming anomaly detection — Welford z-score per key.

Reference semantics (StreamJob.java:130-191): for each (page, country)
key, score each window's count against the running mean/variance of
its *prior* windows (Welford update :160-170), flag |z| > 2.5 after
>= 5 observations (:175,:178), emit (agg row, is_anomaly, z, mean,
reason).

Spark form: ``applyInPandasWithState`` over the rollup stream keyed by
(page, country) — the one place this engine needs arbitrary per-group
Python state (SURVEY.md §2.11). State is three scalars (n, mean, m2);
batches arrive as Arrow frames, are processed in window_start order,
and every input row produces one scored output row. The alert filter
(reference P2/W11: keep is_anomaly, print) is a plain downstream
``filter``.

Deployment shape mirrors the reference's two-stage dataflow: the
rollup query appends to the agg table; this query streams that table
(file source) -> stateful score -> alert sink. Decoupling via storage
keeps each query single-stateful-purpose and independently
restartable/backfillable.

Scale notes: state is O(#keys) scalars — trivially partitioned; no
per-window user sets, no unbounded growth. A million keys is a few MB
per executor.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..operators.anomaly import WelfordState
from ..schemas import ANOMALY_SCHEMA

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("mean", DoubleType()),
        StructField("m2", DoubleType()),
    ]
)

#: The canonical anomaly schema lives in ``schemas.ANOMALY_SCHEMA``;
#: this alias is the scorer's Arrow output type.
OUTPUT_SCHEMA = ANOMALY_SCHEMA


def welford_fold(
    key: tuple[Any, ...], ws: WelfordState, frames: Iterable[pd.DataFrame]
) -> pd.DataFrame:
    """Score one key's rows of a trigger in ``window_start`` order,
    folding each into ``ws`` after scoring it; one output row per input
    row. Shared by both state APIs (``_score_key`` here and
    ``anomaly_tws.WelfordProcessor``)."""
    page, country = key
    out: dict[str, list] = {f.name: [] for f in OUTPUT_SCHEMA.fields}
    # Arrow delivers a group as CHUNKS (split at maxRecordsPerBatch) in
    # shuffle order; sorting per-chunk would corrupt the running state
    # whenever one key exceeds a chunk. Concatenate, then sort once.
    chunks = [pdf for pdf in frames if len(pdf)]
    if chunks:
        whole = pd.concat(chunks, ignore_index=True).sort_values("window_start")
        for row in whole.itertuples(index=False):
            x = float(row.cnt)
            prior_n = ws.n
            is_anom, z, reason = ws.score(x)
            ws.update(x)
            out["page"].append(page)
            out["country"].append(country)
            out["window_start"].append(str(row.window_start))
            out["cnt"].append(int(row.cnt))
            out["is_anomaly"].append("true" if is_anom else "false")
            out["z_score"].append(round(z, 4))
            out["running_mean"].append(round(ws.mean, 4))
            out["n_observations"].append(prior_n)
            out["reason"].append(reason)
    return pd.DataFrame(out)


def _score_key(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    ws = WelfordState(*state.get) if state.exists else WelfordState()
    scored = welford_fold(key, ws, pdfs)
    state.update((ws.n, ws.mean, ws.m2))
    yield scored


def score_rollup_stream(rollup: DataFrame) -> DataFrame:
    """Attach Welford z-score state to a (streaming or batch-replayed)
    minute-rollup frame. Every rollup row is emitted, scored; filter
    ``is_anomaly = 'true'`` for the alert sink."""
    return rollup.groupBy("page", "country").applyInPandasWithState(
        _score_key,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def alerts(scored: DataFrame) -> DataFrame:
    """The reference's anomaly side-output (StreamJob.java:274-277):
    anomalies only, human-readable line included."""
    import pyspark.sql.functions as F

    return scored.where(F.col("is_anomaly") == "true").select(
        "page",
        "country",
        "window_start",
        "cnt",
        "z_score",
        F.format_string(
            "ANOMALY DETECTED: page=%s country=%s window=%s cnt=%s (%s)",
            "page",
            "country",
            "window_start",
            "cnt",
            "reason",
        ).alias("alert"),
    )
