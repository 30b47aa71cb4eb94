"""Timer-driven user sessionization (gap closure by event-time).

Extension beyond the reference's streaming surface (the reference's
only keyed state is the Welford anomaly scorer, StreamJob.java:130-191,
covered by ``streaming/anomaly_stream.py``): close a user's session
and emit exactly one summary row when the user has been silent for
``SESSION_GAP_S`` of *event time*. Gap-closure cannot be expressed by
``groupBy(session_window(...))`` when the summary must carry
non-aggregable state (the distinct-page set) in one append-mode row.

Semantics per user key (identical in both implementations below):

- every input batch is split into gap-separated event-time runs; all
  but the last run close immediately (the input itself proves the
  gap), the last stays open in keyed state with an event-time timeout
  re-armed at ``last_event + gap``;
- when the watermark passes the armed timeout, the open session's
  summary is emitted and state cleared — so state size is O(open
  sessions), and an idle key costs nothing after emission.

Two implementations:

- ``sessionize_clicks`` — ``applyInPandasWithState`` with
  ``GroupStateTimeout.EventTimeTimeout`` (the state API available in
  every Spark 3.4+/4.x build). This is the tested default.
- ``sessionize_clicks_tws`` — the Spark 4 ``transformWithStateInPandas``
  state-v2 form (typed ValueState/MapState + explicit timers). Its
  Python state protocol needs ``protobuf``; ``ensure_protobuf`` (run
  at this module's import, which also happens INSIDE workers when the
  module-level processor class is unpickled) discovers a vendored
  pure-Python copy, so the path executes here and is driver-gated by
  ``session_tws_replay``; the test skips only when no copy exists.

Scale notes: state is partitioned by user key like any keyed operator;
the page set covers the OPEN session only (bounded by session length,
not history). EventTimeTimeout needs no timer-deletion bookkeeping —
each ``setTimeoutTimestamp`` replaces the key's single timeout.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_S = 60

OUTPUT_SCHEMA = (
    "user_id string, session_start_ms long, session_end_ms long,"
    " n_events long, n_pages long, duration_s double"
)

STATE_SCHEMA = "start_ms long, end_ms long, n long, pages array<string>"


def _summary(user_id, start, end, n, n_pages) -> dict:
    return {
        "user_id": str(user_id),
        "session_start_ms": start,
        "session_end_ms": end,
        "n_events": n,
        "n_pages": n_pages,
        "duration_s": (end - start) / 1000.0,
    }


def _split_runs(pdf: pd.DataFrame, gap_ms: int) -> list[pd.DataFrame]:
    """Split one batch's rows into gap-separated event-time runs."""
    pdf = pdf.sort_values("ts_ms")
    run_id = (pdf["ts_ms"].diff() > gap_ms).cumsum()
    return [g for _, g in pdf.groupby(run_id, sort=True)]


def _fold_runs(
    user_id, runs: list[pd.DataFrame], prior: tuple | None
) -> tuple[list[dict], tuple]:
    """Fold one trigger's gap-separated runs into a user's session.

    ``prior`` is the open session ``(start, end, n, pages)`` from state,
    or None. It absorbs the first run when that run starts within the
    gap, and closes otherwise (the arriving input proves the gap). Every
    run but the last closes. Returns the closed sessions' summaries and
    the new open session ``(start, end, n, page set)``."""
    gap_ms = SESSION_GAP_S * 1000
    emitted: list[dict] = []
    absorb = None  # (start, n, pages) of the open session merging into run 0
    if prior is not None:
        p_start, p_end, p_n, p_pages = prior
        if int(runs[0]["ts_ms"].min()) - p_end <= gap_ms:
            absorb = (p_start, p_n, set(p_pages))
        else:
            emitted.append(_summary(user_id, p_start, p_end, p_n, len(p_pages)))

    open_sess = None
    for i, g in enumerate(runs):
        s, e = int(g["ts_ms"].min()), int(g["ts_ms"].max())
        cnt = len(g)
        pg = set(g["page"].astype(str))
        if i == 0 and absorb is not None:
            s, cnt, pg = min(s, absorb[0]), cnt + absorb[1], pg | absorb[2]
        if i < len(runs) - 1:
            emitted.append(_summary(user_id, s, e, cnt, len(pg)))
        else:
            open_sess = (s, e, cnt, pg)
    return emitted, open_sess


def _sessionize_key(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    gap_ms = SESSION_GAP_S * 1000
    (user_id,) = key

    if state.hasTimedOut:
        # watermark passed last_event + gap: close the open session
        start, end, n, pages = state.get
        state.remove()
        yield pd.DataFrame([_summary(user_id, start, end, n, len(pages))])
        return

    frames = [p for p in pdfs if not p.empty]
    if not frames:
        return
    runs = _split_runs(pd.concat(frames), gap_ms)
    emitted, (s, e, cnt, pg) = _fold_runs(
        user_id, runs, state.get if state.exists else None
    )
    state.update((s, e, cnt, sorted(pg)))
    state.setTimeoutTimestamp(e + gap_ms)
    if emitted:
        yield pd.DataFrame(emitted)


def sessionize_clicks(clicks: DataFrame) -> DataFrame:
    """Gap-closed session summaries from a watermarked click stream
    (``parse_clicks`` output). Event-time timeouts need the watermark
    the parse stage already applied."""
    keyed = clicks.select(
        "user_id",
        (F.col("ts").cast("double") * 1000).cast("long").alias("ts_ms"),
        "page",
        "ts",
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _sessionize_key,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Spark 4 state-v2 form (transformWithStateInPandas) — import-gated
# ---------------------------------------------------------------------------


def _tws_processor():
    """Build the state-v2 SessionProcessor. MODULE-LEVEL class (not a
    closure): cloudpickle ships a module-level class by REFERENCE, so
    every Spark worker (including the transformWithState driver
    worker) imports THIS module while unpickling it — which runs
    ``ensure_protobuf`` below in that process before pyspark's lazy
    ``StateMessage_pb2`` import. A function-local class would pickle
    by value and skip the import, leaving workers without the
    vendored protobuf when the JVM env lacks PYTHONPATH (how the
    round-10 session_tws_replay first failed)."""
    return SessionProcessor()


from ..protobuf_compat import ensure_protobuf  # noqa: E402

ensure_protobuf()

from pyspark.sql.streaming import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    ExpiredTimerInfo,
    TimerValues,
)


class SessionProcessor(StatefulProcessor):
    """Per-user open-session accumulator with a gap-closure timer
    (same semantics as ``_sessionize_key``, expressed with typed
    ValueState + MapState + explicit event-time timers)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.sess = handle.getValueState(
            "sess", "start_ms long, end_ms long, n long"
        )
        self.pages = handle.getMapState("pages", "page string", "seen int")

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        gap_ms = SESSION_GAP_S * 1000
        frames = [p for p in rows if not p.empty]
        if not frames:
            return iter([])
        runs = _split_runs(pd.concat(frames), gap_ms)
        prior = None
        if self.sess.exists():
            p_start, p_end, p_n = self.sess.get()
            # explicit timers need disarming on re-arm (unlike
            # GroupState's single implicit timeout)
            self.handle.deleteTimer(p_end + gap_ms)
            pages = {k[0] for k in self.pages.keys()}
            prior = (p_start, p_end, p_n, pages)
        (user_id,) = key
        emitted, (s, e, cnt, pg) = _fold_runs(user_id, runs, prior)
        self.sess.update((s, e, cnt))
        self.pages.clear()
        for p in pg:
            self.pages.updateValue((p,), (1,))
        self.handle.registerTimer(e + gap_ms)
        if emitted:
            return iter([pd.DataFrame(emitted)])
        return iter([])

    def handleExpiredTimer(
        self,
        key: Any,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo,
    ) -> Iterator[pd.DataFrame]:
        if not self.sess.exists():
            return iter([])
        start, end, n = self.sess.get()
        n_pages = sum(1 for _ in self.pages.keys())
        self.sess.clear()
        self.pages.clear()
        (user_id,) = key
        return iter(
            [pd.DataFrame([_summary(user_id, start, end, n, n_pages)])]
        )

    def close(self) -> None:
        pass



def sessionize_clicks_tws(clicks: DataFrame) -> DataFrame:
    """State-v2 (`transformWithStateInPandas`) form of
    ``sessionize_clicks``. Requires the `protobuf` package and the
    RocksDB state-store provider."""
    keyed = clicks.select(
        "user_id",
        (F.col("ts").cast("double") * 1000).cast("long").alias("ts_ms"),
        "page",
        "ts",
    )
    return keyed.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_tws_processor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="eventTime",
    )
