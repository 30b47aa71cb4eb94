"""Spans, Spark status counters and host readings for the benchmark.

Spans are recorded from the benchmark's own code around each call into
the system (session start, query construction, collect, streaming
query start and stop, generator files) and, for streaming queries, one
span per micro-batch with a child per progress phase. They stay in
memory and are written as JSON once the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime


@dataclass
class Span:
    id: int
    op: str  # spans of one operation share this id
    name: str  # "<layer>.<what>"
    start: float  # epoch seconds
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    costs one attribute check per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def add(self, name, start, end, op, parent=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = next(self._ids)
        self.spans.append(Span(sid, op, name, start, end, parent, attrs))
        return sid

    @contextmanager
    def span(self, name: str, op: str, parent: int | None = None, **attrs):
        """Time the block; yields the span id (None when disabled) so
        children can name their parent."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        start = time.time()
        try:
            yield sid
        finally:
            self.spans.append(Span(sid, op, name, start, time.time(), parent, attrs))

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer, the summed span durations minus the part of each
        span's interval that its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def iso_epoch(s: str) -> float:
    """Spark progress timestamps ("2026-01-01T00:00:00.123Z") -> epoch s."""
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


#: Progress ``durationMs`` phases reported per layer.
PHASES = {
    "latest_offset": "latestOffset",
    "query_planning": "queryPlanning",
    "add_batch": "addBatch",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
}


def batch_spans(tracer: Tracer, layer: str, progress: list[dict]) -> None:
    """One span per micro-batch, built from Spark's progress events,
    with one child span per progress phase laid end to end in the
    order Spark runs them."""
    for p in progress:
        d = p.get("durationMs", {})
        start = iso_epoch(p["timestamp"])
        op = f"{layer}-batch-{p['batchId']}"
        root = tracer.add(
            f"{layer}.batch", start, start + d.get("triggerExecution", 0) / 1000,
            op, rows=p.get("numInputRows", 0),
        )
        t = start
        for key in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                    "walCommit", "commitOffsets"):
            if key in d:
                tracer.add(f"{layer}.{key}", t, t + d[key] / 1000, op, root)
                t += d[key] / 1000


class StatusProbe:
    """Per-operation scheduler and executor counters from Spark's own
    status tracker and status store, read by job group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._groups = itertools.count()

    def tag(self) -> str:
        """Put the calling thread's next jobs in a fresh job group."""
        group = f"perfbench-{next(self._groups)}"
        self._sc.setJobGroup(group, group)
        return group

    def untag(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)

    def counters(self, groups: list[str]) -> dict[str, float]:
        """Summed counters over every job in ``groups``."""
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = self._sc.statusTracker()
        gw = self._sc._gateway
        store = self._jsc.statusStore()
        tot = dict.fromkeys(
            ("jobs", "stages", "tasks", "cpu_s", "run_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb"), 0.0,
        )
        for g in groups:
            for job in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(job)
                tot["jobs"] += 1
                for sid in info.stageIds if info else ():
                    seq = store.stageData(
                        sid, False, gw.jvm.java.util.ArrayList(), False,
                        gw.new_array(gw.jvm.double, 0),
                    )
                    for i in range(seq.size()):
                        sd = seq.apply(i)
                        if sd.executorRunTime() == 0 and sd.numCompleteTasks() == 0:
                            continue  # skipped stage: its output was reused
                        tot["stages"] += 1
                        tot["tasks"] += sd.numCompleteTasks()
                        tot["cpu_s"] += sd.executorCpuTime() / 1e9
                        tot["run_s"] += sd.executorRunTime() / 1e3
                        tot["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                        tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                        tot["spill_mb"] += (
                            sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                        ) / 2**20
        return tot


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds from the executed
    Dataset's ``queryExecution().tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
    return out


# -- host readings -----------------------------------------------------

def cpu_probe_ms(reps: int = 5) -> float:
    """Median time of a fixed pure-Python loop, in ms: the host's
    single-core speed at that moment. On shared hosts it can move by a
    third within seconds while the steal counter stays flat."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i
        times.append((time.perf_counter() - t0) * 1000)
    return sorted(times)[reps // 2]


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (read from /proc)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _system_pids(exclude: set[int]) -> list[int]:
    """This process and its descendants (the Spark JVM), less ``exclude``."""
    return [p for p in (os.getpid(), *descendants(os.getpid())) if p not in exclude]


def reset_peak_rss(exclude: set[int] = frozenset()) -> None:
    """Restart the peak-RSS counter (VmHWM) of the system's processes."""
    for pid in _system_pids(exclude):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def peak_rss_mb(exclude: set[int] = frozenset()) -> float:
    """Summed peak resident set (VmHWM) of the system's processes since
    they started or since ``reset_peak_rss``."""
    total = 0
    for pid in _system_pids(exclude):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024
