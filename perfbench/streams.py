"""The two streaming workloads: ``clickstream_live`` (open loop at a
fixed rate) and ``clickstream_backfill`` (drain a seeded backlog).

Both run the raw-sink query and the exact minute-rollup query of
``realtime_event_streaming_spark.streaming``. Their per-event and
per-batch timings come from Spark's progress events and from the
file-source log in each query's checkpoint; their outputs are checked
against the generated events.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs
import wiregen
from tracing import PHASES, StatusProbe, Tracer, batch_spans, iso_epoch

#: Spark keeps this many progress events per query (default 100).
PROGRESS_RETENTION = "10000"


# -- reading what the queries left on disk -----------------------------

def _log_entries(log_dir: str) -> list[dict]:
    """JSON entries of a Spark metadata log (file-source log or file
    sink log): numbered batch files plus ``.compact`` files, each a
    version line followed by one JSON object per line."""
    out = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        base = os.path.basename(path)
        if base.startswith(".") or not base.split(".")[0].isdigit():
            continue
        with open(path) as fh:
            lines = fh.read().splitlines()[1:]
        out.extend(json.loads(line) for line in lines if line.strip())
    return out


def file_batches(checkpoint: str) -> dict[str, int]:
    """Wire file name -> the batch that consumed it, from the query's
    file-source log (``sources/0``)."""
    out: dict[str, int] = {}
    for e in _log_entries(os.path.join(checkpoint, "sources", "0")):
        name = os.path.basename(e["path"])
        if out.setdefault(name, e["batchId"]) != e["batchId"]:
            raise ValueError(f"{name} logged in two batches")
    return out


def committed_batches(checkpoint: str) -> set[int]:
    return {
        int(os.path.basename(p))
        for p in glob.glob(os.path.join(checkpoint, "commits", "*"))
        if os.path.basename(p).isdigit()
    }


def sink_files(sink: str) -> list[str]:
    """Files the parquet sink committed (its ``_spark_metadata`` log);
    files of an interrupted batch are not listed and not read."""
    files = set()  # a .compact file repeats the entries before it
    for e in _log_entries(os.path.join(sink, "_spark_metadata")):
        if e.get("action", "add") == "add":
            files.add(e["path"].removeprefix("file://"))
    return sorted(files)


def timeline(progress: list[dict]) -> list[tuple]:
    """(batch id, start offset s, input rows, trigger s) per batch, for
    the run's result file."""
    t0 = iso_epoch(progress[0]["timestamp"]) if progress else 0.0
    return [
        (p["batchId"], round(iso_epoch(p["timestamp"]) - t0, 3),
         p.get("numInputRows", 0), p["durationMs"].get("triggerExecution", 0) / 1000)
        for p in progress
    ]


def commit_times(progress: list[dict]) -> dict[int, float]:
    """Batch id -> commit time: trigger start plus trigger duration."""
    return {
        p["batchId"]: iso_epoch(p["timestamp"])
        + p["durationMs"].get("triggerExecution", 0) / 1000
        for p in progress
    }


# -- output checks -------------------------------------------------------

def expected(valid: list[inputs.Click]) -> tuple[set[str], dict]:
    """The well-formed events' ids and their exact minute rollup."""
    return {c.event_id for c in valid}, inputs.rollup_oracle(valid)


def check_outputs(out_dir: str, expect: tuple[set[str], dict],
                  agg_progress: list[dict]) -> dict:
    """Raw sink: every well-formed event exactly once. Rollup: every
    finalized window equals the recomputation from the generated
    events, and every window the watermark has passed is present."""
    want, oracle = expect
    ids = []
    for f in sink_files(f"{out_dir}/clicks_raw"):
        ids.extend(pq.read_table(f, columns=["event_id"])["event_id"].to_pylist())
    got = set(ids)
    missing = len(want - got)
    problems = []
    if len(ids) != len(got):
        problems.append(f"raw sink holds {len(ids) - len(got)} duplicate events")
    if got - want:
        problems.append(f"raw sink holds {len(got - want)} events never generated")

    windows = {}
    for f in sink_files(f"{out_dir}/page_minute_agg"):
        t = pq.read_table(f)
        starts = pc.cast(pc.cast(t["window_start"], "timestamp[ms]"), "int64")
        for s, page, country, cnt, uu in zip(
            starts.to_pylist(), *(t[c].to_pylist() for c in
                                  ("page", "country", "cnt", "unique_users"))
        ):
            key = (s, page, country)
            if key in windows:
                problems.append(f"rollup window {key} emitted twice")
            windows[key] = (cnt, uu)
    marks = [p["eventTime"]["watermark"] for p in agg_progress
             if p.get("eventTime", {}).get("watermark")]
    wm_ms = int(iso_epoch(marks[-1]) * 1000) if marks else 0
    bad = [k for k, v in windows.items() if oracle.get(k) != v]
    due = [k for k in oracle if k[0] + 60_000 < wm_ms and k not in windows]
    if bad:
        problems.append(f"{len(bad)} rollup windows differ, e.g. {bad[0]}: "
                        f"{windows[bad[0]]} vs {oracle.get(bad[0])}")
    if due:
        problems.append(f"{len(due)} finalized windows missing, e.g. {due[0]}")
    if not windows:
        problems.append("no rollup window was finalized")
    return {"missing": missing, "windows": len(windows), "problems": problems}


# -- metrics -------------------------------------------------------------

def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def phase_metrics(layer: str, progress: list[dict]) -> dict[str, float]:
    """Per-batch medians of the progress phases, in seconds, over
    batches that read data."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {f"{layer}.batches": float(len(busy))}
    for name, key in PHASES.items():
        out[f"{layer}.{name}_s"] = _med(
            p["durationMs"].get(key, 0) / 1000 for p in busy
        )
    return out


def agg_state_metrics(progress: list[dict], events: int) -> dict[str, float]:
    ops = [p["stateOperators"] for p in progress if p.get("stateOperators")]
    last = ops[-1] if ops else []
    return {
        "agg.input_rows_per_event": (
            sum(p.get("numInputRows", 0) for p in progress) / max(events, 1)
        ),
        "agg.state_rows": float(sum(o.get("numRowsTotal", 0) for o in last)),
        "agg.state_memory_mb": sum(o.get("memoryUsedBytes", 0) for o in last) / 2**20,
        # commitTimeMs is task time summed over the shuffle partitions'
        # state stores, not wall time
        "agg.state_commit_task_s": _med(
            sum(o.get("commitTimeMs", 0) for o in op) / 1000 for op in ops
        ),
        "agg.rows_dropped_by_watermark": float(sum(
            o.get("numRowsDroppedByWatermark", 0) for op in ops for o in op
        )),
    }


def scheduler_metrics(probe: StatusProbe, groups: list[str], ops: int) -> dict:
    c = probe.counters(groups)
    n = max(ops, 1)
    return {
        "spark.jobs_per_call": c["jobs"] / n,
        "spark.stages_per_call": c["stages"] / n,
        "spark.tasks_per_call": c["tasks"] / n,
        "spark.executor_cpu_s": c["cpu_s"] / n,
        "spark.executor_run_s": c["run_s"] / n,
        "spark.shuffle_read_mb": c["shuffle_read_mb"] / n,
        "spark.shuffle_write_mb": c["shuffle_write_mb"] / n,
        "spark.spill_mb": c["spill_mb"] / n,
    }


# -- the pipeline under test -----------------------------------------------

def start_live_pipeline(spark, wire: str, out_dir: str):
    """``start_pipeline``'s wiring with an uncapped file source and
    back-to-back triggers."""
    from realtime_event_streaming_spark.streaming.agg import (
        EXACT_WATERMARK, minute_rollup_stream_exact, write_rollup,
    )
    from realtime_event_streaming_spark.streaming.ingest import (
        parse_clicks, read_json_file_stream, write_raw_events,
    )

    stream = parse_clicks(
        read_json_file_stream(spark, wire, max_files_per_trigger=None),
        watermark=EXACT_WATERMARK,
    )
    raw = write_raw_events(stream, f"{out_dir}/clicks_raw", f"{out_dir}/_ck_raw")
    agg = write_rollup(
        minute_rollup_stream_exact(stream),
        f"{out_dir}/page_minute_agg", f"{out_dir}/_ck_agg",
    )
    return raw, agg


def _stop(queries) -> None:
    for q in queries:
        if q.isActive:
            q.stop()


# -- clickstream_live ----------------------------------------------------------

#: Events per second offered: the reference producer's default rate
#: (``--rate 100``, recorded in BASELINE.md).
LIVE_RATE = 100.0
LIVE_TICK = 0.1  # seconds between wire files, well under one batch cycle
#: Events in the file both queries consume before the open loop starts
#: (their cold first batch), then seconds of open loop before the first
#: timed event.
LIVE_WARMUP_EVENTS = 1000
LIVE_WARMUP = 6.0
#: Seconds the window may slide to get clear of host steal episodes.
LIVE_SLACK = 6
DRAIN_TIMEOUT = 60.0


def _wait_consumed(ck: str, names: list[str], deadline: float) -> None:
    while time.time() < deadline:
        fb = file_batches(ck)
        if all(n in fb for n in names):
            last = max(fb[n] for n in names)
            if last in committed_batches(ck):
                return
        time.sleep(0.1)


def _wait_progress(q, batch: int, deadline: float) -> None:
    """Progress is reported just after the commit; wait for it."""
    while time.time() < deadline:
        if any(p["batchId"] >= batch for p in q.recentProgress):
            return
        time.sleep(0.05)


def run_live(ctx) -> dict:
    spark, work, seconds = ctx.spark, ctx.work, ctx.seconds
    wire, out_dir = f"{work}/wire", f"{work}/live"
    os.makedirs(wire)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", PROGRESS_RETENTION)
    tracer = ctx.tracer
    with ctx.inputs():
        warm = wiregen.live_source(ctx.seed, LIVE_RATE).take(LIVE_WARMUP_EVENTS)
        inputs.write_wire_file(wire, "clicks-000000.json", warm)
    with tracer.span("query.start", "live"):
        raw_q, agg_q = start_live_pipeline(spark, wire, out_dir)
    deadline = time.time() + DRAIN_TIMEOUT
    _wait_progress(raw_q, 0, deadline)
    _wait_progress(agg_q, 0, deadline)
    start = time.time() + 0.2
    log, stop = f"{work}/wire.log", f"{work}/wire.stop"
    gen = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(__file__), "wiregen.py"),
        "--dir", wire, "--log", log, "--seed", str(ctx.seed),
        "--rate", str(LIVE_RATE), "--tick", str(LIVE_TICK),
        "--skip", str(LIVE_WARMUP_EVENTS), "--start", str(start),
        "--seconds", str(LIVE_WARMUP + seconds + LIVE_SLACK), "--stop", stop,
    ])
    ctx.exclude_pids.add(gen.pid)
    try:
        t0 = start + LIVE_WARMUP  # the window starts here ...
        last_end = t0 + seconds + LIVE_SLACK  # the generator's last file
        time.sleep(max(0.0, t0 - time.time()))
        ctx.first_timed_op()
        t = t0
        while t < t0 + seconds:
            fits = t + 1 + seconds <= last_end
            with ctx.timed_unit(retries=LIVE_SLACK if fits else 0) as unit:
                time.sleep(max(0.0, t + 1 - time.time()))
            t += 1
            if not unit["keep"]:
                t0 = t  # ... or after the last second the host stole
        with open(stop, "w"):
            pass
        gen.wait(timeout=60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"generator exited with {gen.returncode}")
    with open(log) as fh:
        files = [json.loads(line) for line in fh]
    names = ["clicks-000000.json"] + [f["file"] for f in files]
    deadline = time.time() + DRAIN_TIMEOUT
    for ck in (f"{out_dir}/_ck_raw", f"{out_dir}/_ck_agg"):
        _wait_consumed(ck, names, deadline)
    fb = {q: file_batches(f"{out_dir}/_ck_{q}") for q in ("raw", "agg")}
    _wait_progress(raw_q, max(fb["raw"].values(), default=0), deadline)
    _wait_progress(agg_q, max(fb["agg"].values(), default=0), deadline)
    ctx.end_of_window()
    with tracer.span("query.stop", "live"):
        _stop((raw_q, agg_q))
    prog = {"raw": raw_q.recentProgress, "agg": agg_q.recentProgress}

    # Per event due in the window: the later of the two queries'
    # commits of its file, minus the event's due time at the generator.
    commits = {q: commit_times(prog[q]) for q in prog}
    lat: list[float] = []
    last_done = 0.0  # when both queries had committed the window
    for f in files:
        c = [commits[q].get(fb[q].get(f["file"])) for q in ("raw", "agg")]
        if None in c:
            continue  # not committed by both queries: counted as missing
        done_at = max(c)
        for i in range(f["first"], f["first"] + f["n"]):
            due = start + (i - LIVE_WARMUP_EVENTS) / LIVE_RATE
            if t0 <= due < t0 + seconds:
                lat.append(done_at - due)
                last_done = max(last_done, done_at)

    src = wiregen.live_source(ctx.seed, LIVE_RATE)
    src.take(LIVE_WARMUP_EVENTS + sum(f["n"] for f in files))
    check = check_outputs(out_dir, expected(src.valid), prog["agg"])
    res = ctx.result(
        # the window's events over the time from its start until the
        # last of them is committed by both queries
        latencies=lat, throughput=[len(lat) / (last_done - t0)],
        unit="events",
        attempted=len(src.valid), failed=check["missing"], check=check,
    )
    late = max(f["late_s"] for f in files)
    res["certificate"]["generator.late_s_max"] = late
    ctx.timeline.append({q: timeline(prog[q]) for q in prog})
    if ctx.trace:
        # Everything traced here is read after the window from Spark's
        # progress events, so nothing traced runs inside it; the
        # overhead is the time spent building the spans afterwards.
        t_trace = time.perf_counter()
        layer = {
            "generator.events": float(sum(f["n"] for f in files)),
            "generator.malformed": float(src.malformed),
            "generator.late_s_max": late,
            **phase_metrics("ingest", prog["raw"]),
            **phase_metrics("agg", prog["agg"]),
            # the rollup also read the pre-written warm-up file
            **agg_state_metrics(
                prog["agg"], LIVE_WARMUP_EVENTS + sum(f["n"] for f in files)
            ),
            **scheduler_metrics(
                ctx.probe, [str(raw_q.runId), str(agg_q.runId)],
                len(prog["raw"]) + len(prog["agg"]),
            ),
        }
        for f in files:
            due = start + (f["first"] - LIVE_WARMUP_EVENTS) / LIVE_RATE
            tracer.add("generator.file", due, due + f["late_s"] + LIVE_TICK,
                       f["file"], events=f["n"])
        batch_spans(tracer, "ingest", prog["raw"])
        batch_spans(tracer, "agg", prog["agg"])
        ctx.finish_trace(tracer, layer, overhead=time.perf_counter() - t_trace)
    return res


# -- clickstream_backfill --------------------------------------------------------

#: The backlog: 21 s of the reference's documented load test (10,000
#: events/s, recorded in BASELINE.md), one file per 7 s of it. Warm, on
#: 4 cores, the rollup's addBatch took about 1.1 s at 4k rows, 1.7 s at
#: 40k, 2.0-2.4 s at 100k and 3.5 s at 200k: about 1 s per batch plus
#: 12.5 us per row, so rows take about half of a 70k-row batch. Larger
#: files would not leave time for three timed drains in a run.
BACKLOG_FILES = 3
BACKLOG_EVENTS_PER_FILE = 70_000
#: Event time between consecutive events: the backlog spans 35 minutes
#: of event time, so the rollup finalizes windows.
BACKLOG_STEP_MS = 10
#: Timed drains kept per run, at least. A drain's first batch of each
#: query also starts the query and runs about twice as long as the
#: others; with three drains of three files each, p50 lies among the
#: other batches and p90 among the three first ones, rather than between
#: the two groups.
MIN_DRAINS = 3


def write_backlog(seed: int, wire: str) -> inputs.ClickSource:
    """A few large wire files with strictly increasing mtimes, so the
    file source replays them in event-time order."""
    src = inputs.ClickSource(seed, inputs.EPOCH_2024_MS, BACKLOG_STEP_MS)
    now = time.time()
    for k in range(BACKLOG_FILES):
        path = inputs.write_wire_file(
            wire, f"backlog-{k:03d}.json", src.take(BACKLOG_EVENTS_PER_FILE)
        )
        os.utime(path, (now - BACKLOG_FILES + k, now - BACKLOG_FILES + k))
    return src


def file_latencies(out_dir: str, prog: dict[str, list[dict]]) -> list[float]:
    """Per backlog file, the longer of the two queries' trigger times
    for the batch that consumed it."""
    took = {
        q: {p["batchId"]: p["durationMs"]["triggerExecution"] / 1000 for p in prog[q]}
        for q in prog
    }
    fb = {q: file_batches(f"{out_dir}/_ck_{q}") for q in prog}
    return [
        max(took[q][fb[q][name]] for q in prog) for name in sorted(fb["raw"])
    ]


def _drain(spark, wire: str, out_dir: str, tracer: Tracer, op: str):
    from realtime_event_streaming_spark.streaming.deploy import start_pipeline

    t0 = time.perf_counter()
    with tracer.span("query.drain", op) as sid:
        with tracer.span("query.start", op, sid):
            p = start_pipeline(spark, wire, out_dir)
        p.await_all()
    wall = time.perf_counter() - t0
    p.stop()
    for q in (p.raw_query, p.rollup_query):
        if q.exception() is not None:
            raise RuntimeError(f"backfill query failed: {q.exception()}")
    return wall, p


def run_backfill(ctx) -> dict:
    spark, work = ctx.spark, ctx.work
    wire = f"{work}/wire"
    os.makedirs(wire)
    with ctx.inputs():
        src = write_backlog(ctx.seed, wire)
    events = BACKLOG_FILES * BACKLOG_EVENTS_PER_FILE
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", PROGRESS_RETENTION)
    # Warm-up: an untimed drain of the first backlog file alone runs the
    # same code at the same batch size (a process's first batch runs
    # cold, about three times as long as a warm one).
    warm = f"{work}/warm-wire"
    os.makedirs(warm)
    os.link(f"{wire}/backlog-000.json", f"{warm}/backlog-000.json")
    _drain(spark, warm, f"{work}/warm", Tracer(False), "warm")
    ctx.first_timed_op()

    tracer = ctx.tracer
    phases = [False, True] if ctx.trace else [False]
    samples = {t: {"lat": [], "thr": []} for t in phases}
    outputs, drains = [], 0  # (out_dir, progress) of every timed drain
    traced_prog: dict[str, list[dict]] = {"raw": [], "agg": []}
    groups: list[str] = []
    # A traced run alternates untraced and traced drains until each side
    # has kept ``seconds`` and MIN_DRAINS of them.
    kept = {t: (0, 0.0) for t in phases}  # (drains, seconds)
    while any(n < MIN_DRAINS or secs < ctx.seconds for n, secs in kept.values()):
        traced = ctx.trace and kept[True] < kept[False]
        out_dir = f"{work}/drain-{drains}"
        tr = tracer if traced else Tracer(False)
        # at most one drain re-run for steal: each costs about 9 s
        with ctx.timed_unit(retries=1) as unit:
            wall, p = _drain(spark, wire, out_dir, tr, f"drain-{drains}")
        drains += 1
        prog = {"raw": p.raw_query.recentProgress,
                "agg": p.rollup_query.recentProgress}
        ctx.timeline.append({q: timeline(prog[q]) for q in prog})
        outputs.append((out_dir, prog))
        if not unit["keep"]:
            continue
        kept[traced] = (kept[traced][0] + 1, kept[traced][1] + wall)
        s = samples[traced]
        s["thr"].append(events / wall)
        s["lat"].extend(file_latencies(out_dir, prog))
        if traced:
            batch_spans(tracer, "ingest", prog["raw"])
            batch_spans(tracer, "agg", prog["agg"])
            for q in prog:
                traced_prog[q].extend(prog[q])
            groups += [str(p.raw_query.runId), str(p.rollup_query.runId)]
    ctx.end_of_window()
    expect = expected(src.valid)
    checks = [check_outputs(d, expect, prog["agg"]) for d, prog in outputs]
    failed = sum(c["missing"] for c in checks)
    attempted = len(src.valid) * len(checks)
    merged = {
        "missing": failed,
        "windows": min(c["windows"] for c in checks),
        "problems": [p for c in checks for p in c["problems"]],
    }
    res = ctx.result(
        latencies=samples[False]["lat"], throughput=samples[False]["thr"],
        unit="drains", attempted=attempted, failed=failed, check=merged,
    )
    if ctx.trace:
        prog = traced_prog
        layer = {
            **phase_metrics("ingest", prog["raw"]),
            **phase_metrics("agg", prog["agg"]),
            **agg_state_metrics(prog["agg"], events * len(groups) // 2),
            **scheduler_metrics(
                ctx.probe, groups, len(prog["raw"]) + len(prog["agg"])
            ),
        }
        ctx.finish_trace(tracer, layer, overhead=(
            statistics.median(samples[True]["lat"])
            - statistics.median(samples[False]["lat"])
        ))
    return res
