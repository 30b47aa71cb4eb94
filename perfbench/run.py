"""Benchmark command: run one workload in this process and print its
metrics.

    python3 perfbench/run.py --workload clickstream_live --seed 1 \
        --seconds 15 --trace 0

Workloads: clickstream_live, clickstream_backfill (the two gated in
BENCHMARK.json) and dashboard_queries (see perfbench/README.md);
``--workload all`` runs each of them in turn, each in a fresh process.
With ``--trace 0`` the last line of stdout is a JSON object with the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics
of a traced run. The line before it is a JSON summary with sample
counts, output-check problems and the run's noise certificate; the
same summary, and the spans of a traced run, are written under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import (  # noqa: E402
    StatusProbe, Tracer, cpu_probe_ms, peak_rss_mb, reset_peak_rss,
)

WORKLOADS = ("clickstream_live", "clickstream_backfill", "dashboard_queries")

END_TO_END = {
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_per_s": "1/s",
    "setup_s": "s",
}
#: Printed with the end-to-end metrics in every run's summary line, but
#: not gated: the JVM's heap sizing follows GC timing, and its run-to-run
#: spread on a shared 4-vCPU host is wider than any allowed bound.
UNGATED = {"peak_rss_mb": "MB"}

#: Per-layer metrics of a traced run. A metric that a workload does not
#: exercise reads 0 on it (e.g. ``ingest.*`` on dashboard_queries).
PER_LAYER = {
    **UNGATED,
    "session.start_s": "s",
    **{f"{layer}.{m}": u for layer in ("ingest", "agg") for m, u in (
        ("batches", "count"), ("latest_offset_s", "s"), ("query_planning_s", "s"),
        ("add_batch_s", "s"), ("wal_commit_s", "s"), ("commit_offsets_s", "s"),
    )},
    "agg.input_rows_per_event": "ratio",
    "agg.state_rows": "count",
    "agg.state_memory_mb": "MB",
    "agg.state_commit_task_s": "s",
    "agg.rows_dropped_by_watermark": "count",
    "generator.events": "count",
    "generator.malformed": "count",
    "generator.late_s_max": "s",
    "registry.construct_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "execute_s": "s",
    "spark.jobs_per_call": "count",
    "spark.stages_per_call": "count",
    "spark.tasks_per_call": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    **{f"self.{layer}_s": "s" for layer in (
        "session", "registry", "execute", "call", "query", "ingest", "agg",
    )},
    "trace.spans": "count",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """PER_LAYER plus one ``call.<query>_s`` per dashboard deck query."""
    from dashboard import DECK

    return {**PER_LAYER, **{f"call.{name}_s": "s" for name in DECK}}


def _steal_jiffies() -> int | None:
    from bench import _steal_jiffies

    return _steal_jiffies()


#: A timed unit (a deck pass, a drain, a second of the live window)
#: during which the host stole more than this many jiffies per second
#: (100 Hz per vCPU; this host idles at 1-5) ran through a steal
#: episode. It is discarded and run again, at most STEAL_RETRIES times
#: per run by default; the certificate counts them.
STEAL_MAX = 10.0
STEAL_RETRIES = 2


def quantile(xs: list[float], q: int) -> float:
    """The q-th percentile, interpolated between order statistics
    (``statistics.quantiles``, inclusive method): with a handful of
    samples the exclusive method returns the maximum for p90."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Run:
    """State of one benchmark run, handed to the workload function."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.work = os.path.abspath(f".perfbench_work/run-{os.getpid()}")
        self.tracer = Tracer(trace)
        self.exclude_pids: set[int] = set()
        self.layer: dict[str, float] = {}
        self.timeline: list = []  # per-batch progress, for the result file
        self.spark = None
        self.probe = None
        self._input_s = 0.0
        self._first_op: float | None = None
        self._peak_rss = 0.0
        self.steal0 = _steal_jiffies()
        self.retries = 0  # timed units discarded for steal

    @contextmanager
    def inputs(self):
        """Generating the benchmark's own inputs is left out of setup_s."""
        t0 = time.time()
        try:
            yield
        finally:
            self._input_s += time.time() - t0

    @contextmanager
    def timed_unit(self, retries: int = STEAL_RETRIES):
        """Wrap one timed unit; yields a dict whose ``keep`` is False
        after the block if the unit ran through a steal episode and
        fewer than ``retries`` units were discarded so far."""
        unit = {"keep": True}
        s0, t0 = _steal_jiffies(), time.monotonic()
        yield unit
        s1 = _steal_jiffies()
        if s0 is None or s1 is None:
            return
        if (s1 - s0) / (time.monotonic() - t0) > STEAL_MAX and self.retries < retries:
            self.retries += 1
            unit["keep"] = False

    def first_timed_op(self) -> None:
        """Set-up ends; the measured window starts."""
        self._first_op = time.time()
        reset_peak_rss(self.exclude_pids)

    def end_of_window(self) -> None:
        """The measured window ends, before the output checks run."""
        self._peak_rss = peak_rss_mb(self.exclude_pids)

    def result(self, latencies, throughput, unit, attempted, failed, check) -> dict:
        if not latencies or not throughput:
            raise RuntimeError("the run measured nothing")
        problems = check["problems"]
        return {
            "metrics": {
                "latency_p50_s": statistics.median(latencies),
                "latency_p90_s": quantile(latencies, 90),
                "throughput_per_s": statistics.median(throughput),
                "setup_s": self._first_op - PROCESS_START - self._input_s,
                "peak_rss_mb": self._peak_rss,
            },
            "samples": {
                "latency_p50_s": len(latencies), "latency_p90_s": len(latencies),
                "throughput_per_s": len(throughput), "setup_s": 1, "peak_rss_mb": 1,
                "throughput_unit": unit,
            },
            "attempted": attempted,
            "failed": failed,
            "correct": failed == 0 and check["missing"] == 0 and not problems,
            "problems": problems[:20],
            "certificate": {},
        }

    def finish_trace(self, tracer: Tracer, layer: dict, overhead: float) -> None:
        """Fold a workload's traced readings into the per-layer metrics;
        ``overhead`` is what tracing cost the workload, in seconds."""
        if tracer is not self.tracer:
            self.tracer.spans.extend(tracer.spans)
        self.layer.update(layer)
        for name, secs in self.tracer.self_time_by_layer().items():
            if f"self.{name}_s" in PER_LAYER:
                self.layer[f"self.{name}_s"] = secs
        self.layer["trace.spans"] = float(len(self.tracer.spans))
        self.layer["trace.overhead_s"] = overhead


def _pin_environment(work: str) -> int:
    """Pin Spark to this host's cores and keep every temporary file
    inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    ).strip()
    return cpus


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    # Fail fast, before starting anything, where the program is absent.
    sys.path.insert(0, ROOT)
    import realtime_event_streaming_spark  # noqa: F401

    ctx = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    with ctx.inputs():
        probe_start = cpu_probe_ms()
    cpus = _pin_environment(ctx.work)
    from realtime_event_streaming_spark.session import get_spark

    try:
        with ctx.tracer.span("session.start", "setup"):
            t0 = time.perf_counter()
            ctx.spark = get_spark(f"perfbench-{args.workload}")
            ctx.spark.sparkContext.setLogLevel("ERROR")
            ctx.layer["session.start_s"] = time.perf_counter() - t0
        ctx.probe = StatusProbe(ctx.spark)
        if args.workload == "dashboard_queries":
            from dashboard import run_dashboard as fn
        elif args.workload == "clickstream_live":
            from streams import run_live as fn
        else:
            from streams import run_backfill as fn
        res = fn(ctx)
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(ctx.work, ignore_errors=True)
    steal = _steal_jiffies()
    elapsed = time.time() - PROCESS_START
    from bench import _load1

    res["certificate"].update({
        "steal_per_sec": (
            None if steal is None or ctx.steal0 is None
            else (steal - ctx.steal0) / elapsed
        ),
        "load1": _load1(),
        "nproc": os.cpu_count(),
        "spark_graft_cpus": cpus,
        "elapsed_s": elapsed,
        "steal_retries": ctx.retries,
        "cpu_probe_ms": [probe_start, cpu_probe_ms()],
    })
    res["certificate"].setdefault("generator.late_s_max", None)
    res["timeline"] = ctx.timeline
    res["e2e"] = dict(res["metrics"])
    if ctx.trace:
        units = per_layer_units()
        ctx.layer["peak_rss_mb"] = res["metrics"]["peak_rss_mb"]
        res["metrics"] = {k: ctx.layer.get(k, 0.0) for k in units}
        ctx.tracer.dump(
            f".perfbench_work/traces/{args.workload}-seed{args.seed}.json"
        )
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        # each workload in a fresh process, one after another
        codes = [
            subprocess.run([
                sys.executable, os.path.abspath(__file__), "--workload", w,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace),
            ]).returncode
            for w in WORKLOADS
        ]
        return max(codes)
    # On SIGTERM, unwind through the finally blocks that stop Spark and
    # the generator.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    res = run(args)
    units = per_layer_units() if args.trace else END_TO_END
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": {
            k: {"value": v, "unit": {**END_TO_END, **UNGATED}[k]}
            for k, v in res["e2e"].items()
        },
        **{k: res[k] for k in ("samples", "problems", "certificate")},
    }
    os.makedirs(".perfbench_work/results", exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(f".perfbench_work/results/{tag}.json", "w") as fh:
        json.dump({**summary, "metrics": res["metrics"],
                   "timeline": res["timeline"]}, fh)
    print(json.dumps(summary))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            k: {"value": res["metrics"][k], "unit": units[k]} for k in units
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
