"""The ``dashboard_queries`` workload: one client in a closed loop
calling a seeded deck of registry queries over generated tables.

Each call is ``spark_fn(spark, sf_dir)`` followed by ``.collect()``.
The first call of each query (the warm-up, part of set-up) is checked
against its DuckDB oracle with the repository's own ``compare``.
"""

from __future__ import annotations

import statistics
import time
import traceback

import duckdb

import inputs
from tracing import Tracer, catalyst_phases

#: The deck: a fixed set of four ``reference`` and three ``star``
#: registry queries spanning the tagged queries' range of call times.
#: Every pass calls each once, in a seeded order.
DECK = (
    "top_pages", "latency_stats", "minute_rollup", "geo_breakdown",
    "discount_uplift", "top_customers", "pricing_summary",
)
#: Untimed passes after the checked first one. The JIT keeps speeding
#: the calls up for about ten passes: on one 4-vCPU JVM, passes took
#: 10.1 s (the first), then 2.6, 2.2, 1.8, 1.7, 1.5, 1.6, 1.5, 1.4, 1.4,
#: 1.4, 1.2, 1.2 and 1.3 s. Yet ten warm passes in place of three or
#: four did not narrow the run-to-run spread (interleaved runs on one
#: host), so the run's time goes to timed passes instead.
WARM_PASSES = 3
#: Timed passes kept per run, at least, so that p90 rests on the slowest
#: five or six of at least 56 calls.
MIN_PASSES = 8
GENERATED_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in GENERATED_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_first_results(spark, reg, sf_dir: str) -> tuple[int, list[str]]:
    """Warm-up: call every deck query once and compare its result with
    its oracle (rows only where there is none). Returns the number of
    failed calls and the problems found."""
    from tests.oracle import compare

    con = oracle_connection(sf_dir)
    failed, problems = 0, []
    for name in DECK:
        q = reg[name]
        try:
            df = q.spark_fn(spark, sf_dir)
            if q.oracle is None:
                found = [] if df.collect() else [f"{name}: no rows"]
            else:
                found = compare(name, df, con, q.oracle)
        except Exception:
            failed += 1
            problems.append(f"{name}: {traceback.format_exc(limit=2)}")
            continue
        problems.extend(found)
    return failed, problems


def run_dashboard(ctx) -> dict:
    from realtime_event_streaming_spark.registry import load_all

    spark, sf_dir = ctx.spark, f"{ctx.work}/tables"
    with ctx.inputs():
        inputs.write_star_tables(ctx.seed, sf_dir)
    with ctx.tracer.span("registry.load", "setup"):
        reg = load_all()
    missing = [n for n in DECK if n not in reg]
    if missing:
        raise KeyError(f"deck queries not registered: {missing}")
    failed, problems = check_first_results(spark, reg, sf_dir)
    for name in inputs.deck(list(DECK), -ctx.seed, WARM_PASSES):
        reg[name].spark_fn(spark, sf_dir).collect()
    ctx.first_timed_op()

    probe = ctx.probe
    order = iter(inputs.deck(list(DECK), ctx.seed, passes=10_000))
    samples = {False: [], True: []}  # (name, seconds) per call, by traced
    rates: list[float] = []  # calls per second of each kept untraced pass
    attempted = len(DECK)
    groups: list[str] = []
    layer: dict[str, list[float]] = {
        k: [] for k in ("registry.construct_s", "execute_s", "catalyst.analysis_s",
                        "catalyst.optimization_s", "catalyst.planning_s")
    }
    # A traced run alternates untraced and traced passes until each side
    # has kept ``seconds`` and MIN_PASSES of them, so JIT warming favours
    # neither side.
    # Only whole passes run, so every query is called equally often.
    kept = {t: (0, 0.0) for t in ([False, True] if ctx.trace else [False])}
    while any(n < MIN_PASSES or secs < ctx.seconds for n, secs in kept.values()):
        traced = ctx.trace and kept[True] < kept[False]
        tracer = ctx.tracer if traced else Tracer(False)
        calls = []
        t_pass = time.perf_counter()
        with ctx.timed_unit() as unit:
            for name in [next(order) for _ in DECK]:
                attempted += 1
                op = f"call-{attempted}"
                try:
                    if traced:
                        groups.append(probe.tag())
                    t0 = time.perf_counter()
                    with tracer.span("call.query", op, query=name) as root:
                        with tracer.span("registry.construct", op, root):
                            t1 = time.perf_counter()
                            df = reg[name].spark_fn(spark, sf_dir)
                            t2 = time.perf_counter()
                        with tracer.span("execute.collect", op, root):
                            df.collect()
                    dt = time.perf_counter() - t0
                    if traced:
                        probe.untag()
                        layer["registry.construct_s"].append(t2 - t1)
                        layer["execute_s"].append(dt - (t2 - t1))
                        for k, v in catalyst_phases(df).items():
                            layer[f"catalyst.{k}_s"].append(v)
                except Exception:
                    failed += 1
                    problems.append(f"{name}: {traceback.format_exc(limit=2)}")
                    continue
                calls.append((name, dt))
        if unit["keep"]:
            samples[traced].extend(calls)
            secs = time.perf_counter() - t_pass
            kept[traced] = (kept[traced][0] + 1, kept[traced][1] + secs)
            if not traced:
                rates.append(len(calls) / secs)
                ctx.timeline.append(calls)

    ctx.end_of_window()
    res = ctx.result(
        latencies=[secs for _, secs in samples[False]],
        throughput=rates,
        unit="passes", attempted=attempted, failed=failed,
        check={"missing": 0, "problems": problems},
    )
    if ctx.trace:
        per_layer = {k: statistics.median(v) for k, v in layer.items()}
        by_query: dict[str, list[float]] = {}
        for name, secs in samples[False]:
            by_query.setdefault(name, []).append(secs)
        for name, v in by_query.items():
            per_layer[f"call.{name}_s"] = statistics.median(v)
        c = probe.counters(groups)
        for k, v in c.items():
            key = {"cpu_s": "executor_cpu_s", "run_s": "executor_run_s"}.get(k, k)
            if k in ("jobs", "stages", "tasks"):
                key = f"{k}_per_call"
            per_layer[f"spark.{key}"] = v / max(len(groups), 1)
        ctx.finish_trace(tracer, per_layer, overhead=(
            statistics.median(s for _, s in samples[True])
            - statistics.median(s for _, s in samples[False])
        ))
    return res
