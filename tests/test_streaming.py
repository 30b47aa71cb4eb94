"""Streaming end-to-end tests (SURVEY.md §5.3-§5.4).

- reconciliation: streaming exact rollup == batch groupBy of the same
  events (the Spark analogue of metrics_queries.sql:42-57);
- late-data: rows arriving beyond the watermark are dropped, on-time
  rows are not (verified, not assumed — SURVEY.md §7 hard-part 3);
- stateful anomaly operator: spike flagged only after >= 5 prior
  windows (StreamJob.java:175,:178 semantics);
- ingestion: DROPMALFORMED behavior of the JSON parse.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from realtime_event_streaming_spark.sources.clickgen import (
    as_json_records,
    generate_clicks,
    write_stream_fixture,
)
from realtime_event_streaming_spark.streaming.agg import (
    EXACT_WATERMARK,
    minute_rollup_batch,
    minute_rollup_stream_exact,
)
from realtime_event_streaming_spark.streaming.anomaly_stream import (
    alerts,
    score_rollup_stream,
)
from realtime_event_streaming_spark.streaming.ingest import (
    parse_clicks,
    read_json_file_stream,
)


def _run_to_memory(df, spark, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def test_exact_rollup_matches_batch(spark, tmp_path):
    clicks = generate_clicks(spark, n_events=3000, n_users=100, rate_per_sec=5)
    write_stream_fixture(clicks, str(tmp_path / "in"), n_files=5)

    stream = parse_clicks(
        read_json_file_stream(spark, str(tmp_path / "in")),
        watermark=EXACT_WATERMARK,
    )
    emitted = _run_to_memory(
        minute_rollup_stream_exact(stream), spark, "rollup_exact"
    )

    truth = minute_rollup_batch(parse_clicks(as_json_records(clicks)))
    joined = emitted.alias("s").join(
        truth.alias("b"), ["window_start", "page", "country"]
    )
    n_emitted = emitted.count()
    assert n_emitted > 100, "expected a substantial set of finalized windows"
    mismatches = joined.where(
        (F.col("s.cnt") != F.col("b.cnt"))
        | (F.col("s.unique_users") != F.col("b.unique_users"))
    ).count()
    assert mismatches == 0
    # every emitted window exists in the batch truth (no phantom rows)
    assert joined.count() == n_emitted


def test_late_rows_beyond_watermark_are_dropped(spark, tmp_path):
    # Every 100th event's ts is pushed 10 minutes into the past: far
    # beyond the 70 s watermark by the time it arrives (arrival order =
    # generation order), so the streaming rollup must not count it.
    clicks = generate_clicks(
        spark,
        n_events=3000,
        n_users=100,
        rate_per_sec=5,
        late_every=100,
        late_by_seconds=600,
    )
    write_stream_fixture(clicks, str(tmp_path / "in"), n_files=5)

    stream = parse_clicks(
        read_json_file_stream(spark, str(tmp_path / "in")),
        watermark=EXACT_WATERMARK,
    )
    emitted = _run_to_memory(minute_rollup_stream_exact(stream), spark, "rollup_late")

    # batch truth over on-time rows only
    late_ids = clicks.where(
        (F.col("_seq") % 100) == 99
    ).select("event_id")
    on_time_clicks = parse_clicks(as_json_records(clicks)).join(
        late_ids, "event_id", "left_anti"
    )
    truth = minute_rollup_batch(on_time_clicks)

    joined = emitted.alias("s").join(
        truth.alias("b"), ["window_start", "page", "country"]
    )
    mismatches = joined.where(F.col("s.cnt") != F.col("b.cnt")).count()
    assert emitted.count() > 50
    assert mismatches == 0, "late rows leaked into finalized windows"


def test_anomaly_stream_flags_spike_after_history(spark, tmp_path):
    # Synthetic rollup: per key, 9 calm windows (cnt ~100) then a spike.
    rows = []
    for key_i, (page, country) in enumerate([("/", "US"), ("/cart", "DE")]):
        for m in range(10):
            cnt = 100 + (m % 3) + key_i  # calm with slight wiggle
            if m == 9:
                cnt = 1000  # spike
            rows.append(
                (
                    f"2024-01-01 00:{m:02d}:00",
                    f"2024-01-01 00:{m + 1:02d}:00",
                    page,
                    country,
                    cnt,
                    cnt,
                )
            )
    rollup = spark.createDataFrame(
        rows,
        "window_start string, window_end string, page string, country string,"
        " cnt long, unique_users long",
    )
    fixture = str(tmp_path / "rollup")
    rollup.coalesce(1).write.mode("overwrite").parquet(fixture)

    stream = (
        spark.readStream.schema(rollup.schema).parquet(fixture)
    )
    scored = _run_to_memory(score_rollup_stream(stream), spark, "scored")

    assert scored.count() == 20  # every rollup row scored
    anom = scored.where(F.col("is_anomaly") == "true").collect()
    assert len(anom) == 2, f"expected exactly the two spikes, got {anom}"
    assert all(r.cnt == 1000 and r.n_observations == 9 for r in anom)
    # early windows must be insufficient-history, never anomalous
    early = scored.where(F.col("n_observations") < 5).collect()
    assert all(r.is_anomaly == "false" for r in early)
    assert all(r.reason == "insufficient-history" for r in early)
    # alert formatting side-output
    alert_rows = alerts(spark.table("scored")).collect()
    assert len(alert_rows) == 2
    assert all("ANOMALY DETECTED" in r.alert for r in alert_rows)


def test_anomaly_state_survives_chunked_out_of_order_delivery(spark, tmp_path):
    # Arrow splits one group's rows into chunks (maxRecordsPerBatch) in
    # shuffle order; the operator must sort the WHOLE group, not each
    # chunk. Write 500 rollup rows in REVERSE window order with tiny
    # chunks: per-chunk sorting would score the spike (arriving in the
    # first chunk) against empty history and miss it.
    rows = []
    for m in range(500):
        cnt = 100 + (m % 5)
        if m == 499:
            cnt = 10000  # spike at the LAST window
        rows.append((f"2024-01-01 {m // 60:02d}:{m % 60:02d}:00", "/", "US", cnt, cnt))
    rollup = spark.createDataFrame(
        rows,
        "window_start string, page string, country string,"
        " cnt long, unique_users long",
    ).selectExpr(
        "window_start", "window_start AS window_end", "page", "country",
        "cnt", "unique_users",
    )
    fixture = str(tmp_path / "rollup_rev")
    rollup.orderBy(F.desc("window_start")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(fixture)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        stream = spark.readStream.schema(
            spark.read.parquet(fixture).schema
        ).parquet(fixture)
        scored = _run_to_memory(score_rollup_stream(stream), spark, "chunked")
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    assert scored.count() == 500
    anom = scored.where(F.col("is_anomaly") == "true").collect()
    assert len(anom) == 1 and anom[0].cnt == 10000
    assert anom[0].n_observations == 499, "spike must see full prior history"


def test_rollup_state_is_evicted_as_watermark_advances(spark, tmp_path):
    """The exact rollup keeps one state row (and user set) per open
    (window, page, country) key. Its single window aggregate must (a)
    remove rows as the watermark advances, (b) finish with far fewer
    state rows than the run's distinct keys, and (c) read each source
    line once — a self-union would add a second stateful operator and
    double the input rows."""
    clicks = generate_clicks(spark, n_events=3000, n_users=100, rate_per_sec=1.5)
    in_dir = str(tmp_path / "in")
    write_stream_fixture(clicks, in_dir, n_files=10)
    stream = parse_clicks(
        read_json_file_stream(spark, in_dir), watermark=EXACT_WATERMARK
    )
    q = (
        minute_rollup_stream_exact(stream)
        .writeStream.format("memory")
        .queryName("rollup_state_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    progresses = q.recentProgress
    assert sum(p["numInputRows"] for p in progresses) == (
        spark.read.text(in_dir).count()
    ), "the rollup must scan each source line once"
    stateful = [p["stateOperators"] for p in progresses if p.get("stateOperators")]
    assert stateful and all(len(ops) == 1 for ops in stateful), stateful
    agg_ops = [ops[0] for ops in stateful]
    assert all(op["operatorName"] == "stateStoreSave" for op in agg_ops)
    assert sum(op.get("numRowsRemoved", 0) for op in agg_ops) > 0, (
        "watermark advance never evicted window state"
    )

    total_keys = (
        minute_rollup_batch(parse_clicks(as_json_records(clicks)))
        .select("window_start", "page", "country")
        .distinct()
        .count()
    )
    final_rows = agg_ops[-1]["numRowsTotal"]
    assert final_rows < total_keys / 2, (final_rows, total_keys)


def test_exact_rollup_ignores_null_users_like_batch(spark, tmp_path):
    """A null user_id is not a distinct user: the stream must agree
    with minute_rollup_batch (countDistinct) and the DuckDB oracles
    (COUNT(DISTINCT)), which both ignore nulls."""
    import json
    import os
    import time

    t0 = 1_700_000_040_000  # epoch ms on a minute boundary
    users = [None] * 10 + ["u1", "u2"] * 10
    window = [
        {"event_id": f"e{i}", "user_id": u, "ts": t0 + i * 1000,
         "page": "/", "referrer": "", "country": "US", "device": "desktop"}
        for i, u in enumerate(users)
    ]
    # One event 5 minutes later moves the watermark past the window.
    closer = [dict(window[-1], event_id="close", ts=t0 + 300_000)]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    base = time.time() - 2
    for i, rows in enumerate([window, closer]):
        f = in_dir / f"part-{i}.txt"
        f.write_text("".join(json.dumps(r) + "\n" for r in rows))
        os.utime(f, (base + i, base + i))

    stream = parse_clicks(
        read_json_file_stream(spark, str(in_dir)), watermark=EXACT_WATERMARK
    )
    emitted = _run_to_memory(
        minute_rollup_stream_exact(stream), spark, "rollup_null_users"
    ).collect()
    truth = (
        minute_rollup_batch(parse_clicks(spark.read.text(str(in_dir))))
        .orderBy("window_start")
        .limit(1)
        .collect()
    )
    assert [r.asDict() for r in emitted] == [r.asDict() for r in truth]
    assert emitted[0]["cnt"] == 30 and emitted[0]["unique_users"] == 2


def test_kafka_wire_contract_round_trip(spark):
    """Pins the Kafka wire contract WITHOUT a broker (none exists in
    this sandbox): ``as_json_records`` produces the exact (key, value)
    frame ``ingest.write_kafka_sink`` ships and ``read_kafka_stream``
    yields, so producer->consumer parity reduces to this round-trip.
    Reference semantics (producer/produce.py:148-174): key = user_id,
    value = flat JSON with exactly the 7 wire fields."""
    clicks = generate_clicks(spark, n_events=500, n_users=50, rate_per_sec=50)
    wire = as_json_records(clicks)
    assert wire.columns == ["key", "value"]

    # Partitioning key is the user id (produce.py:166-168).
    bad_keys = wire.where(
        F.col("key") != F.get_json_object("value", "$.user_id")
    ).count()
    assert bad_keys == 0

    # Value is a flat JSON object with exactly the wire fields.
    from realtime_event_streaming_spark.sources.clickgen import WIRE_COLUMNS

    keysets = (
        wire.select(
            F.json_object_keys("value").cast("array<string>").alias("ks")
        )
        .distinct()
        .collect()
    )
    assert len(keysets) == 1 and tuple(keysets[0].ks) == WIRE_COLUMNS

    # Byte round-trip: consumer-side parse recovers every typed field.
    parsed = parse_clicks(wire)
    src = clicks.select(
        "event_id",
        "user_id",
        F.timestamp_millis("ts").alias("ts"),
        "page",
        "referrer",
        "country",
        "device",
    )
    assert parsed.exceptAll(src).count() == 0
    assert src.exceptAll(parsed).count() == 0


def test_parse_drops_malformed(spark):
    raw = spark.createDataFrame(
        [
            ('{"event_id":"e1","user_id":"u1","ts":1704067200000,"page":"/",'
             '"referrer":"/","country":"US","device":"mobile"}',),
            ("not json at all",),
            ('{"event_id":"e2","user_id":"u2"}',),  # missing ts -> dropped
            ('{"event_id":"e3","user_id":"u3","ts":1704067201000,"page":"/x",'
             '"referrer":"/","country":"DE","device":"desktop"}',),
        ],
        "value string",
    )
    parsed = parse_clicks(raw).collect()
    assert sorted(r.event_id for r in parsed) == ["e1", "e3"]
    assert all(r.ts is not None for r in parsed)


def test_stream_and_batch_parse_agree_on_malformed_wire(spark, tmp_path):
    """One wire file of edge-case lines parses to the same rows through
    the file stream and through a batch text read. Only the valid event
    and the wrong-case key (JSON field names are case-sensitive, so the
    user is null) survive."""
    valid = (
        '{"event_id":"ok","user_id":"u1","ts":60000,"page":"/",'
        '"referrer":"/","country":"US","device":"mobile"}'
    )
    lines = [
        valid,
        '[{"event_id":"a1","ts":61000},{"event_id":"a2","ts":62000}]',
        '{"event_id":"str-ts","user_id":"u2","ts":"63000"}',
        '{"event_id":"frac-ts","user_id":"u3","ts":64000.5}',
        "",
        "null",
        '{"event_id":"trunc","user_id":"u4","ts":65',
        '{"event_id":"upper","USER_ID":"u5","ts":66000}',
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "part-0.txt").write_text("\n".join(lines) + "\n")

    streamed = _run_to_memory(
        parse_clicks(read_json_file_stream(spark, str(in_dir))),
        spark,
        "malformed_parity",
    )
    batch = parse_clicks(spark.read.text(str(in_dir)))
    assert streamed.schema.simpleString() == batch.schema.simpleString()
    by_id = sorted(
        ((r.event_id, r.user_id) for r in streamed.collect()), key=str
    )
    assert by_id == [("ok", "u1"), ("upper", None)]
    assert sorted(streamed.collect()) == sorted(batch.collect())


def test_parse_with_dlq_routes_bad_records(spark):
    from realtime_event_streaming_spark.streaming.ingest import (
        parse_clicks_with_dlq,
    )

    raw = spark.createDataFrame(
        [
            ('{"event_id":"e1","user_id":"u1","ts":1704067200000,"page":"/",'
             '"referrer":"/","country":"US","device":"mobile"}',),
            ("garbage",),
            ('{"event_id":"e2","user_id":"u2"}',),
        ],
        "value string",
    )
    ok, dlq = parse_clicks_with_dlq(raw)
    assert [r.event_id for r in ok.collect()] == ["e1"]
    bad = {r.reason: r.raw for r in dlq.collect()}
    assert bad["malformed-json"] == "garbage"
    assert bad["missing-ts"].startswith('{"event_id":"e2"')


def test_dlq_does_not_mutate_shared_schema(spark):
    # StructType.add mutates in place; repeated DLQ construction must
    # never grow the shared wire schema.
    from realtime_event_streaming_spark.schemas import CLICK_WIRE_SCHEMA
    from realtime_event_streaming_spark.streaming.ingest import (
        parse_clicks_with_dlq,
    )

    raw = spark.createDataFrame([("garbage",)], "value string")
    before = len(CLICK_WIRE_SCHEMA.fields)
    parse_clicks_with_dlq(raw)
    parse_clicks_with_dlq(raw)
    assert len(CLICK_WIRE_SCHEMA.fields) == before == 7
    ok, dlq = parse_clicks_with_dlq(raw)
    assert dlq.count() == 1 and ok.count() == 0


def test_clickgen_deterministic_and_weighted(spark):
    a = generate_clicks(spark, n_events=5000, n_users=200).orderBy("_seq").collect()
    b = generate_clicks(spark, n_events=5000, n_users=200).orderBy("_seq").collect()
    assert a == b, "generator must be deterministic"
    from collections import Counter

    pages = Counter(r.page for r in a)
    assert abs(pages["/"] / 5000 - 0.25) < 0.03
    assert abs(pages["/search"] / 5000 - 0.15) < 0.03
    # referrer chain: a non-'/' referrer must equal SOME page value
    pages_set = {p for p, _ in Counter(r.page for r in a).items()}
    assert {r.referrer for r in a} <= pages_set | {"/"}


def test_committed_replay_fixture_matches_generator(spark, tmp_path):
    """The committed wire fixture (the replay oracle's input) is
    exactly what the seeded generator emits — regenerate it and compare
    bytes, so fixture and generator can never drift apart."""
    from realtime_event_streaming_spark.plans.streaming_replay import (
        FIXTURE_DIR,
    )
    from realtime_event_streaming_spark.sources.clickgen import (
        generate_clicks,
        write_stream_fixture,
    )

    out = str(tmp_path / "regen")
    clicks = generate_clicks(spark, n_events=2000, n_users=100, rate_per_sec=5)
    write_stream_fixture(clicks, out, n_files=4)
    import os

    regen = sorted(
        p for p in os.listdir(out)
        if p.startswith("part-") and not p.endswith(".crc")
    )
    committed = sorted(p.name for p in FIXTURE_DIR.glob("part-*.txt"))
    assert len(committed) == 4
    # Compare the CONCATENATION in part order (= arrival order): the
    # event stream is what the oracle and the replay consume; the
    # per-file SPLIT may shift with session shuffle settings earlier
    # tests leave behind (repartitionByRange samples boundaries), and
    # the finalized-window answer is split-invariant.
    regen_bytes = b"".join(
        open(os.path.join(out, p), "rb").read() for p in regen
    )
    committed_bytes = b"".join(
        (FIXTURE_DIR / p).read_bytes() for p in committed
    )
    assert regen_bytes == committed_bytes


def test_stream_stream_join_carries_state_across_batches(spark):
    """The attribution join must match pairs whose visit and checkout
    arrive in DIFFERENT micro-batches (one fixture file each) — that
    is the join-state path; a per-batch join would silently drop
    them. Verify at least one cross-file pair exists in the fixture
    and that the streamed result contains every one of them."""
    import json

    from realtime_event_streaming_spark.plans.streaming_replay import (
        ATTR_WINDOW_S,
        FIXTURE_DIR,
        stream_stream_attribution,
    )

    events = []  # (file_idx, ts_ms, page, user)
    for fi, f in enumerate(sorted(FIXTURE_DIR.glob("part-*.txt"))):
        for line in open(f):
            d = json.loads(line)
            events.append((fi, d["ts"], d["page"], d["user_id"]))
    cross = set()
    visits = [e for e in events if e[2] == "/"]
    for af, ats, _, au in [e for e in events if e[2] == "/checkout"]:
        for vf, vts, _, vu in visits:
            if (
                vu == au
                and vts < ats <= vts + ATTR_WINDOW_S * 1000
                and vf != af
            ):
                cross.add((au, vts, ats))
    assert cross, "fixture has no cross-file pair; test is vacuous"
    out = stream_stream_attribution(spark, "unused").collect()
    got = {(r.user_id, r.visit_ts, r.checkout_ts) for r in out}

    def fmt(ms):
        from datetime import datetime, timezone

        t = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
        return t.strftime("%Y-%m-%d %H:%M:%S.") + f"{ms % 1000:03d}"

    missing = [
        (u, v, a) for (u, v, a) in cross if (u, fmt(v), fmt(a)) not in got
    ]
    assert not missing, f"cross-batch pairs dropped: {missing[:3]}"


def test_stream_dedup_removes_exactly_the_redelivered_copies(spark):
    """The dropDuplicatesWithinWatermark replay must emit exactly the
    single-delivery counts: re-running the same doubled-source
    pipeline WITHOUT the dedup stage yields exactly 2x every row —
    proving the duplicates were really present and the dedup removed
    precisely them (not more, not less)."""
    from realtime_event_streaming_spark.plans.staging import stage_files
    from realtime_event_streaming_spark.plans.streaming_replay import (
        FIXTURE_DIR,
    )
    from realtime_event_streaming_spark.registry import load_all
    from realtime_event_streaming_spark.session import fixture_scale_shuffle

    deduped = {
        (r.window_start, r.page): r.cnt
        for r in load_all()["stream_dedup_replay"]
        .spark_fn(spark, "unused")
        .collect()
    }
    assert deduped, "replay emitted no finalized windows"

    in_dir = stage_files(FIXTURE_DIR)
    name = "replay_stream_dedup_off"
    if any(t.name == name for t in spark.catalog.listTables()):
        spark.catalog.dropTempView(name)
    with fixture_scale_shuffle(spark):
        first = parse_clicks(
            read_json_file_stream(spark, in_dir), watermark=EXACT_WATERMARK
        )
        # same source pacing as the query under test: the second
        # source drains in its first trigger, so no copy can be
        # late-dropped and the no-dedup census is exactly 2x
        second = parse_clicks(
            read_json_file_stream(spark, in_dir, max_files_per_trigger=None),
            watermark=EXACT_WATERMARK,
        )
        q = (
            first.union(second)
            .groupBy(F.window("ts", "1 minute"), "page")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("window.start").alias("ws"), "page", "cnt")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    raw = {
        (
            r.ws.strftime("%Y-%m-%d %H:%M:%S"),
            r.page,
        ): r.cnt
        for r in spark.table(name).collect()
    }
    assert set(raw) == set(deduped)
    for k, cnt in deduped.items():
        assert raw[k] == 2 * cnt, f"window {k}: raw {raw[k]} != 2x {cnt}"
