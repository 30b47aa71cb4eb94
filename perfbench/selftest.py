"""Self-tests of the benchmark at tiny size.

    python3 perfbench/selftest.py          # all checks (runs Spark, ~5 min)
    python3 perfbench/selftest.py --quick  # input and log checks only

The functions are plain ``test_*`` functions, so
``python3 -m pytest perfbench/selftest.py`` runs them as well.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import streams  # noqa: E402
from run import END_TO_END, WORKLOADS, per_layer_units  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def test_seed_fixes_events_and_deck():
    def events(seed):
        return inputs.ClickSource(seed, inputs.EPOCH_2024_MS, 20).take(2000)

    assert events(7) == events(7)
    assert events(7) != events(8)
    names = [f"q{i}" for i in range(10)]
    assert inputs.deck(names, 7, 3) == inputs.deck(names, 7, 3)
    assert inputs.deck(names, 7, 3) != inputs.deck(names, 8, 3)
    d = inputs.deck(names, 7, 3)
    assert all(d.count(n) == 3 for n in names)  # an unchanging mix


def test_seed_fixes_tables():
    with tempfile.TemporaryDirectory() as tmp:
        for run, seed in (("a", 7), ("b", 7), ("c", 8)):
            inputs.write_star_tables(seed, os.path.join(tmp, run))
        assert _digest(f"{tmp}/a") == _digest(f"{tmp}/b")
        assert _digest(f"{tmp}/a") != _digest(f"{tmp}/c")


def test_stream_shares():
    src = inputs.ClickSource(3, inputs.EPOCH_2024_MS, 20)
    lines = src.take(20_000)
    assert 0.005 < src.malformed / len(lines) < 0.02
    assert len(src.valid) + src.malformed == len(lines)
    ts = [c.ts for c in src.valid]
    late = sum(1 for a, b in zip(ts, ts[1:]) if b < a)
    assert late > 0  # some events arrive out of order


def test_checkpoint_log_maps_each_file_to_one_batch():
    """A file-source log as Spark writes it: numbered batch files, a
    .compact file repeating the earlier entries, and a temp file."""
    with tempfile.TemporaryDirectory() as ck:
        log = os.path.join(ck, "sources", "0")
        os.makedirs(log)

        def write(name, entries):
            with open(os.path.join(log, name), "w") as fh:
                fh.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))

        entries = [
            {"path": f"file:///w/f{i}.json", "timestamp": i, "batchId": i // 2}
            for i in range(8)
        ]
        for b in range(4):
            write(str(b), [e for e in entries if e["batchId"] == b])
        write("3.compact", entries)
        write(".4.tmp", [{"path": "file:///w/x.json", "batchId": 9}])
        got = streams.file_batches(ck)
        assert got == {f"f{i}.json": i // 2 for i in range(8)}
        write("4", [{"path": "file:///w/f0.json", "timestamp": 0, "batchId": 4}])
        try:
            streams.file_batches(ck)
        except ValueError:
            pass
        else:
            raise AssertionError("a file logged in two batches went unnoticed")


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_every_workload_emits_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    for workload in WORKLOADS:
        for trace, units in ((0, END_TO_END), (1, per_layer_units())):
            res = _run(workload, trace)
            assert res["correct"], (workload, trace)
            assert res["attempted"] >= 1 and res["failed"] == 0
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == units, (workload, trace)
            if not trace:
                assert all(v["value"] > 0 for v in res["metrics"].values())


def main() -> int:
    quick = "--quick" in sys.argv
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        if quick and t is test_every_workload_emits_every_metric:
            continue
        t()
        print(f"ok  {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
