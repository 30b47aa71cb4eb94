"""The directory helpers registered queries build and stage their
inputs with (`plans/staging.py`): build once per process, and a
content-keyed, atomically published stage. None of these needs a JVM."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

from realtime_event_streaming_spark.plans import staging

REPO = Path(__file__).resolve().parents[1]


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    """Point ``tempfile`` (and so every helper) at a private dir."""
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def _wire(tmp_path, texts) -> Path:
    src = tmp_path / "wire"
    src.mkdir()
    for i, text in enumerate(texts):
        (src / f"part-{i:05d}.txt").write_text(text)
    return src


def test_failed_build_leaves_no_directory(tmp_root):
    made = []

    def builder(spark, source, path):
        made.append(path)
        Path(path, "partial.parquet").write_text("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        staging.build_once(None, "src", "failing", builder)
    assert made and not os.path.exists(made[0])
    assert ("failing", "src") not in staging._CACHE
    assert not list(tmp_root.iterdir())


def test_built_directory_is_removed_at_process_exit(tmp_path):
    child = """
import sys, tempfile
tempfile.tempdir = sys.argv[1]
from realtime_event_streaming_spark.plans.staging import build_once
calls = []
def builder(spark, source, path):
    calls.append(path)
    open(path + "/part-0.parquet", "w").write("x")
path = build_once(None, "src", "kept", builder)
assert build_once(None, "src", "kept", builder) == path
assert len(calls) == 1
print(path)
"""
    out = subprocess.run(
        [sys.executable, "-c", child, str(tmp_path)],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    path = out.stdout.strip()
    assert Path(path).parent == tmp_path
    assert Path(path).name.startswith("rtes_kept_")
    assert not os.path.exists(path)


def test_stage_is_shared_per_content_and_mtime_ordered(tmp_root, tmp_path):
    texts = ["a\n", "b\n", "c\n", "d\n"]
    src = _wire(tmp_path, texts)
    first = staging.stage_files(src)
    assert staging.stage_files(src) == first
    files = sorted(Path(first).iterdir())
    assert [f.name for f in files] == [f"part-{i:05d}.txt" for i in range(4)]
    assert [f.read_text() for f in files] == texts
    mtimes = [f.stat().st_mtime for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    assert [p.name for p in tmp_root.iterdir()] == [Path(first).name]


def test_stage_of_changed_bytes_is_a_new_directory(tmp_root, tmp_path):
    src = _wire(tmp_path, ["a\n", "b\n"])
    first = staging.stage_files(src)
    (src / "part-00001.txt").write_text("b2\n")
    second = staging.stage_files(src)
    assert second != first
    assert Path(second, "part-00001.txt").read_text() == "b2\n"
    assert Path(first, "part-00001.txt").read_text() == "b\n"


def test_leftover_unpublished_stage_is_ignored(tmp_root, tmp_path):
    src = _wire(tmp_path, ["a\n", "b\n"])
    # what a process killed while filling its private copy leaves
    left = Path(tempfile.mkdtemp(prefix="rtes_wire_stage_"))
    (left / "part-00000.txt").write_text("half")
    staged = Path(staging.stage_files(src))
    assert staged != left
    assert [f.read_text() for f in sorted(staged.iterdir())] == ["a\n", "b\n"]


def test_process_losing_the_publish_race_discards_its_copy(tmp_root, tmp_path):
    inputs = sorted(_wire(tmp_path, ["a\n"]).iterdir())

    def winner(dst: Path) -> None:
        (dst / "who").write_text("winner")

    def loser(dst: Path) -> None:
        # another process publishes the same stage while this one fills
        staging.stage("race", inputs, winner)
        (dst / "who").write_text("loser")

    root = Path(staging.stage("race", inputs, loser))
    assert (root / "who").read_text() == "winner"
    assert [p.name for p in tmp_root.iterdir()] == [root.name]
