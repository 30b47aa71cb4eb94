"""The driver JVM's class-data archive (``jvm_archive``) over its life.

Each test launches ``get_spark`` in child processes that share one
fresh ``XDG_CACHE_HOME`` and a conf dir the test controls. Whether a JVM
mapped the archive is read from ``jcmd <pid> VM.info``, not from its
flags: the launcher adds ``-XX:+IgnoreUnrecognizedVMOptions``, so a
misspelt flag would pass silently. A child that does not need its JVM's
exit-time dump kills the JVM instead, which skips the dump.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from realtime_event_streaming_spark import jvm_archive, localfs

ROOT = Path(__file__).resolve().parent.parent

pytestmark = pytest.mark.skipif(
    jvm_archive._java() is None or shutil.which("jcmd") is None,
    reason="needs the JDK's java and jcmd",
)

CHILD = r"""
import json, os, re, signal, subprocess, sys
from realtime_event_streaming_spark.session import get_spark

spark = get_spark("archive-probe")
spark.sparkContext.setLogLevel("ERROR")
jvm = spark.sparkContext._jvm
pid = jvm.java.lang.ProcessHandle.current().pid()
info = subprocess.run(
    ["jcmd", str(pid), "VM.info"], capture_output=True, text=True, check=True,
).stdout
m = re.search(r"CDS archive\(s\) mapped at: .*size (\d+)", info)
print(json.dumps({
    "mapped": int(m.group(1)) if m else 0,
    "options": [
        a for a in jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getInputArguments()
        if "Archive" in a or "Xlog" in a or "ErrorFile" in a
    ],
    "jvm_conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "conf_dir_after": os.environ.get("SPARK_CONF_DIR"),
    "probe_conf": spark.conf.get("spark.rtes.probe", None),
    "count": spark.range(10).count(),
}))
sys.stdout.flush()
if sys.argv[1:] == ["kill"]:
    os.kill(pid, signal.SIGKILL)
"""


@pytest.fixture
def env(tmp_path):
    """A child environment with an empty cache and a conf dir that holds
    only a template, as a fresh Spark install does."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    e = dict(os.environ)
    for name in (*jvm_archive._CLASS_PATH_ENV, *jvm_archive._JVM_OPTIONS_ENV):
        e.pop(name, None)
    e.update(
        XDG_CACHE_HOME=str(tmp_path / "xdg"),
        SPARK_CONF_DIR=str(conf),
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), e.get("PYTHONPATH")])),
    )
    return e


def _cache(env) -> Path:
    return Path(env["XDG_CACHE_HOME"]) / "rtes-spark"


def _driver_files(env) -> list[str]:
    return sorted(p.name for p in _cache(env).glob("driver-*"))


def _probe(env, cwd, kill=False) -> dict:
    """Launch a session in a child process; returns once the child and
    its JVM (and so any exit-time dump) are gone."""
    out = subprocess.run(
        [sys.executable, "-c", CHILD, *(["kill"] if kill else [])],
        env=env, cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.splitlines()[-1])
    assert res["count"] == 10
    return res


def _uses(res, flag: str) -> bool:
    return any(o.startswith(f"-XX:{flag}=") for o in res["options"])


def test_first_launch_dumps_and_the_next_maps_the_archive(env, tmp_path):
    first = _probe(env, tmp_path)
    assert _uses(first, "ArchiveClassesAtExit") and not _uses(first, "SharedArchiveFile")
    assert "-Xlog:cds*=off" in first["options"]
    assert _uses(first, "ErrorFile")
    (part,) = _driver_files(env)
    assert part.endswith(localfs.PART_SUFFIX)
    assert jvm_archive.is_whole(str(_cache(env) / part))

    second = _probe(env, tmp_path)
    assert _uses(second, "SharedArchiveFile") and _uses(second, "ErrorFile")
    (archive,) = _driver_files(env)
    assert archive == part.split(".", 1)[0] + ".jsa"
    # the first JVM mapped only the JDK's base archive
    assert second["mapped"] > first["mapped"] + (32 << 20), (first, second)
    assert second["jvm_conf_dir"] == str(_cache(env) / "empty-conf")
    assert second["conf_dir_after"] == env["SPARK_CONF_DIR"]


def test_conf_dir_with_a_non_template_file_launches_as_without_archive(
    env, tmp_path
):
    templates_only = _probe(env, tmp_path, kill=True)
    assert _uses(templates_only, "ArchiveClassesAtExit")
    assert templates_only["conf_dir_after"] == env["SPARK_CONF_DIR"]

    conf = Path(env["SPARK_CONF_DIR"])
    (conf / "spark-defaults.conf").write_text("spark.rtes.probe from-conf-dir\n")
    stock = _probe(env, tmp_path, kill=True)
    assert stock["options"] == []
    assert stock["jvm_conf_dir"] == str(conf)
    assert stock["probe_conf"] == "from-conf-dir"
    assert _driver_files(env) == []


def test_truncated_archive_falls_back_and_is_deleted(env, tmp_path):
    _probe(env, tmp_path)
    (part,) = _cache(env).glob("driver-*")
    size = part.stat().st_size
    part.chmod(0o644)
    with open(part, "r+b") as fh:
        fh.truncate(size // 2)
    assert jvm_archive.is_whole(str(part))

    # the next launch publishes it, its JVM dies mapping it, and the
    # session comes up from a relaunch without the archive
    res = _probe(env, tmp_path, kill=True)
    assert res["options"] == []
    assert res["jvm_conf_dir"] == env["SPARK_CONF_DIR"]
    assert _driver_files(env) == []
    # the crash report goes to the cache, not the caller's directory
    assert list(tmp_path.glob("hs_err_pid*.log")) == []
    assert len(list(_cache(env).glob("hs_err_pid*.log"))) == 1


def test_partial_dump_without_magic_is_never_published(env, tmp_path, monkeypatch):
    for name in ("XDG_CACHE_HOME", "SPARK_CONF_DIR"):
        monkeypatch.setenv(name, env[name])
    class_path = localfs.local_fs_confs().get(localfs.CLASS_PATH_KEY, "")
    key = jvm_archive._key(jvm_archive._java(), class_path)
    partial = _cache(env) / f"driver-{key}.elsewhere{localfs.PART_SUFFIX}"
    partial.write_bytes(bytes(1 << 20))  # a dump whose header is not written yet

    res = _probe(env, tmp_path, kill=True)
    assert _uses(res, "ArchiveClassesAtExit") and not _uses(res, "SharedArchiveFile")
    assert _driver_files(env) == [partial.name]


def test_cli_prints_only_json_rows_while_dumping_and_mapping(env, tmp_path, sf_smoke):
    if not os.path.isdir(sf_smoke):
        pytest.skip("no sf0.001 fixture")
    cmd = [sys.executable, "-m", "realtime_event_streaming_spark", "run",
           "latency_stats", "--sf-dir", sf_smoke]
    for _ in ("dump", "map"):
        out = subprocess.run(
            cmd, env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        lines = out.stdout.splitlines()
        assert lines, out.stderr[-3000:]
        for line in lines:
            assert isinstance(json.loads(line), dict), line
    # the first run dumped the archive and the second published it
    assert [re.sub(r"[0-9a-f]{16}", "K", n) for n in _driver_files(env)] == [
        "driver-K.jsa"
    ]
