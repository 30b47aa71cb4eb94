"""The fork-free ``file:`` filesystem (``localfs``) against stock Hadoop.

The session under test was built by ``get_spark``, so ``file:`` resolves
to the java.nio classes; a ``RawLocalFileSystem`` constructed directly in
the same JVM is the stock reference. The classes must keep every
behaviour Spark relies on (permissions, checksums, no-overwrite rename,
symlink status) and drop only the per-file ``chmod``/``readlink`` forks,
which the JFR test counts during a real pipeline drain.
"""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from realtime_event_streaming_spark import localfs
from realtime_event_streaming_spark.sources.clickgen import (
    generate_clicks,
    write_stream_fixture,
)
from realtime_event_streaming_spark.streaming.deploy import start_pipeline

needs_javac = pytest.mark.skipif(
    localfs._javac() is None, reason="no javac: the stock filesystem is in use"
)


def _hadoop(spark):
    jvm = spark.sparkContext._jvm
    return jvm, jvm.org.apache.hadoop.fs, spark.sparkContext._jsc.hadoopConfiguration()


def _local_fs(spark):
    jvm, fs, conf = _hadoop(spark)
    return fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)


def _stock_raw_fs(spark):
    jvm, fs, conf = _hadoop(spark)
    raw = fs.RawLocalFileSystem()
    raw.initialize(jvm.java.net.URI("file:///"), conf)
    return raw


def _checkpoint_manager(spark, directory):
    jvm, fs, conf = _hadoop(spark)
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(fs.Path(str(directory)), conf)


def _java_error(exc: Py4JJavaError) -> str:
    return exc.java_exception.getClass().getName() + ": " + str(
        exc.java_exception.getMessage()
    )


@needs_javac
def test_file_scheme_resolves_to_the_nio_classes(spark):
    _, fs, conf = _hadoop(spark)
    local = _local_fs(spark)
    assert local.getClass().getName() == localfs.FILE_SYSTEM
    assert local.getRaw().getClass().getName() == "rtes.fs.NioRawLocalFileSystem"
    ctx = fs.FileContext.getLocalFSFileContext(conf)
    assert ctx.getDefaultFileSystem().getClass().getName() == (
        localfs.ABSTRACT_FILE_SYSTEM
    )


@pytest.mark.parametrize(
    "mode", [0o640, 0o755, 0o700, 0o1777], ids=["640", "755", "700", "1777"]
)
def test_modes_match_stock_raw_filesystem(spark, tmp_path, mode):
    """Default create/mkdirs modes and explicit setPermission (nine rwx
    bits through java.nio, the sticky bit through the stock path) leave
    the same ``st_mode`` as the stock filesystem does on a sibling."""
    _, fs, _ = _hadoop(spark)
    ours, stock = _local_fs(spark), _stock_raw_fs(spark)
    modes = {}
    for name, impl in (("ours", ours), ("stock", stock)):
        f, d = tmp_path / f"{name}.bin", tmp_path / f"{name}_dir" / "nested"
        out = impl.create(fs.Path(str(f)))
        out.write(7)
        out.close()
        assert impl.mkdirs(fs.Path(str(d)))
        modes[name] = [os.stat(f).st_mode, os.stat(d).st_mode,
                       os.stat(d.parent).st_mode]
        impl.setPermission(fs.Path(str(f)), fs.permission.FsPermission(mode))
        impl.setPermission(fs.Path(str(d)), fs.permission.FsPermission(mode))
        modes[name] += [os.stat(f).st_mode, os.stat(d).st_mode]
    assert modes["ours"] == modes["stock"]
    assert stat.S_IMODE(modes["ours"][3]) == mode
    # files keep their .crc sidecar through the checksummed filesystem
    assert (tmp_path / ".ours.bin.crc").exists()


def test_create_atomic_without_overwrite_still_refuses_existing(spark, tmp_path):
    _, fs, _ = _hadoop(spark)
    path = fs.Path(str(tmp_path / "0"))
    mgr = _checkpoint_manager(spark, tmp_path)
    first = mgr.createAtomic(path, False)
    first.write(1)
    first.close()
    second = mgr.createAtomic(path, False)
    second.write(2)
    with pytest.raises(Py4JJavaError) as err:
        second.close()
    assert "FileAlreadyExistsException" in _java_error(err.value)
    assert (tmp_path / "0").read_bytes() == b"\x01"


def test_link_status_reports_symlinks_with_their_target(spark, tmp_path):
    _, fs, conf = _hadoop(spark)
    target = tmp_path / "target.txt"
    target.write_text("x")
    link = tmp_path / "link.txt"
    os.symlink(target, link)
    ctx = fs.FileContext.getLocalFSFileContext(conf)
    for impl in (_local_fs(spark), ctx):
        st = impl.getFileLinkStatus(fs.Path(str(link)))
        assert st.isSymlink()
        assert st.getSymlink().toUri().getPath() == str(target)
        plain = impl.getFileLinkStatus(fs.Path(str(target)))
        assert not plain.isSymlink() and plain.getLen() == 1
        with pytest.raises(Py4JJavaError) as err:
            impl.getFileLinkStatus(fs.Path(str(tmp_path / "missing")))
        assert "FileNotFoundException" in _java_error(err.value)


def test_flipped_byte_fails_the_checksum(spark, tmp_path):
    """Files written through either Hadoop API carry a ``.crc`` that the
    checksummed FileSystem verifies on read."""
    _, fs, _ = _hadoop(spark)
    mgr = _checkpoint_manager(spark, tmp_path)
    written = {"fs": tmp_path / "fs.bin", "ctx": tmp_path / "ctx.bin"}
    out = _local_fs(spark).create(fs.Path(str(written["fs"])))
    out.write(65)
    out.close()
    out = mgr.createAtomic(fs.Path(str(written["ctx"])), False)
    out.write(65)
    out.close()
    for kind, path in written.items():
        assert (tmp_path / f".{path.name}.crc").exists()
        path.write_bytes(b"B")
        with pytest.raises(Py4JJavaError) as err:
            _local_fs(spark).open(fs.Path(str(path))).read()
        assert "ChecksumException" in _java_error(err.value), kind


@needs_javac
@pytest.mark.skipif(
    shutil.which("jcmd") is None or shutil.which("jfr") is None,
    reason="needs the JDK's jcmd and jfr",
)
def test_pipeline_drain_forks_no_file_commands(spark, tmp_path):
    """A JFR recording around a ``start_pipeline`` drain sees no process
    started for file-system work (the stock local filesystem forks
    ``chmod`` per created file and ``readlink`` per rename here)."""
    clicks = generate_clicks(spark, n_events=600, n_users=50, rate_per_sec=5)
    write_stream_fixture(clicks, str(tmp_path / "wire"), n_files=3)
    pid = str(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    recording = str(tmp_path / "drain.jfr")

    def jcmd(*args):
        subprocess.run(["jcmd", pid, *args], check=True, capture_output=True)

    jcmd("JFR.start", "name=drain-forks")
    try:
        pipe = start_pipeline(spark, str(tmp_path / "wire"), str(tmp_path / "out"))
        pipe.await_all()
    finally:
        jcmd("JFR.stop", "name=drain-forks", f"filename={recording}")
    assert spark.read.parquet(str(tmp_path / "out" / "clicks_raw")).count() == 600

    printed = subprocess.run(
        ["jfr", "print", "--json", "--events", "jdk.ProcessStart", recording],
        check=True, capture_output=True, text=True,
    ).stdout
    commands = [
        e["values"]["command"]
        for e in json.loads(printed)["recording"]["events"]
    ]
    forked = [
        c for c in commands
        if os.path.basename(c.split()[0]) in {"chmod", "readlink", "ls", "stat"}
    ]
    assert not forked, f"{len(forked)} file commands forked, e.g. {forked[:3]}"


def test_no_javac_means_no_confs(monkeypatch, caplog):
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setattr(localfs.shutil, "which", lambda name: None)
    with caplog.at_level("WARNING", logger=localfs.__name__):
        assert localfs.local_fs_confs() == {}
    assert len(caplog.records) == 1


@needs_javac
def test_jar_is_compiled_once_then_reused(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    jar = localfs.local_fs_jar()
    assert os.path.dirname(jar) == str(tmp_path / "rtes-spark")
    with zipfile.ZipFile(jar) as zf:
        assert "rtes/fs/NioLocalFs.class" in zf.namelist()

    def recompile(*args):
        raise AssertionError("the cached jar was rebuilt")

    monkeypatch.setattr(localfs, "_compile", recompile)
    assert localfs.local_fs_jar() == jar
    confs = localfs.local_fs_confs()
    assert confs["spark.driver.extraClassPath"].split(os.pathsep)[-1] == jar
    assert confs["spark.hadoop.fs.file.impl"] == localfs.FILE_SYSTEM
    assert os.listdir(tmp_path / "rtes-spark") == [os.path.basename(jar)]


def _aged(path, seconds):
    t = path.stat().st_mtime - seconds
    os.utime(path, (t, t))
    return path


def test_install_replaces_earlier_keys_of_its_kind_only(tmp_path):
    old = tmp_path / "localfs-0000000000000000.jar"
    old.write_bytes(b"old")
    other = tmp_path / "driver-0000000000000000.jsa"
    other.write_bytes(b"other kind")
    (tmp_path / "empty-conf").mkdir()
    built = tmp_path / "tmp" / "part.jar"
    built.parent.mkdir()
    built.write_bytes(b"new")
    jar = tmp_path / "localfs-1111111111111111.jar"

    assert localfs.install(str(jar), str(built))
    assert jar.read_bytes() == b"new" and not built.exists()
    assert sorted(os.listdir(tmp_path)) == sorted(
        [jar.name, other.name, "empty-conf", "tmp"]
    )


def test_install_publishes_only_whole_partials_and_drops_stale_ones(tmp_path):
    def whole(path):
        with open(path, "rb") as fh:
            return fh.read(4) == b"WHOL"

    def part(name, data):
        path = tmp_path / f"{name}{localfs.PART_SUFFIX}"
        path.write_bytes(data)
        return path

    dest = tmp_path / "driver-aaaa.jsa"
    writing = part("driver-aaaa.1", b"\0" * 8)
    _aged(part("driver-aaaa.2", b"\0" * 8), localfs.STALE_S + 60)
    part("driver-bbbb.3", b"WHOL" + b"\0" * 4)
    (tmp_path / "driver-bbbb.jsa").write_bytes(b"WHOLold")

    # nothing whole of this key yet: a dump still being written stays,
    # a dead one and another key's files go
    assert not localfs.install(str(dest), whole=whole)
    assert sorted(os.listdir(tmp_path)) == [writing.name]

    # one whole dump of this key is published, the surplus one dropped
    part("driver-aaaa.4", b"WHOL" + b"\0" * 4)
    part("driver-aaaa.5", b"WHOL" + b"\1" * 4)
    assert localfs.install(str(dest), whole=whole)
    assert dest.read_bytes()[:4] == b"WHOL"
    assert sorted(os.listdir(tmp_path)) == sorted([dest.name, writing.name])

    _aged(writing, localfs.STALE_S + 60)
    assert localfs.install(str(dest), whole=whole)
    assert os.listdir(tmp_path) == [dest.name]
