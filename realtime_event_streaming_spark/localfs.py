"""The fork-free ``file:`` filesystem that ``session.get_spark`` installs.

Without libhadoop (the pip PySpark install has none), Hadoop's local
filesystem forks ``chmod`` on every file or directory it creates and
``readlink`` on every FileContext rename. A streaming micro-batch writes
dozens of small local files (offset WAL, commit log, source and sink
logs, state deltas and their checksum files, parquet parts), so those
forks, about 4 ms each, sat on every batch's critical path. The classes
in ``jvm/`` make the same system calls through java.nio; everything
else, including the ``.crc`` sidecars and FileContext's no-overwrite
rename, is Hadoop's own code.

``local_fs_confs`` compiles the classes against the Hadoop jar PySpark
ships (once, about 2 s) and caches the jar under
``${XDG_CACHE_HOME:-~/.cache}/rtes-spark/``, keyed by a hash of the
sources and the Hadoop jar's name. ``install`` puts files into that
cache and removes the files of earlier keys; the driver's class-data
archive (``jvm_archive``) is cached the same way.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile
import time
import zipfile
from typing import Callable

import pyspark

log = logging.getLogger(__name__)

JAVA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
FILE_SYSTEM = "rtes.fs.NioLocalFileSystem"
ABSTRACT_FILE_SYSTEM = "rtes.fs.NioLocalFs"
CLASS_PATH_KEY = "spark.driver.extraClassPath"
#: Suffix of a cache file that is still being written, or whose writer
#: died: ``<kind>-<key>.<unique>.part``.
PART_SUFFIX = ".part"
#: A partial file that is not whole and has not been written for this
#: long is left over from a writer that died.
STALE_S = 600.0


def spark_home() -> str:
    return os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)


def _javac() -> str | None:
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
        return os.path.join(home, "bin", "javac")
    return shutil.which("javac")


def conf_dir() -> str:
    """The directory the Spark launcher reads its configuration from."""
    return os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home(), "conf")


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "rtes-spark")


def install(
    dest: str,
    part: str | None = None,
    whole: Callable[[str], bool] = lambda path: True,
) -> bool:
    """Make ``dest`` the cache's one file of its kind; return whether
    ``dest`` exists afterwards.

    Cache files are named ``<kind>-<key><ext>``. ``part``, when given,
    is moved to ``dest`` first. Then, for every other file of the kind
    in ``dest``'s directory:

    - a partial file of ``dest``'s key that ``whole`` accepts becomes
      ``dest`` if there is none yet;
    - a partial file that ``whole`` rejects stays while it is fresh,
      since its writer may still be running;
    - every other file goes: earlier keys' files, surplus whole partial
      files and stale partial files.

    Files move with ``os.replace``, so a reader sees either no ``dest``
    or a whole one. Another process may move or remove a file first;
    that race is harmless and ignored.
    """
    cache, name = os.path.split(dest)
    kind = name.split("-", 1)[0] + "-"
    stem = name.split(".", 1)[0] + "."
    if part is not None:
        os.replace(part, dest)
    now = time.time()
    for entry in os.scandir(cache):
        if not entry.name.startswith(kind) or entry.path == dest:
            continue
        try:
            if entry.name.endswith(PART_SUFFIX):
                if whole(entry.path):
                    if entry.name.startswith(stem) and not os.path.exists(dest):
                        os.replace(entry.path, dest)
                        continue
                elif now - entry.stat().st_mtime < STALE_S:
                    continue
            os.remove(entry.path)
        except OSError:
            pass
    return os.path.exists(dest)


def _compile(javac: str, hadoop_jar: str, sources: list[str], jar: str) -> None:
    """Compile ``sources`` into ``jar``, written beside it and moved
    into place by ``install``."""
    cache = os.path.dirname(jar)
    os.makedirs(cache, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        classes = os.path.join(tmp, "classes")
        subprocess.run(
            [javac, "--release", "17", "-proc:none", "-nowarn",
             "-cp", hadoop_jar, "-d", classes, *sources],
            check=True, capture_output=True, text=True,
        )
        part = os.path.join(tmp, "part.jar")
        with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _, files in os.walk(classes):
                for name in sorted(files):
                    path = os.path.join(root, name)
                    zf.write(path, os.path.relpath(path, classes))
        install(jar, part)


def local_fs_jar() -> str | None:
    """Path of the compiled filesystem jar, building it on first use;
    None when there is no ``javac`` or no Hadoop jar to compile against."""
    javac = _javac()
    hadoop = glob.glob(
        os.path.join(spark_home(), "jars", "hadoop-client-api-*.jar")
    )
    if javac is None or not hadoop:
        return None
    hadoop_jar = max(hadoop)
    sources = sorted(glob.glob(os.path.join(JAVA_DIR, "*.java")))
    key = hashlib.sha256(os.path.basename(hadoop_jar).encode())
    for src in sources:
        with open(src, "rb") as fh:
            key.update(fh.read())
    jar = os.path.join(cache_dir(), f"localfs-{key.hexdigest()[:16]}.jar")
    if not os.path.exists(jar):
        _compile(javac, hadoop_jar, sources, jar)
    return jar


def _defaults_class_path() -> str | None:
    """``spark.driver.extraClassPath`` from spark-defaults.conf, which a
    ``--conf`` on the launch command would otherwise replace."""
    try:
        with open(os.path.join(conf_dir(), "spark-defaults.conf")) as fh:
            lines = fh.read().splitlines()
    except OSError:
        return None
    for line in lines:
        m = re.match(r"([^\s=:]+)[\s=:]+(.+)", line.strip())
        if m and m.group(1) == CLASS_PATH_KEY:
            return m.group(2).strip()
    return None


def local_fs_confs() -> dict[str, str]:
    """Static launch confs that put the filesystem on the driver's class
    path and make it serve ``file:`` for both Hadoop APIs; empty (and one
    warning) when it cannot be built, which leaves Hadoop's stock local
    filesystem in place."""
    try:
        jar = local_fs_jar()
    except (OSError, subprocess.CalledProcessError) as exc:
        detail = getattr(exc, "stderr", None) or exc
        log.warning("local filesystem not built, using Hadoop's: %s", detail)
        return {}
    if jar is None:
        log.warning("no javac found: using Hadoop's forking local filesystem")
        return {}
    class_path = os.pathsep.join(filter(None, [_defaults_class_path(), jar]))
    return {
        CLASS_PATH_KEY: class_path,
        "spark.hadoop.fs.file.impl": FILE_SYSTEM,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": ABSTRACT_FILE_SYSTEM,
    }
