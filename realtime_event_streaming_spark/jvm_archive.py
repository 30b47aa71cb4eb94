"""A class-data-sharing (CDS) archive for the driver JVM that
``session.get_spark`` launches.

Most of a local driver's start is the JVM loading and verifying the
classes a session uses (about 17k, from the ~290 jars in
``$SPARK_HOME/jars``). A dynamic CDS archive is a memory-mapped image
of those classes, already parsed and verified; a JVM that maps it
starts its session in about half the time. JDK 19+ keeps such an
archive with one flag (``-XX:+AutoCreateSharedArchive``); JDK 17 does
not know that flag, so ``launch`` runs the same lifecycle:

- **Use or dump.** The archive is keyed by the ``java`` binary and its
  version, the launch class path (the ``localfs`` jar) and the names,
  sizes and mtimes of ``$SPARK_HOME/jars``. If it is in the cache the
  JVM maps it (``-XX:SharedArchiveFile``); if not, the JVM writes its
  loaded classes to a unique partial file when it exits
  (``-XX:ArchiveClassesAtExit``, which adds seconds to that exit).
- **Only whole archives are published.** The JVM writes the archive's
  header last, so a later launch moves a partial file into place
  (``localfs.install``) only if it starts with the archive magic.
- **Eligibility.** The JVM refuses to dump with a non-empty directory on
  the class path, and the launcher puts the conf dir there. So the
  archive is used only when the conf dir holds nothing but
  ``*.template`` files (or does not exist), no environment variable
  adds class path entries, and no JVM option variable already sets
  CDS flags (``JAVA_TOOL_OPTIONS=-Xshare:off`` turns the archive off).
  The launch then points ``SPARK_CONF_DIR`` at an empty cache directory
  and restores the environment after it. Otherwise, or if the cache is
  not writable, the JVM is launched exactly as without this module.
- **Fallback.** A damaged archive can kill the JVM before the gateway
  starts (a truncated one crashes it with SIGBUS). Then the archive is
  deleted and the JVM relaunched once without the flags. The crash
  writes its ``hs_err_pid*.log`` report into the cache directory
  (``-XX:ErrorFile``), not the caller's working directory, but the
  JVM's fatal-error banner still goes to the stdout it inherits, ahead
  of whatever that one call prints. An archive that does not match the
  JVM or class path is ignored by the JVM.
- **Quiet.** CDS logging is off, so no warning line reaches the stdout
  that the CLI and the benchmark read.
"""

from __future__ import annotations

import hashlib
import logging
import os
import re
import shutil
import uuid
from contextlib import contextmanager
from typing import Callable, TypeVar

from pyspark.errors import PySparkRuntimeError

from .localfs import (
    CLASS_PATH_KEY, PART_SUFFIX, cache_dir, conf_dir, install, spark_home,
)

log = logging.getLogger(__name__)

#: First bytes of a whole dynamic archive (0xf00baba8, little-endian).
MAGIC = b"\xa8\xab\x0b\xf0"
_JAVA_OPTIONS_KEY = "spark.driver.extraJavaOptions"
_QUIET = "-Xlog:cds*=off"
#: Environment variables that put more entries on the driver class path.
_CLASS_PATH_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_CLASSPATH",
)
_JVM_OPTIONS_ENV = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")
_CDS_OPTION = re.compile(r"-Xshare|SharedSpaces|SharedArchive|ArchiveClasses")
#: The launcher splits Java options on whitespace and quotes.
_UNSPLITTABLE = re.compile(r"[\s'\"\\]")

T = TypeVar("T")


def is_whole(path: str) -> bool:
    """Whether a dump is finished: the JVM writes the magic last."""
    with open(path, "rb") as fh:
        return fh.read(len(MAGIC)) == MAGIC


def _java() -> str | None:
    """The ``java`` that ``spark-class`` runs, resolved."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.access(java, os.X_OK) else None


def _key(java: str, class_path: str) -> str:
    h = hashlib.sha256(f"{java}\0{class_path}\0".encode())
    jdk = os.path.dirname(os.path.dirname(java))
    try:
        with open(os.path.join(jdk, "release"), "rb") as fh:
            h.update(fh.read())
    except OSError:
        pass
    for path in (java, os.path.join(jdk, "lib", "server", "libjvm.so")):
        if os.path.exists(path):
            st = os.stat(path)
            h.update(f"{st.st_size}\0{st.st_mtime_ns}\0".encode())
    # a changed jar makes the JVM ignore the archive; a new key rebuilds it
    jars = os.path.join(spark_home(), "jars")
    for entry in sorted(os.scandir(jars), key=lambda e: e.name):
        st = entry.stat()
        h.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _eligible() -> bool:
    if any(os.environ.get(name) for name in _CLASS_PATH_ENV):
        return False
    if any(_CDS_OPTION.search(os.environ.get(n, "")) for n in _JVM_OPTIONS_ENV):
        return False
    try:
        names = os.listdir(conf_dir())
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(name.endswith(".template") for name in names)


def _plan(class_path: str) -> tuple[str, str | None, str] | None:
    """``(java options, archive to map or None, empty conf dir)`` for an
    eligible launch, publishing a finished dump first; None when the
    launch must go as without the archive."""
    java = _java()
    cache = cache_dir()
    if java is None or not _eligible() or _UNSPLITTABLE.search(cache):
        return None
    empty = os.path.join(cache, "empty-conf")
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(cache, os.W_OK):
            return None
        key = _key(java, class_path)
        archive = os.path.join(cache, f"driver-{key}.jsa")
        common = f"{_QUIET} -XX:ErrorFile={cache}/hs_err_pid%p.log"
        if install(archive, whole=is_whole):
            return f"-XX:SharedArchiveFile={archive} {common}", archive, empty
    except OSError as exc:
        log.debug("class-data archive not used: %s", exc)
        return None
    part = os.path.join(cache, f"driver-{key}.{uuid.uuid4().hex[:12]}{PART_SUFFIX}")
    return f"-XX:ArchiveClassesAtExit={part} {common}", None, empty


@contextmanager
def _env(name: str, value: str):
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = old


def launch(start: Callable[[dict[str, str]], T], confs: dict[str, str]) -> T:
    """Return ``start(launch confs)``, which must launch the driver JVM,
    with the archive's Java options added to ``confs`` when the launch
    is eligible."""
    plan = _plan(confs.get(CLASS_PATH_KEY, ""))
    if plan is None:
        return start(confs)
    options, archive, empty = plan
    try:
        with _env("SPARK_CONF_DIR", empty):
            return start({**confs, _JAVA_OPTIONS_KEY: options})
    except PySparkRuntimeError as exc:
        if exc.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
    log.warning(
        "driver JVM exited at start with class-data archive options %r; "
        "relaunching without them", options,
    )
    if archive is not None:
        try:
            os.remove(archive)
        except OSError:
            pass
    return start(confs)
