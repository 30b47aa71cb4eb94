"""The directories registered queries build their inputs in.

Two rules, each implemented once here:

- ``build_once``: a query whose input is an engine-written table (an
  index, a re-laid-out copy of a fixture table, a compacted store)
  builds it once per process per (kind, source), in a private
  ``mkdtemp``. A failed build removes its directory, and a successful
  one is removed when the interpreter exits, so repeated driver and
  test processes leave nothing behind (a SIGKILLed process, which runs
  no exit hooks, does).
- ``stage``: a streaming replay reads committed files that must reach
  Spark's file source as files with strictly increasing mtimes (it
  orders by mtime, and a git checkout gives arbitrary ones). The staged
  directory is keyed on a digest of the input bytes and parameters, so
  an edited fixture can never replay stale bytes. It is filled in a
  private ``mkdtemp`` and published with one atomic rename: concurrent
  processes race harmlessly, the first rename wins and the losers
  discard their copy. A staged directory persists across processes
  under ``$TMPDIR``; a half-filled one is never published.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import tempfile
import time
from pathlib import Path

#: (kind, source) -> the directory ``build_once`` built for it.
_CACHE: dict[tuple[str, str], str] = {}


def build_once(spark, source: str, kind: str, builder) -> str:
    """Return the directory ``builder(spark, source, path)`` wrote for
    ``(kind, source)`` in this process, building it on first use."""
    key = (kind, source)
    path = _CACHE.get(key)
    if path and os.path.isdir(path):
        return path
    path = tempfile.mkdtemp(prefix=f"rtes_{kind}_")
    try:
        builder(spark, source, path)
    except BaseException:
        shutil.rmtree(path, ignore_errors=True)
        raise
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    _CACHE[key] = path
    return path


def stage(name: str, inputs, fill, params: str = "") -> str:
    """Return ``$TMPDIR/rtes_<name>_<digest>``, the directory
    ``fill(dir)`` writes from the files ``inputs``; the digest covers
    their names and bytes and ``params``. Filled and published only
    when no process has published it yet."""
    h = hashlib.md5(params.encode())
    for p in map(Path, inputs):
        data = p.read_bytes()
        h.update(f"{p.name}\0{len(data)}\0".encode())
        h.update(data)
    root = Path(tempfile.gettempdir()) / f"rtes_{name}_{h.hexdigest()[:16]}"
    if not root.is_dir():
        tmp = tempfile.mkdtemp(prefix=f"rtes_{name}_stage_")
        try:
            fill(Path(tmp))
            with contextlib.suppress(OSError):  # lost the race
                os.rename(tmp, root)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)  # gone once published
    return str(root)


def stage_files(src_dir: Path) -> str:
    """Stage ``src_dir``'s ``part-*`` files verbatim, their mtimes
    strictly increasing in part order."""
    parts = sorted(Path(src_dir).glob("part-*"))

    def _copy(dst: Path) -> None:
        base = time.time() - len(parts)
        for i, src in enumerate(parts):
            shutil.copy(src, dst / src.name)
            os.utime(dst / src.name, (base + i, base + i))

    return stage(Path(src_dir).name, parts, _copy)
