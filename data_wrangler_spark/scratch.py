"""Scratch artifacts: where they live, how they are keyed, and how a
build is published.

Persisted indexes, format round-trip sinks and rollups are built once
per fixture version and reused by every later call:

- ``ROOT`` is the one scratch root, ``<checkout>/.scratch``. Modules
  derive their own roots from it as module-level strings; the
  benchmark redirects scratch by rewriting exactly those strings, so
  no module builds a root at call time.
- ``scratch_tag`` keys an artifact on the fixture and the constants it
  bakes in, so a regenerated fixture or a changed constant is a miss.
- ``materialize`` publishes a build once and completely, even when
  several threads or processes miss at the same time.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
from typing import Callable

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

# Completeness marker. Spark never writes this name, and its leading
# underscore hides it from Spark's file listing, so it can sit inside
# a parquet/csv/orc directory that is read back.
MARKER = "_MATERIALIZED"


def scratch_tag(sf_dir: str, source_table: str = "orders", params: str = "") -> str:
    """Collision- and staleness-safe cache key for per-sf scratch
    artifacts (roundtrip sinks, bucketed tables, persisted indexes).

    Keyed on the ABSOLUTE path (two fixture dirs sharing a basename
    get distinct caches) plus the source parquet's (mtime, size), so
    regenerated fixtures invalidate the key instead of serving stale
    bytes behind a completeness marker.

    ``params`` folds the GOVERNING SEMANTICS of the cached artifact
    into the key: a persisted index must pass the constants it was
    built from (n-gram size, band layout, split percentage, ...) so a
    later constant change invalidates the cache automatically instead
    of relying on a remembered manual directory rename."""
    abs_dir = os.path.abspath(sf_dir.rstrip("/"))
    src = os.path.join(abs_dir, f"{source_table}.parquet")
    try:
        st = os.stat(src)
        stamp = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        stamp = "nosrc"
    digest = hashlib.md5(f"{abs_dir}|{stamp}|{params}".encode()).hexdigest()[:10]
    return f"{os.path.basename(abs_dir)}_{digest}"


def materialize(path: str, build: Callable[[str], None]) -> str:
    """Return ``path`` once ``build(path)`` has written it completely.

    Hit: one ``exists`` on the marker. Miss: take an exclusive flock on
    the sibling ``path + ".lock"`` (it serializes threads and processes
    alike), check the marker again, remove any partial output a failed
    or killed build left, build, write the marker last. ``build``
    writes straight into ``path``, which does not exist when it is
    called; it is not a temp dir renamed afterwards, because stream
    checkpoints and file-sink logs record absolute paths. If ``build``
    raises, no marker is written and the next call rebuilds."""
    marker = os.path.join(path, MARKER)
    if os.path.exists(marker):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # closing the lock file releases the flock
    with open(path + ".lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(marker):
            shutil.rmtree(path, ignore_errors=True)
            build(path)
            os.makedirs(path, exist_ok=True)
            open(marker, "w").close()
    return path
