"""Scratch artifacts: where they live, how they are keyed, and how a
build is published.

Persisted indexes, format round-trip sinks and rollups are built once
per fixture version and per package source, and reused by every later
call:

- ``ROOT`` is the one scratch root, ``<checkout>/.scratch``. Modules
  derive their own roots from it as module-level strings; the
  benchmark redirects scratch by rewriting exactly those strings, so
  no module builds a root at call time.
- ``scratch_tag`` keys an artifact on the fixture: its absolute path
  and the version of every table in it, so a regenerated table is a
  miss. Callers add only runtime values, never module constants.
- ``materialize`` publishes a build once and completely, even when
  several threads or processes miss at the same time. It is the one
  publication protocol: every persisted artifact, versioned ones
  included, is written by a build it runs. Its marker records where
  the artifact was built and ``code_digest()``, the digest of the
  package source that built it, so a moved artifact or an edit to
  any package module is a miss, rebuilt in place.
- ``sweep`` removes every artifact whose marker is missing or not
  current, with the lock it was built under.
- ``write_manifest`` / ``read_manifest`` are the one manifest format
  for a versioned artifact (``manifest-vN.json`` plus ``CURRENT``).
  A build writes all of its versions, so a reader sees an artifact
  only once every version and the ``CURRENT`` pointer are on disk.
"""

from __future__ import annotations

import fcntl
import functools
import glob
import hashlib
import json
import os
import shutil
from contextlib import contextmanager
from typing import Callable

from data_wrangler_spark.catalog import _file_version
from data_wrangler_spark.functions.distributed import pin_scope

PKG = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.join(os.path.dirname(PKG), ".scratch")

# Completeness marker. Spark never writes this name, and its leading
# underscore hides it from Spark's file listing, so it can sit inside
# a parquet/csv/orc directory that is read back.
MARKER = "_MATERIALIZED"


@functools.cache
def code_digest() -> str:
    """sha256 over the relative path and bytes of every ``.py`` file
    in the package, computed once per process. The whole package, not
    the module that defines a build: builds read constants and helpers
    across modules."""
    h = hashlib.sha256()
    for rel in sorted(glob.glob("**/*.py", root_dir=PKG, recursive=True)):
        with open(os.path.join(PKG, rel), "rb") as fh:
            data = fh.read()
        h.update(f"{rel}\0{len(data)}\0".encode() + data)
    return h.hexdigest()


def scratch_tag(sf_dir: str, params: str = "") -> str:
    """Cache key for a per-fixture scratch artifact.

    Keyed on the fixture's ABSOLUTE path (two fixture dirs sharing a
    basename get distinct caches) and the file version of every
    ``*.parquet`` table in it, so a regenerated table, whichever one
    the artifact reads, is a miss instead of stale bytes behind a
    marker. ``params`` carries runtime values only (a bind such as
    the erasure modulus); the code an artifact was built with is
    checked by ``materialize``'s marker, not by the key."""
    abs_dir = os.path.abspath(sf_dir.rstrip("/"))
    tables = sorted(glob.glob("*.parquet", root_dir=abs_dir))
    versions = [(t, _file_version(os.path.join(abs_dir, t))) for t in tables]
    digest = hashlib.md5(f"{abs_dir}|{versions}|{params}".encode()).hexdigest()[:10]
    return f"{os.path.basename(abs_dir)}_{digest}"


def _marker_text(path: str) -> str:
    return f"{os.path.realpath(path)}\n{code_digest()}"


def _is_current(path: str) -> bool:
    """``path``'s marker names ``path`` and this package source."""
    try:
        with open(os.path.join(path, MARKER)) as fh:
            return fh.read() == _marker_text(path)
    except FileNotFoundError:
        return False


@contextmanager
def _locked(path: str, blocking: bool = True):
    """Hold the exclusive flock on ``path + ".lock"``; with
    ``blocking`` False, raise ``BlockingIOError`` if it is held.
    ``sweep`` unlinks lock files, so a lock taken on a file that is
    no longer the one at that name is dropped and taken again."""
    lock_path = path + ".lock"
    while True:
        lock = open(lock_path, "a")
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | (0 if blocking else fcntl.LOCK_NB))
            if os.path.samestat(os.fstat(lock.fileno()), os.stat(lock_path)):
                break
        except FileNotFoundError:
            pass
        except BaseException:
            lock.close()
            raise
        lock.close()
    # closing the lock file releases the flock
    with lock:
        yield


def materialize(path: str, build: Callable[[str], None]) -> str:
    """Return ``path`` once ``build(path)`` has written it completely.

    Hit: the marker exists, names ``path`` and carries this process's
    ``code_digest()``. Miss: take an exclusive flock on the sibling
    ``path + ".lock"`` (it serializes threads and processes alike),
    check the marker again, remove whatever is at ``path`` (a failed
    or killed build's partial output, or an older build's layout),
    build, write the marker last.
    ``build`` writes straight into ``path``, which does not exist when
    it is called; it is not a temp dir renamed afterwards, because
    stream checkpoints and file-sink logs record absolute paths. For
    the same reason the marker records the absolute path it was built
    at, and an artifact moved or copied elsewhere is a miss: read from
    the new place, a file sink whose log names the old paths reads as
    empty. If ``build`` raises, no marker is
    written and the next call rebuilds. Frames ``build`` pins are
    unpersisted before this returns: a cold call must plan like a warm
    one, which finds no such cache."""
    if _is_current(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with _locked(path):
        if not _is_current(path):
            shutil.rmtree(path, ignore_errors=True)
            with pin_scope():
                build(path)
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, MARKER), "w") as fh:
                fh.write(_marker_text(path))
    return path


def sweep() -> None:
    """Remove every artifact under ``ROOT`` whose marker is missing or
    not current, and its lock file. An artifact is anything with a
    sibling ``.lock``; one whose lock is held (a build in progress) is
    skipped."""
    for dirpath, dirs, files in os.walk(ROOT):
        for name in files:
            if not name.endswith(".lock"):
                continue
            path = os.path.join(dirpath, name[: -len(".lock")])
            try:
                with _locked(path, blocking=False):
                    if _is_current(path):
                        continue
                    shutil.rmtree(path, ignore_errors=True)
                    os.unlink(path + ".lock")
            except BlockingIOError:
                continue
        dirs[:] = [d for d in dirs if os.path.isdir(os.path.join(dirpath, d))]


def write_manifest(base: str, version: int, body: dict) -> None:
    """Write ``manifest-v{version}.json`` (``body`` plus the version)
    into ``base`` and point ``CURRENT`` at it.

    Called by a ``materialize`` build, which writes every version of
    its artifact; the marker, written after the build, is what makes
    them visible. Each file is written to a tmp name, fsynced, renamed
    into place, and the directory fsynced: ``os.replace`` alone leaves
    the rename in the page cache, where a host crash (not only a
    process crash) loses it. Paths in ``body`` are relative to
    ``base``, so a copied artifact reads the same."""

    def write_sync(path: str, text: str) -> None:
        with open(path + ".tmp", "w") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(path + ".tmp", path)
        dfd = os.open(base, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    name = f"manifest-v{version}.json"
    write_sync(os.path.join(base, name), json.dumps({"version": version, **body}))
    write_sync(os.path.join(base, "CURRENT"), name)


def read_manifest(base: str, version: int | None = None) -> dict:
    """The manifest ``CURRENT`` names, or version ``version``'s (time
    travel)."""
    if version is None:
        with open(os.path.join(base, "CURRENT")) as fh:
            name = fh.read().strip()
    else:
        name = f"manifest-v{version}.json"
    with open(os.path.join(base, name)) as fh:
        return json.load(fh)
