"""scratch.materialize publishes a build once and completely, its
marker and key know what built an artifact, scratch.sweep removes what
is no longer current, and the scratch root is spelled out in one place
only."""

import os
import re
import signal
import subprocess
import sys
import textwrap
import threading
import time

import pytest

from data_wrangler_spark import scratch
from data_wrangler_spark.scratch import MARKER, materialize, scratch_tag, sweep

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "data_wrangler_spark")


def test_concurrent_cold_miss_builds_once(tmp_path):
    """8 threads miss one cold key at once: exactly one runs the build,
    and no caller returns before the marker exists."""
    path = str(tmp_path / "artifact")
    calls = []
    seen_marker = []
    start = threading.Barrier(8)

    def build(p):
        calls.append(p)
        time.sleep(0.5)
        os.makedirs(p)
        with open(os.path.join(p, "data.txt"), "w") as fh:
            fh.write("complete\n")

    def caller():
        start.wait()
        got = materialize(path, build)
        seen_marker.append(
            got == path and os.path.exists(os.path.join(path, MARKER))
        )

    threads = [threading.Thread(target=caller) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert calls == [path]
    assert seen_marker == [True] * 8


def test_failed_build_is_removed_and_rebuilt(spark, tmp_path):
    """A build that writes part of its output and then raises leaves
    no marker; the next call removes the partial files before it
    rebuilds, so the read sees exactly the complete rows."""
    path = str(tmp_path / "table")
    rows = spark.range(10).withColumnRenamed("id", "k")

    def partial(p):
        rows.filter("k < 5").write.parquet(p)
        raise RuntimeError("killed mid-build")

    with pytest.raises(RuntimeError, match="killed mid-build"):
        materialize(path, partial)
    assert os.path.isdir(path)
    assert not os.path.exists(os.path.join(path, MARKER))

    # an appending build would read 15 rows if the partial 5 survived
    materialize(path, lambda p: rows.write.mode("append").parquet(p))
    assert os.path.exists(os.path.join(path, MARKER))
    got = sorted(r.k for r in spark.read.parquet(path).collect())
    assert got == list(range(10))


def test_killed_build_is_removed_and_rebuilt(tmp_path):
    """A process SIGKILLed inside a build, after it wrote part of its
    output, leaves no marker and holds no lock: the next call removes
    the partial output, builds once and writes the marker."""
    path = str(tmp_path / "artifact")
    child = textwrap.dedent(
        f"""
        import os, signal
        from data_wrangler_spark.scratch import materialize

        def build(p):
            os.makedirs(p)
            with open(os.path.join(p, "part-0"), "w") as fh:
                fh.write("partial")
            os.kill(os.getpid(), signal.SIGKILL)

        materialize({path!r}, build)
        """
    )
    proc = subprocess.run([sys.executable, "-c", child], cwd=os.path.dirname(PKG),
                          timeout=300)
    assert proc.returncode == -signal.SIGKILL
    assert os.listdir(path) == ["part-0"]

    calls = []

    def build(p):
        calls.append(os.path.exists(p))
        os.makedirs(p)
        with open(os.path.join(p, "data.txt"), "w") as fh:
            fh.write("complete\n")

    materialize(path, build)
    materialize(path, build)
    assert calls == [False]
    assert sorted(os.listdir(path)) == sorted([MARKER, "data.txt"])


def test_build_pins_do_not_outlive_the_build(spark, tmp_path):
    """A cold build's pinned frames are unpersisted before materialize
    returns, so the caller's next plan cannot read the build's cache;
    frames the caller pinned before stay pinned and cached."""
    from pyspark import StorageLevel

    from data_wrangler_spark.functions.distributed import pin, pinned_frames

    mine = pin(spark.range(5).persist())
    held = [id(f) for f in pinned_frames()]
    built = []

    def build(p):
        df = pin(spark.range(10).persist())
        df.write.parquet(p)
        built.append(df)

    materialize(str(tmp_path / "t"), build)
    assert [id(f) for f in pinned_frames()] == held
    assert built[0].storageLevel == StorageLevel(False, False, False, False, 1)
    assert mine.storageLevel != StorageLevel(False, False, False, False, 1)
    mine.unpersist()


def test_copied_artifact_is_rebuilt_where_it_lands(tmp_path):
    """An artifact copied to another root is a miss there (stream
    checkpoints and sink logs inside it name the old path), and so is
    one whose marker is empty."""
    import shutil

    calls = []

    def build(p):
        calls.append(p)
        os.makedirs(p)

    a = str(tmp_path / "a" / "artifact")
    b = str(tmp_path / "b" / "artifact")
    materialize(a, build)
    shutil.copytree(tmp_path / "a", tmp_path / "b")
    materialize(b, build)
    materialize(b, build)
    assert calls == [a, b]

    c = str(tmp_path / "c" / "artifact")
    os.makedirs(c)
    open(os.path.join(c, MARKER), "w").close()
    materialize(c, build)
    materialize(c, build)
    assert calls == [a, b, c]


def test_changed_code_digest_rebuilds_in_place(tmp_path, monkeypatch):
    """A build under other package source is a miss at the same path
    and the same key: the artifact is rebuilt where it is, and the
    older build's files are gone."""

    def build_as(name):
        def build(p):
            os.makedirs(p)
            with open(os.path.join(p, name), "w") as fh:
                fh.write("layout\n")

        return build

    path = str(tmp_path / "artifact")
    materialize(path, build_as("old_layout"))
    materialize(path, build_as("never_called"))
    assert sorted(os.listdir(path)) == sorted([MARKER, "old_layout"])

    monkeypatch.setattr(scratch, "code_digest", lambda: "edited source")
    assert materialize(path, build_as("new_layout")) == path
    assert sorted(os.listdir(path)) == sorted([MARKER, "new_layout"])
    with open(os.path.join(path, MARKER)) as fh:
        assert fh.read().splitlines() == [os.path.realpath(path), "edited source"]


def test_key_covers_every_fixture_table(tmp_path):
    """A new version of any table in the fixture is a new key, not
    only of the one table an artifact reads first."""
    for t in ("orders", "documents"):
        (tmp_path / f"{t}.parquet").write_bytes(b"v1")
    before = scratch_tag(str(tmp_path))
    assert scratch_tag(str(tmp_path)) == before
    st = os.stat(tmp_path / "documents.parquet")
    os.utime(tmp_path / "documents.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert scratch_tag(str(tmp_path)) != before
    assert scratch_tag(str(tmp_path), "mod=97") != scratch_tag(str(tmp_path))


def test_sweep_removes_stale_keeps_current_skips_locked(tmp_path, monkeypatch):
    """sweep removes an artifact whose marker is missing or names other
    source, with its lock file; keeps a current one; and leaves one
    whose lock is held (a build in progress) alone."""
    import fcntl

    monkeypatch.setattr(scratch, "ROOT", str(tmp_path))

    def build(p):
        os.makedirs(p)

    current = str(tmp_path / "a" / "current")
    stale = str(tmp_path / "a" / "stale")
    partial = str(tmp_path / "b" / "partial")
    busy = str(tmp_path / "b" / "busy")
    materialize(current, build)
    materialize(busy, build)
    with monkeypatch.context() as m:
        m.setattr(scratch, "code_digest", lambda: "older source")
        materialize(stale, build)
        materialize(f"{current}/nested", build)
    os.makedirs(partial)
    open(partial + ".lock", "w").close()

    with open(busy + ".lock") as held:
        fcntl.flock(held, fcntl.LOCK_EX)
        os.unlink(os.path.join(busy, MARKER))
        sweep()
    assert sorted(os.listdir(tmp_path / "a")) == ["current", "current.lock"]
    assert sorted(os.listdir(current)) == [MARKER]
    assert sorted(os.listdir(tmp_path / "b")) == ["busy", "busy.lock"]

    sweep()
    assert os.listdir(tmp_path / "b") == []


def test_scratch_root_is_spelled_only_in_scratch_module():
    """No package file except scratch.py names the `.scratch` directory
    (the module name `data_wrangler_spark.scratch` is not a path)."""
    path_literal = re.compile(r"(?<!\w)\.scratch\b")
    offenders = []
    for root, _, files in os.walk(PKG):
        for f in files:
            fp = os.path.join(root, f)
            if fp == os.path.join(PKG, "scratch.py") or "__pycache__" in fp:
                continue
            with open(fp, encoding="utf-8", errors="replace") as fh:
                for n, line in enumerate(fh, 1):
                    if path_literal.search(line):
                        offenders.append(f"{os.path.relpath(fp, PKG)}:{n}")
    assert offenders == []


def test_streams_and_temp_views_have_one_home():
    """Every file stream is opened by streaming/windows.py's
    `_file_stream` and started by its `_run_stream`; only catalog.py
    registers named temp views (builders pass frames to spark.sql as
    arguments instead). The incremental dedup probes have one
    definition each: the exact-Jaccard verify (dedup.jaccard_verify)
    and the cell index's member-side sub split (dedup.cell_probe).
    Persisted state has one publication protocol: only scratch's
    `_locked` (the lock materialize builds and sweep removes under)
    takes a flock, and only the one manifest writer
    (scratch.write_manifest) fsyncs."""
    import ast

    homes = {
        ".readStream": ("streaming/windows.py", "_file_stream"),
        ".writeStream": ("streaming/windows.py", "_run_stream"),
        "createOrReplaceTempView": ("catalog.py", None),
        'array_intersect("sa", "sb")': ("operators/dedup.py", "jaccard_verify"),
        "_with_sub(members": ("operators/dedup.py", "cell_probe"),
        "fcntl.flock": ("scratch.py", "_locked"),
        "os.fsync": ("scratch.py", "write_manifest"),
    }
    offenders = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            fp = os.path.join(root, f)
            rel = os.path.relpath(fp, PKG)
            with open(fp, encoding="utf-8") as fh:
                src = fh.read()
            spans = {
                n.name: (n.lineno, n.end_lineno)
                for n in ast.walk(ast.parse(src))
                if isinstance(n, ast.FunctionDef)
            }
            for n, line in enumerate(src.splitlines(), 1):
                for needle, (home, fn) in homes.items():
                    if needle not in line:
                        continue
                    lo, hi = spans.get(fn, (0, 0)) if fn else (n, n)
                    if rel != home or not lo <= n <= hi:
                        offenders.append(f"{rel}:{n}: {needle}")
    assert offenders == []


def test_no_py_file_hard_codes_the_checkout_path():
    """No tracked `.py` file names the absolute checkout directory:
    tools, examples and tests derive the repo root from `__file__`, so
    a checkout elsewhere never reads or writes into another one."""
    repo = os.path.dirname(PKG)
    literal = "/root" + "/repo"
    offenders = []
    for root, dirs, files in os.walk(repo):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        for f in files:
            if not f.endswith(".py"):
                continue
            fp = os.path.join(root, f)
            with open(fp, encoding="utf-8", errors="replace") as fh:
                for n, line in enumerate(fh, 1):
                    if literal in line:
                        offenders.append(f"{os.path.relpath(fp, repo)}:{n}")
    assert offenders == []
