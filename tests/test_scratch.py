"""scratch.materialize publishes a build once and completely, and the
scratch root is spelled out in one place only."""

import os
import re
import sys
import threading
import time

import pytest

from data_wrangler_spark.scratch import MARKER, materialize

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


def test_copied_artifact_is_rebuilt_where_it_lands(tmp_path):
    """An artifact copied to another root is a miss there (stream
    checkpoints and sink logs inside it name the old path), while a
    marker written before markers recorded a path still counts as
    built."""
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
    assert calls == [a, b]


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
    and the cell index's member-side sub split (dedup.cell_probe)."""
    import ast

    homes = {
        ".readStream": ("streaming/windows.py", "_file_stream"),
        ".writeStream": ("streaming/windows.py", "_run_stream"),
        "createOrReplaceTempView": ("catalog.py", None),
        'array_intersect("sa", "sb")': ("operators/dedup.py", "jaccard_verify"),
        "_with_sub(members": ("operators/dedup.py", "cell_probe"),
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
