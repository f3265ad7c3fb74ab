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
