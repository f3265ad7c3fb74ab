"""Smoke test of the benchmark itself, on a tiny fixture.

    python3 -m pytest perfbench/test_smoke.py

Every workload runs once untraced and once traced at sf0.001 row
counts; each run must answer every op correctly and print every
metric `BENCHMARK.json` names, with its unit. A checkout holding only
the benchmark (no engine) must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_emitted_and_no_op_fails(workload: str, trace: int) -> None:
    proc = _run(
        ROOT, "--workload", workload, "--seed", "1", "--seconds", "2",
        "--trace", str(trace), "--scale", "0.01",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m: result["metrics"][m]["unit"] for m in result["metrics"]} == {
        m["name"]: m["unit"] for m in want
    }
    for m in want:
        assert isinstance(result["metrics"][m["name"]]["value"], (int, float))


def test_fails_without_the_engine(tmp_path) -> None:
    for p in BENCH["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__")
        )
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(
        str(tmp_path), "--workload", "ingest", "--seed", "1", "--seconds", "1", "--trace", "0"
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
