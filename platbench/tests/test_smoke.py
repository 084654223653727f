"""Smoke runs of each workload at minimal size, through the same
command the benchmark is run with, and the contract checks on its
output. Each run starts a Spark session (about a minute)."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "platbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [("batch-inventory", 0), ("stream-platform", 1)],
)
def test_workload_smoke(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True, proc.stderr[-3000:]
    assert last["failed"] == 0 and last["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(last["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in last["metrics"].values())
    assert not (ROOT / ".platbench-run").exists()


def _bench_only(tmp_path: Path) -> Path:
    """A directory holding only BENCHMARK.json and the benchmark."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(
        ROOT / "platbench", tmp_path / "platbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    return tmp_path


def test_fails_without_the_program(tmp_path):
    proc = _run(_bench_only(tmp_path), "batch-inventory", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_a_crashed_worker_is_counted(tmp_path):
    """A program that fails on import still gives a result line, with
    the crash counted as a failed attempt."""
    pkg = _bench_only(tmp_path) / "flink_streaming_platform_web_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("raise RuntimeError('broken')\n")
    proc = _run(tmp_path, "batch-inventory", 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert last == {"correct": False, "attempted": 1, "failed": 1,
                    "metrics": {}}
