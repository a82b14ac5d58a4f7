"""Smoke runs of every workload at the test size, through the same command
line the benchmark is run with, plus the refusal to run without the
engine next to it."""

import json
import os
import shutil
import subprocess
import sys

import pytest

import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _bench(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_smoke_run(workload):
    p = _bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", "0", "--size", "smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, p.stderr[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.END_TO_END)
    for name, m in result["metrics"].items():
        assert m["unit"] == run.END_TO_END[name]
        assert m["value"] > 0, name


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = _bench(tmp_path, "--workload", "warehouse_serve", "--seed", "1",
               "--seconds", "1", "--trace", "0", timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
    assert "owl_n4j_spark" in p.stderr
