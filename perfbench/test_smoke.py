"""Smoke test of the benchmark itself (not part of the engine's suite).

    python3 -m pytest perfbench/test_smoke.py -q

A tiny-size run of each workload must print every metric BENCHMARK.json
names, with its unit; a deliberately corrupted answer must be caught by
the output check; and without the engine next to it the benchmark must
fail without printing a result.  Each run starts its own Spark session,
so the file takes a few minutes."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "2",
         "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    code, out = run(workload, trace, "--scale", "tiny")
    assert code == 0
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"]
            for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


def test_corrupted_answer_is_caught():
    code, out = run("search-mix", 0, "--scale", "tiny", "--corrupt")
    assert code == 0
    assert out["correct"] is False and out["failed"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", ".results",
                                                  "__pycache__"))
    code, out = run("search-mix", 0, cwd=str(tmp_path))
    assert code != 0 and out is None
