"""Smoke test of the benchmark at tiny input size.

    python -m pytest perfbench/test_smoke.py -q

Checks that every workload runs and prints each BENCHMARK.json metric
with its unit, that a corrupted output is counted as a failure, and
that the command fails cleanly where the engine is missing. It starts
a Spark session per run (a few minutes in all).
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
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return proc.returncode, proc.stdout.splitlines()


def _result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    return out


def _error_rate(lines: list[str]) -> float:
    line = next(ln for ln in lines if ln.startswith("# error_rate "))
    return float(line.split()[2])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_print_with_units(workload):
    rc, lines = _run("--workload", workload, "--seed", "7", "--seconds", "1",
                     "--trace", "0", "--size", "tiny")
    assert rc == 0, lines[-20:]
    out = _result(lines)
    assert out["correct"] and out["failed"] == 0, lines
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    # the unbounded figures print by name too
    text = "\n".join(lines)
    for name in ("op_p50_s", "op_tail_s", "error_rate"):
        assert f"# {name} " in text
    if workload == "batch_refresh":
        for name in ("commit_p50_s", "commit_tail_s", "read_p50_s", "read_tail_s",
                     "write_amp", "space_amp"):
            assert f"# store.{name} " in text
    assert _error_rate(lines) == 0.0


def test_trace_run_and_corrupted_output():
    """A traced run prints every per-layer metric with its unit; an
    altered MapReduce output line makes the run incorrect."""
    rc, lines = _run("--workload", "batch_refresh", "--seed", "7", "--seconds", "1",
                     "--trace", "1", "--size", "tiny", "--corrupt")
    assert rc == 0, lines[-20:]
    out = _result(lines)
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["metrics"]["mapreduce.job_s"]["value"] > 0
    assert out["metrics"]["store.commit_jobs"]["value"] > 0
    assert not out["correct"] and out["failed"] >= 1
    assert _error_rate(lines) > 0.0
    assert any(ln.startswith("# FAILED ") for ln in lines)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = _run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                     "--trace", "0", cwd=str(tmp_path))
    assert rc != 0
    assert not any(ln.startswith("{") for ln in lines)
