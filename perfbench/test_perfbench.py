"""Self-test of the benchmark: every workload at tiny size, both modes.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts its own engine process through the command line, the way
the benchmark is run, so one case takes about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int, *extra: str, cwd: str = REPO, seconds: int = 1):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace), "--size", "tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def lines(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail, result = proc.stdout.strip().splitlines()
    return json.loads(detail)["detail"], json.loads(result)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_and_no_errors(workload):
    untraced, traced = bench(workload, 0), bench(workload, 1)
    for proc, section in ((untraced, "end_to_end"), (traced, "per_layer")):
        detail, result = lines(proc)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0, detail["errors"]
        assert result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want
        for m in result["metrics"].values():
            assert isinstance(m["value"], (int, float))
    # tracing adds no Spark job: the same seed gives the same ops with the
    # same job counts in both modes
    ops0, ops1 = lines(untraced)[0]["ops"], lines(traced)[0]["ops"]
    n = min(len(ops0), len(ops1))
    assert [(o["op"], o["jobs"]) for o in ops0[:n]] == [(o["op"], o["jobs"]) for o in ops1[:n]]
    detail = lines(traced)[0]
    assert abs(detail["phase_sum_over_wall"] - 1.0) <= 0.05


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_result_counts_as_failed(workload):
    # long enough for a second op, whose metrics the run still prints
    detail, result = lines(bench(workload, 0, "--corrupt-op", "0", seconds=8))
    assert result["failed"] >= 1
    assert result["correct"] is False
    assert any(e.startswith("op 0 ") for e in detail["errors"])


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    proc = bench(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
