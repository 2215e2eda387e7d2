"""Self-tests of the benchmark.  Each run starts a JVM, so these are slow;
run them from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(cwd: str, workload: str, trace: int, seed: int = 1) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result_of(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, spec: list[dict]) -> None:
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_end_to_end_metric(workload):
    result = result_of(run_bench(ROOT, workload, trace=0))
    assert_metrics(result, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counts_repeat_exactly(workload):
    first, second = (result_of(run_bench(ROOT, workload, trace=1)) for _ in range(2))
    for result in (first, second):
        assert_metrics(result, SPEC["per_layer"])
        for m in SPEC["per_layer"]:
            if m["unit"] in ("s", "ms"):
                assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    for name in ("spark.jobs", "spark.stages", "sinks.files_written", "engine.checkpoint.jobs",
                 "streaming.triggers", "streaming.state_rows"):
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
    assert first["metrics"]["spark.jobs"]["value"] > 0


def test_refuses_a_directory_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = run_bench(str(tmp_path), WORKLOADS[0], trace=0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
