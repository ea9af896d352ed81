"""Smoke test for the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Each case runs ``perfbench/run.py`` in a subprocess with its own JVM
(about 30 s untraced, 1-3 min traced; about 9 min in all). It checks
that every declared metric is emitted with its unit, that a corrupted
output row is counted as failed, that a seed never used while tuning runs
clean, that the benchmark refuses to run without the program, and that
``compare.py`` refuses runs taken on other core counts or input sizes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
HELD_OUT_SEED = 4242  # not used while the benchmark was tuned


def run(workload: str, trace: int, *extra: str, cwd: Path = ROOT):
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", str(HELD_OUT_SEED), "--seconds", "1", "--trace", str(trace),
            "--size", "tiny", *extra,
        ],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith('{"correct"') else None
    return proc, result


def assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in declared}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["value"] == m["value"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_is_clean_and_emits_end_to_end_metrics(workload):
    proc, result = run(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert_metrics(result, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    proc, result = run(workload, 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result["correct"] and result["failed"] == 0
    assert_metrics(result, SPEC["per_layer"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_row_is_counted(workload):
    proc, result = run(workload, 0, "--corrupt-row")
    assert proc.returncode != 0
    assert result is not None and not result["correct"] and result["failed"] >= 1


def test_refuses_to_run_without_the_program():
    bare = ROOT / ".perfbench_work" / f"bare-{os.getpid()}"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    try:
        proc, result = run(WORKLOADS[0], 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0 and result is None


def test_compare_refuses_runs_from_other_cores_or_sizes():
    work = ROOT / ".perfbench_work" / f"compare-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    env = {"workload": "curate", "trace": 0, "nproc": 4, "master": "local[4]",
           "size": "full", "input_rows": 5000}
    result = {"correct": True, "attempted": 1, "failed": 0,
              "metrics": {"run_s": {"value": 10.0, "unit": "s"}}}

    def log(name: str, **changed) -> str:
        path = work / name
        path.write_text(json.dumps({"environment": {**env, **changed}}) + "\n" + json.dumps(result) + "\n")
        return str(path)

    def compare(a: str, b: str):
        return subprocess.run([sys.executable, "perfbench/compare.py", a, b],
                              cwd=ROOT, capture_output=True, text=True, timeout=60)

    try:
        same = compare(log("a.log"), log("b.log"))
        cores = compare(log("a.log"), log("c.log", nproc=32, master="local[32]"))
        size = compare(log("a.log"), log("d.log", size="tiny", input_rows=400))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert same.returncode == 0, same.stdout + same.stderr
    assert cores.returncode == 2 and "refused" in cores.stdout
    assert size.returncode == 2 and "refused" in size.stdout
