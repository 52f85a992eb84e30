"""Self-test of the benchmark at tiny size: ``python3 -m pytest perfbench``.

For each workload it checks that every metric BENCHMARK.json names prints
with its unit and that all output checks pass, that two traced runs with
one seed report identical Spark job and task counts per op, and that the
timed units show no downward trend after the warm-up.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run as bench  # noqa: E402

WORKLOADS = bench.WORKLOADS
# long enough for at least four timed units, so the trend has two halves
TRACED_SECONDS = 15
MAX_SPEEDUP = 0.15


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, trace: int, seconds: int = 1) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_spec_lists_what_the_workloads_report():
    import importlib

    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    per_layer = {}
    for w in WORKLOADS:
        per_layer.update(importlib.import_module(w).PER_LAYER)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer
    assert [m["name"] for m in spec["end_to_end"]] == ["setup_s", "op_s", "unit_s"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric_and_passes_its_checks(workload):
    res = _run(workload, seed=3, trace=0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_runs_count_the_same_spark_work_per_op(workload):
    a, b = (_run(workload, seed=4, trace=1, seconds=TRACED_SECONDS) for _ in range(2))
    assert a["correct"] and b["correct"]
    for res in (a, b):  # after warm-up the timed units no longer speed up
        assert res["metrics"][f"{workload}.timed_trend"]["value"] > -MAX_SPEEDUP
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in a["metrics"].items()} == want
    counts = [k for k in want if k.endswith((".jobs", ".tasks"))]
    own = [k for k in counts if a["metrics"][k]["value"] > 0]
    assert own, "the workload reported no Spark work"
    assert {k: a["metrics"][k]["value"] for k in counts} == {k: b["metrics"][k]["value"] for k in counts}


def test_run_fails_without_the_program():
    """Outside a checkout (only BENCHMARK.json and perfbench/) the run must
    fail fast and print no result."""
    import shutil
    import tempfile

    runs = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(runs, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=runs)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "copy_pg", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(runs)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
