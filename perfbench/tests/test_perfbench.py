"""Self-test of the benchmark at smoke size (sf0.001 tables, a few hundred
ticks). Each case runs ``perfbench/run.py`` as a subprocess, the way the
benchmark is driven; expect about five minutes on a 4-core box.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--scale", "smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc, result


def test_benchmark_json_names_what_run_reports():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_untraced_run_reports_every_end_to_end_metric(workload):
    proc, result = _run(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values()), result["metrics"]


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_reports_every_layer(workload):
    proc, result = _run(workload, 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    with open(os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-seed7.json")) as f:
        trace = json.load(f)
    spans = trace["spans"]
    if workload == "analytics_scanagg":
        assert result["metrics"]["scheduler.jobs"]["value"] > 0
        assert result["metrics"]["executor.run_s"]["value"] > 0
        by_parent: dict = {}
        for s in spans:
            by_parent.setdefault(s["parent"], []).append(s)
        invocations = [s for s in spans if s["name"] == "invocation"]
        assert len(invocations) == result["attempted"]
        for inv in invocations:
            parts = {c["name"]: c["end"] - c["start"] for c in by_parent[inv["id"]]}
            assert set(parts) == {"construct", "plan", "execute_collect"}
            wall = inv["end"] - inv["start"]
            assert abs(sum(parts.values()) - wall) <= 0.1 * wall, (inv, parts)
    else:
        assert result["metrics"]["streaming.batches"]["value"] > 0
        assert result["metrics"]["state.rows_total_end"]["value"] > 0
        assert result["metrics"]["stateful.rows_out"]["value"] > 0


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_dropped_row_fails_the_output_check(workload):
    proc, result = _run(workload, 0, "--drop-row")
    assert proc.returncode == 1, proc.stderr[-3000:]
    assert result["correct"] is False and result["failed"] > 0


def test_tree_without_the_engine_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc, result = _run("analytics_scanagg", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert result is None
