"""Self-test of the benchmark at a tiny input size.

Run from the repository root: ``python3 -m pytest perfbench/test_run.py -q``.
Each case starts the benchmark as its own process, with stdout sent to a
regular file.
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
RUN = os.path.join(HERE, "run.py")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(tmp_path, *extra, cwd=ROOT):
    out = tmp_path / "stdout.txt"
    with open(out, "w") as fh:
        proc = subprocess.run(
            [sys.executable, RUN, "--seed", "5", "--seconds", "2", "--size", "tiny", *extra],
            cwd=cwd, stdout=fh, stderr=subprocess.PIPE, text=True, timeout=600,
        )
    return proc, out.read_text().splitlines()


def _metrics(lines) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


@pytest.mark.slow
def test_untraced_run_reports_every_end_to_end_metric(tmp_path):
    proc, lines = _run(tmp_path, "--workload", "bulk", "--trace", "0")
    assert proc.returncode == 0, proc.stderr
    result = _metrics(lines)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.slow
def test_traced_run_reports_every_per_layer_metric(tmp_path):
    proc, lines = _run(tmp_path, "--workload", "trickle", "--trace", "1")
    assert proc.returncode == 0, proc.stderr
    result = _metrics(lines)
    assert result["correct"] and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["plans.merge_apply_s"] > 0 and m["suite.s"] > 0
    assert m["plans.merge_apply.tasks"] > 0


@pytest.mark.slow
def test_injected_failure_raises_error_rate(tmp_path):
    proc, lines = _run(tmp_path, "--workload", "bulk", "--trace", "0", "--inject-failure")
    assert proc.returncode == 0, proc.stderr
    result = _metrics(lines)
    assert result["failed"] >= 1 and not result["correct"]
    assert json.loads(lines[-2])["error_rate"] > 0


def test_without_the_program_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = tmp_path / "stdout.txt"
    with open(out, "w") as fh:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "bulk", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=tmp_path, stdout=fh, stderr=subprocess.PIPE, text=True, timeout=180,
        )
    assert proc.returncode != 0
    assert out.read_text() == ""
