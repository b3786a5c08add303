"""Smoke test of the benchmark itself: every workload at toy size.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced (about two minutes in
all); the test checks the output contract, not the engine's speed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(cwd: str, *args: str) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
         *args], cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_printed_with_its_unit(workload, trace, kind):
    rc, out = _run(ROOT, "--workload", workload, "--trace", str(trace),
                   "--smoke")
    res = _result(out)
    assert rc == 0, out
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    values = [v["value"] for v in res["metrics"].values()]
    assert all(isinstance(v, float) for v in values)
    if kind == "end_to_end":
        assert all(v > 0 for v in values), res["metrics"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_checksum_is_reported(workload):
    rc, out = _run(ROOT, "--workload", workload, "--trace", "0", "--smoke",
                   "--corrupt-expected")
    res = _result(out)
    assert rc != 0
    assert not res["correct"] and res["failed"] >= 1


def test_without_the_engine_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = _run(str(tmp_path), "--workload", WORKLOADS[0], "--trace", "0")
    assert rc != 0
    assert '"correct"' not in out
