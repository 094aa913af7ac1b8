"""Self-test of the benchmark at tiny corpus sizes (a few minutes: every run
starts its own JVM).

    python3 -m pytest perfbench/test_bench.py -q

Checks that every metric BENCHMARK.json declares prints with its unit on
every workload, that no operation fails on the current tree, that a
corrupted output (one dropped triple, one dropped resumed row) is counted as
a failure, and that the benchmark refuses to run without the program.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY_PAGES = {"kg_build": 2000, "kg_resume": 200}
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int, corrupt: int = 0, cwd: Path = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--pages", str(TINY_PAGES[workload]), "--corrupt", str(corrupt)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=180)


def last_json(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_and_nothing_fails(workload, trace, kind):
    res = last_json(bench(workload, trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert res["failed"] == 0 and res["correct"] is True
    declared = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], float), name
    if kind == "end_to_end":
        assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_counts_as_failure(workload):
    res = last_json(bench(workload, trace=0, corrupt=1))
    assert res["failed"] >= 1 and res["correct"] is False


def test_refuses_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench(WORKLOADS[0], trace=0, cwd=tmp_path)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
