"""Smoke tests of the benchmark itself, on tiny inputs (sf0.001 tables,
2000 syslog lines). Each case starts its own Spark process.

    python3 -m pytest perfbench/test_perfbench.py -q
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
sys.path.insert(0, HERE)

from run import Span  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_with_its_unit(workload, trace, kind):
    res = result(run(workload, trace))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in SPEC[kind]}
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if trace:
        path = os.path.join(ROOT, ".perfbench_out",
                            f"trace-{workload}-seed3.json")
        with open(path) as f:
            spans = json.load(f)
        kinds = set()

        def walk(s):
            assert s["self_s"] <= s["dur_s"] + 1e-6
            kinds.add(s["kind"])
            for c in s["children"]:
                walk(c)
        for s in spans:
            walk(s)
        assert {"pass", "op", "job"} <= kinds


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_corrupted_output_is_counted_as_failed(workload):
    res = result(run(workload, 0, "--corrupt"))
    assert not res["correct"]
    assert res["failed"] == res["attempted"]


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = run("relay", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_self_time_subtracts_overlapping_children():
    parent = Span("op", "op", 0.0, 10.0)
    parent.children = [Span("a", "job", 1.0, 4.0), Span("b", "job", 3.0, 5.0),
                       Span("c", "job", 9.0, 12.0)]
    assert parent.covered() == pytest.approx(5.0)
    assert parent.to_json()["self_s"] == pytest.approx(5.0)
    assert parent.covered({"construct"}) == 0.0
