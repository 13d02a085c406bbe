"""Smoke test of the benchmark on sf0.001-sized inputs (``--scale 0.04``).

    python -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Each case runs ``perfbench/run.py`` in a fresh process, as the benchmark is
meant to be run, and checks the result line against BENCHMARK.json.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace),
         "--scale", "0.04"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_is_correct(workload):
    r = _result(_run(workload, 0))
    assert r["correct"] is True
    assert r["failed"] == 0 and r["attempted"] >= 4
    _check_metrics(r, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_traced_run_reports_every_layer():
    r = _result(_run("spatial", 1))
    assert r["correct"] is True
    _check_metrics(r, SPEC["per_layer"])
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["join.candidates"] >= m["join.pairs"] > 0
    assert m["knn.jobs"] >= 1 and m["join.stages"] >= 1
    assert m["trace.overhead_s"] == pytest.approx(
        m["trace.pass_s"] - m["trace.untraced_pass_s"])
    # self times are differences of nested legs, all inside the traced pass
    assert (m["join.self_s"] + m["topk.self_s"] + m["results.self_s"]
            <= m["trace.pass_s"])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("spatial", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
