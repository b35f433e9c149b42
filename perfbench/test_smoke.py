"""Smoke test of the benchmark on the smallest inputs.

Run from the repository root: ``python3 -m pytest perfbench/test_smoke.py -q``
(about four minutes: each workload runs once untraced and once traced).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)

WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-4000:]
    assert result["attempted"] >= 1
    return result


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_emitted(workload):
    result = _result(_run(workload, trace=0))
    _assert_metrics(result, BENCHMARK["end_to_end"])
    for m in BENCHMARK["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics_and_spans_nest(workload):
    result = _result(_run(workload, trace=1))
    _assert_metrics(result, BENCHMARK["per_layer"])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    # the README's stated slack: the layers' spans account for at least
    # 90 % of a traced pass
    assert metrics["trace.accounted_ratio"] >= 0.9
    assert metrics["jvm.jit_s"] > 0
    if workload == "osm_etl":
        assert metrics["pipeline.etl_s"] > 0 and metrics["pipeline.rows_out"] > 0
    else:
        assert metrics["plans.build_s"] > 0 and metrics["plans.exec_jobs"] > 0
        assert metrics["plans.memo_calls"] > 0
        # every plan family is on the measured path
        for name, value in metrics.items():
            if name.startswith("plans.") and name.count(".") == 2:
                assert value > 0, name

    with open(os.path.join(HERE, "out", f"{workload}-seed3-trace1.spans.json")) as fh:
        spans = {s["id"]: s for s in json.load(fh)}
    assert spans
    for s in spans.values():
        assert s["start_s"] <= s["end_s"]
        if s["parent"] is None:
            continue
        parent = spans[s["parent"]]
        assert parent["start_s"] <= s["start_s"] and s["end_s"] <= parent["end_s"], s
        if parent["statement"] is not None:
            assert s["statement"] == parent["statement"], s


def test_fails_without_the_package():
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero and prints no result."""
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(HERE, "work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("out", "work", "__pycache__"))
        proc = _run(WORKLOADS[0], trace=0, cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
