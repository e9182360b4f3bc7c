"""Smoke test of the benchmark: every workload at tiny size, the traced run,
the failure without the engine, and BENCHMARK.json against run.py.

    python3 -m pytest perfbench/test_smoke.py -q

Each run starts its own Spark session, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.02"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_spec_matches_runner():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.per_layer_units()


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_workload_tiny(workload):
    p = _bench(ROOT, workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(run.END_TO_END)
    for name, m in res["metrics"].items():
        assert m["unit"] == run.END_TO_END[name]
        assert math.isfinite(m["value"]) and m["value"] > 0, name


def test_traced_tiny():
    p = _bench(ROOT, "small_epochs", 1)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] is True
    metrics = res["metrics"]
    assert set(metrics) == set(run.per_layer_units())
    assert metrics["table.merge.calls"]["value"] >= 1
    assert metrics["trace.spans"]["value"] > 0
    assert 0 < metrics["replay.span_coverage"]["value"] <= 1


def test_fails_without_engine():
    """A directory holding only BENCHMARK.json and perfbench/ must fail."""
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _bench(bare, "small_epochs", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
