"""Smoke runs of every workload on the benchmark's fixture (sf 0.001).

    python -m pytest perfbench -q

Each run goes through the real command, so these check the result
line, the output check, run isolation and the traced per-layer
metrics, including the layer separation the workloads are chosen for.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout
    assert result["attempted"] >= 1
    return result


def test_end_to_end_metrics():
    metrics = _result(_run("interactive", 0))["metrics"]
    assert [m["name"] for m in SPEC["end_to_end"]] == list(metrics)
    for m in SPEC["end_to_end"]:
        assert metrics[m["name"]]["unit"] == m["unit"]
        assert metrics[m["name"]]["value"] > 0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run(workload):
    metrics = _result(_run(workload, 1))["metrics"]
    assert [m["name"] for m in SPEC["per_layer"]] == list(metrics)
    value = {name: m["value"] for name, m in metrics.items()}
    assert value["spark.jobs"] > 0 and value["plans.driver_gap_s"] >= 0
    assert value["error_rate"] == 0 and value["peak_rss_mb"] > 0
    assert value["multimodal.jpeg.decode_ms"] > 0
    streaming = sum(v for k, v in value.items() if k.startswith("streaming."))
    if workload == "ingest":
        assert value["streaming.microbatches"] > 0
        assert value["streaming.store_commit.calls"] > 0
        assert value["streaming.log_append.calls"] > 0
        assert value["streaming.window.calls"] > 0
        # the folds spend their time inside QUERIES[name], not the sink
        assert value["plans.build_s"] > value["plans.sink_s"]
    else:
        assert streaming == 0

