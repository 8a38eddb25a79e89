"""Smoke runs at tiny size: every metric is printed with its unit.

Each run starts Spark, so this module takes a few minutes."""

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import metrics  # noqa: E402


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "3", "--trace", str(trace), "--small"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    info = json.loads(lines[-2])["run"]
    for key in ("seed", "nproc", "spark_master", "pyspark", "java", "attempted", "failed"):
        assert key in info
    return json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["tsdb_read", "tsdb_write_mix", "declared_queries"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed(workload, trace):
    out = run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not os.path.exists(os.path.join(os.path.dirname(BENCH), ".perfbench_tmp"))


def test_benchmark_json_matches_metrics():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
