"""Self-test of the benchmark: every workload at toy size, end to end.

    python3 -m pytest perfbench/tests -q

Pins the end-to-end metric names and units (untraced runs) and the
per-layer key set and units (traced runs) against BENCHMARK.json, checks
that the Python operator metrics are really read on workloads that cross
into Python, and that the benchmark refuses to run without the engine.
Each run starts its own Spark session, so the whole test takes minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run_bench(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result_of(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], proc.stdout
    assert result["failed"] == 0
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    return result


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    proc = run_bench(workload, 0)
    metrics = result_of(proc)["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == {
        m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in metrics.values())
    text = proc.stdout
    for name in ("setup_s", "iter_s", "failed_frac"):
        assert f"\n{name} " in "\n" + text
    if workload == "ref_fe_rf":
        assert "\nroc_auc " in text


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics(workload):
    metrics = result_of(run_bench(workload, 1))["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == {
        m["name"]: m["unit"] for m in BENCH["per_layer"]}
    values = {k: v["value"] for k, v in metrics.items()}
    assert values["session.start_s"] > 0
    assert values["session.jvm_peak_rss_mb"] > 0
    assert values["trace.iter_s"] > 0
    if workload == "ref_fe_rf":
        assert values["indicators.py_run_s"] > 0
        assert values["indicators.arrow_to_py_mb"] > 0
        assert values["ml.fit.s"] > 0
    else:
        assert values["registry.indicators.py_run_s"] > 0
        assert values["registry.multimodal.py_run_s"] > 0
        assert values["registry.streaming.build_s"] > 0


def test_refuses_without_engine(tmp_path):
    """In a directory holding only the benchmark, it fails fast and prints
    no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_parse_metric():
    from sparkstats import parse_metric

    assert parse_metric("0 ms") == 0.0
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "9.2 s (2.1 s, 2.4 s, 2.6 s (stage 18.0: task 17))") == 9.2
    assert parse_metric("total (min, med, max)\n729 ms (1 ms, 2 ms, 3 ms)") \
        == pytest.approx(0.729)
    assert parse_metric("total\n3.5 MiB (1.0 KiB, 1.0 KiB, 2.0 KiB)") == 3.5
    assert parse_metric("846.8 KiB") == pytest.approx(846.8 / 1024)
    assert parse_metric("1,234") == 1234.0
