"""Short runs of every workload on tiny inputs, plus the agreement of
BENCHMARK.json with what run.py prints. The smoke runs start Spark and
take about a minute each:

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

import pytest

from perfbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
TINY = {"PERFBENCH_SCALE": "0.1"}


def test_benchmark_json_matches_run_py():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def _run(tmp_path, workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "2",
         "--trace", str(trace)],
        cwd=tmp_path, env={**os.environ, **TINY}, capture_output=True,
        text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] is True and out["failed"] == 0, proc.stderr[-3000:]
    return out


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_smoke(tmp_path, workload):
    out = _run(tmp_path, workload, 0)
    assert out["attempted"] >= 1
    assert set(out["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())
    # the scratch dir is removed; only traces may stay behind
    left = os.listdir(os.path.join(tmp_path, ".perfbench_work"))
    assert left == []


# per-layer metrics each workload's traced run must fill in
TRACED = {
    "ingest_stream": ("stream.batches", "stream.add_batch_ms_p50",
                      "sink.jobs_per_commit", "monitor.eval_ms_p50"),
    "dashboard_rw": ("exec.jobs_per_read", "sink.jobs_per_commit",
                     "view.build_ms_p50", "surface.jobs"),
}


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_traced_smoke(tmp_path, workload):
    out = _run(tmp_path, workload, 1)
    assert set(out["metrics"]) == set(run.PER_LAYER)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert all(m[k] > 0 for k in TRACED[workload]), m
    assert 0 < m["trace.overhead_pct"] < 50
    traces = os.listdir(os.path.join(tmp_path, ".perfbench_work", "traces"))
    assert traces == [f"{workload}-s7.json"]


def test_refuses_to_run_without_the_engine(tmp_path):
    """Outside a checkout (only perfbench/ present) it fails fast and
    prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard_rw",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
