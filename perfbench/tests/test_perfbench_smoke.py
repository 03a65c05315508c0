"""Tiny-scale end-to-end runs of the benchmark command (each starts Spark).

    python -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")


def _bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd, *args, timeout=170):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd, capture_output=True,
                          text=True, timeout=timeout)


def test_metric_names_match_benchmark_json():
    from perfbench import run
    from perfbench.workloads import WORKLOADS

    spec = _bench_spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", ["ingest_tiles", "resume_mor", "spatial_skew"])
def test_tiny_traced_run_passes_its_checks(workload):
    """A traced run also measures untraced iterations first, so it covers
    both paths and every output check."""
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", "1", "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
    spec = {m["name"]: m["unit"] for m in _bench_spec()["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == spec
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["trace.traced_wall_s"] > 0 and m["pip_join.matches"] > 0


def test_tiny_untraced_run_reports_end_to_end_metrics():
    p = _run(ROOT, "--workload", "ingest_tiles", "--seed", "2", "--seconds", "1", "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    spec = {m["name"]: m["unit"] for m in _bench_spec()["end_to_end"]}
    assert out["correct"] and {k: v["unit"] for k, v in out["metrics"].items()} == spec
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    """Given only BENCHMARK.json and the benchmark's own files, the command
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "ingest_tiles", "--seed", "1", "--seconds", "1", timeout=60)
    assert p.returncode != 0 and p.stdout.strip() == ""
