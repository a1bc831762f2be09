"""Smoke runs of the benchmark command on the sf0.001 fixtures."""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def _run(cwd, *args):
    """Run the command; returns the finished process and its pid."""
    cmd = [sys.executable, "seambench/run.py", *args]
    with subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True) as proc:
        out, err = proc.communicate(timeout=600)
    return subprocess.CompletedProcess(cmd, proc.returncode, out, err), proc.pid


def _result(proc):
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


def test_benchmark_lists_runnable_workloads():
    from workloads import WORKLOADS

    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", ["pg_sql", "df_analytics", "doc_ingest"])
def test_untraced_smoke_run_reports_every_end_to_end_metric(workload):
    proc, pid = _run(REPO, "--workload", workload, "--seed", "3",
                     "--seconds", "1", "--trace", "0", "--smoke")
    out = _result(proc)
    expected = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == expected
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert '"nproc"' in proc.stdout and '"spark": "' in proc.stdout
    assert not os.path.exists(os.path.join(HERE, ".work", f"{workload}-{pid}"))


def test_traced_smoke_run_reports_every_per_layer_metric():
    out = _result(_run(REPO, "--workload", "doc_ingest", "--seed", "3",
                       "--seconds", "1", "--trace", "1", "--smoke")[0])
    expected = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == expected
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["dml.rows"] > 0 and m["snapshots.commit_s"] > 0
    assert m["engine.views_registered"] > 0 and m["spark.tasks"] > 0
    assert m["operators.build_s"] == 0  # doc_ingest never calls the registry


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command must fail
    fast and print no result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "seambench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc, _pid = _run(tmp_path, "--workload", "pg_sql", "--seed", "1",
                      "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
