"""A few ops of each workload, through the same command line the
benchmark is run with."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from conftest import BENCH_DIR

REPO = BENCH_DIR.parent
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())
SHORT = ["--seconds", "2"]


def run(*args, cwd=REPO):
    # no inherited PYTHONPATH: other tests in this process point it at the repo
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=600)


def result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


@pytest.mark.parametrize("workload", ["pyramid", "spatial_join", "corpus_dedup"])
def test_end_to_end_metrics(workload):
    out = result(run("--workload", workload, "--seed", "3", "--trace", "0", *SHORT))
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_reports_every_layer():
    out = result(run("--workload", "pyramid", "--seed", "3", "--trace", "1", *SHORT))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want


def test_fails_without_the_program(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(REPO / p, tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    p = run("--workload", "pyramid", "--seed", "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
