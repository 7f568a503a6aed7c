"""The benchmark command end to end: a short traced run attributes every
Spark job, and the command refuses to run without the program."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import trace

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


#: layers each workload's block calls; every one must show in a traced run
LAYERS = {
    "grid_analysis_refresh": (
        "session", "catalog", "sources.grid_store", "sources.ingestion",
        "operators.zonal", "operators.temporal", "operators.timeseries",
        "operators.regrid", "plans.engine"),
    "corpus_takedown": (
        "session", "sources.tables", "operators.dedup",
        "operators.similarity", "plans.engine", "plans.takedown"),
}


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_traced_run_attributes_every_job_to_its_layers(workload):
    p = _run(REPO, "--workload", workload, "--seed", "3",
             "--seconds", "1", "--trace", "1")
    assert p.returncode == 0, p.stderr[-2000:]
    context_line, last_line = p.stdout.strip().splitlines()[-2:]
    ctx = json.loads(context_line)["context"]
    out = json.loads(last_line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert ctx["unattributed_jobs"] == 0
    assert list(out["metrics"]) == [n for n, _ in
                                    trace.per_layer_metric_names()]
    m = out["metrics"]
    for layer in LAYERS[workload]:
        assert m[f"{layer}.calls"]["value"] > 0, layer
        assert m[f"{layer}.jobs"]["value"] > 0, layer


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "--workload", "corpus_takedown", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
