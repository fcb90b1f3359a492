"""End-to-end runs of the benchmark command (each takes about a minute).

Checks that the printed metric names and units are exactly the ones
BENCHMARK.json declares, and that the traced run's execution counts
repeat exactly for the same seed.
"""

import json
import os
import subprocess
import sys

import pytest
from conftest import ROOT

WORKLOAD = "corpus_interactive"
SEED = 5


def _run(trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOAD, "--seed", str(SEED), "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    assert out.returncode == 0
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


@pytest.fixture(scope="module")
def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def traced_twice():
    return _run(1), _run(1)


def _names_units(metrics: dict) -> dict:
    return {k: v["unit"] for k, v in metrics.items()}


def test_end_to_end_metrics_match_benchmark_json(declared):
    got = _run(0)["metrics"]
    assert _names_units(got) == {m["name"]: m["unit"] for m in declared["end_to_end"]}
    assert all(v["value"] > 0 for v in got.values())


def test_per_layer_metrics_match_benchmark_json(declared, traced_twice):
    for result in traced_twice:
        assert _names_units(result["metrics"]) == {m["name"]: m["unit"] for m in declared["per_layer"]}


def test_traced_exec_counts_repeat_for_same_seed(traced_twice):
    a, b = (r["metrics"] for r in traced_twice)
    for name in ("exec.tasks", "exec.shuffle_write_bytes"):
        assert a[name]["value"] == b[name]["value"], name
        assert a[name]["value"] > 0, name
