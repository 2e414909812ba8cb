"""Tiny-size smoke runs of every workload, untraced and traced, through
the same command line the benchmark is driven with."""

import json
import os
import subprocess
import sys

import pytest

from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench(key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[key]]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_is_correct_and_complete(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2  # the final check + at least one request
    names = _bench("per_layer" if trace else "end_to_end")
    assert list(result["metrics"]) == names
    # every end-to-end metric, and every layer the workload runs, is measured
    measured = names if not trace else WORKLOADS[workload].layers
    assert all(result["metrics"][name]["value"] > 0 for name in measured)
    assert not os.listdir(os.path.join(ROOT, ".perfbench", "work"))
