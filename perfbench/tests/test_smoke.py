"""Smoke test of the benchmark harness: every workload once, untraced
and traced, on the small input scale, with all output checks on.

    python3 -m pytest perfbench/tests -q        # from the repository root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run  # noqa: E402


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_runs_and_checks(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1, proc.stderr[-3000:]
    want = run.PER_LAYER if trace else run.END_TO_END
    assert set(line["metrics"]) == set(want)
    if trace and workload != "curate_docs":
        assert line["metrics"]["core.capture_jobs"]["value"] == 0
        assert line["metrics"]["explainers.fedex_join.jobs"]["value"] > 0
    if trace and workload == "curate_docs":
        assert line["metrics"]["functions.dedup_near.jobs"]["value"] > 0
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    assert not [d for d in os.listdir(scratch) if d.startswith("run-")]  # removed at exit


def test_refuses_to_run_without_the_library(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "curate_docs",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
