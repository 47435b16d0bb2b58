"""Smoke test: every workload at the small input size (1k events, 500
documents, 20k tokens rows), untraced and traced. Each run must print the
metric set BENCHMARK.json declares for its mode, with the declared units,
and fail nothing.

Run from the repository root (several minutes on 4 cores):

    python3 -m pytest perfbench/tests/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_small_run_prints_every_metric(workload, trace, tmp_path):
    cmd = [
        sys.executable, os.path.join(REPO, "perfbench", "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--size", "small",
    ]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"], p.stderr[-3000:]
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    if trace:
        assert result["metrics"]["failed_frac"]["value"] == 0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
