"""Smoke test: every workload end to end on tiny inputs, untraced and
traced, launched from outside the repository.

    python -m pytest perfbench/tests -q

Each case runs `perfbench/run.py --tiny` in a subprocess (about half a
minute each: a Spark session per run) and checks the result line: outputs
correct, and every metric BENCHMARK.json names for that mode present,
finite and carrying its unit.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("trace", [0, 1])
# consumer_live is runnable but not in BENCHMARK.json (see README.md)
@pytest.mark.parametrize("workload", [*(w["name"] for w in SPEC["workloads"]), "consumer_live"])
def test_workload_end_to_end(workload, trace, tmp_path):
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])
