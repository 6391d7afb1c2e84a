"""Smoke tests: each workload runs end to end on sf0.001 inputs, untraced
and traced, and every output check passes.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=os.path.dirname(HERE),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _declared(kind: str) -> list[str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


@pytest.mark.parametrize("workload", ["kg_maintain", "rsp_live"])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_smoke(workload: str, trace: int):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, res
    names = _declared("per_layer" if trace else "end_to_end")
    assert sorted(res["metrics"]) == sorted(names)
    for m in res["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]
