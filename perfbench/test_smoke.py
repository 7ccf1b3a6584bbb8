"""Smoke test of the benchmark itself: one short run of each workload,
untraced and traced. Asserts that every end-to-end and per-layer
metric is printed with its unit and that the output checks ran and
passed. Takes a few minutes; run from the repository root with

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER, WORKLOAD_NAMES  # noqa: E402


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, p.stdout[-3000:]
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_metrics_and_checks(workload, trace):
    lines, res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    expected = PER_LAYER if trace else END_TO_END
    assert set(res["metrics"]) == set(expected)
    for name, unit in expected.items():
        m = res["metrics"][name]
        assert m["unit"] == unit
        assert isinstance(m["value"], (int, float)) and m["value"] == m["value"], name
    header = next(x for x in lines if x.startswith("perfbench "))
    checks = int(re.search(r"checks=(\d+)", header).group(1))
    assert checks >= (5 if workload == "streaming" else 6)
    for name, unit in END_TO_END.items():
        assert any(x.strip().startswith(f"e2e {name} = ") and x.rstrip().endswith(unit) for x in lines)


def test_refuses_without_engine(tmp_path):
    """Outside a checkout that holds the engine it fails fast and
    prints no result."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", WORKLOAD_NAMES[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
