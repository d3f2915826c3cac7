"""Smoke test of the benchmark: every workload at a tiny size (corpus
sf0.001, a 500-row table, 20k cells), untraced and traced. Each run
must exit 0, pass every check, and print every metric BENCHMARK.json
names, with its unit, and every figure of its own.

    python -m pytest perfbench/test_smoke.py -q

About four minutes on four cores.
"""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from perfbench import metrics
from perfbench.harness import HERE, ROOT

SPEC = metrics.spec()


def test_refuses_without_the_library(tmp_path):
    """In a directory holding only the benchmark it exits non-zero
    and prints no result."""
    import shutil

    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                       timeout=60)
    assert p.returncode != 0 and not p.stdout.strip()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_clean(workload, trace):
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    *_, detail_line, result_line = p.stdout.strip().splitlines()
    result, detail = json.loads(result_line), json.loads(detail_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["problems"]
    assert result["attempted"] >= 1
    want = metrics.units(SPEC, "per_layer" if trace else "end_to_end")
    assert {k: m["unit"] for k, m in result["metrics"].items()} == want
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values()), result["metrics"]
    assert set(metrics.DETAIL[workload]) <= set(detail["end_to_end"])
    assert detail["box"]["nproc"] >= 1
