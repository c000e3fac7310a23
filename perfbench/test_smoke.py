"""Smoke test: every workload at a tiny size, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each run must pass its output check and print, by name and unit, every
metric BENCHMARK.json lists for its mode.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric_and_passes_its_check(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0.1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 2
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)), (m["name"], got)
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in spec)


def test_generator_is_deterministic():
    """The same seed gives byte-identical input files."""
    import shutil

    import gen

    base = os.path.join(ROOT, ".perfbench", "smoke-gen")
    shutil.rmtree(base, ignore_errors=True)
    try:
        for run in ("a", "b"):
            for w in WORKLOADS:
                gen.generate(w, 11, 0.02, os.path.join(base, run, w))
        for w in WORKLOADS:
            names = sorted(p for p in os.listdir(os.path.join(base, "a", w)) if p.endswith(".parquet"))
            assert names
            for name in names:
                with open(os.path.join(base, "a", w, name), "rb") as fa, open(os.path.join(base, "b", w, name), "rb") as fb:
                    assert fa.read() == fb.read(), (w, name)
    finally:
        shutil.rmtree(base, ignore_errors=True)
