"""Smoke test of the benchmark itself, at its minimum input size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every workload runs and passes its correctness checks, that the
emitted metric names and units are exactly BENCHMARK.json's, that the traced
run attributes work to each layer, and that a deliberately wrong expected
triple count shows up as a failed operation. Takes several minutes: each
case starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "min", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {n: m["unit"] for n, m in out["metrics"].items()} == _units("end_to_end")
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics_of_traced_run(workload):
    trace_out = os.path.join(ROOT, ".perfbench_work", f"smoke_{workload}.json")
    out = _run(workload, 1, "--trace-out", trace_out)
    assert out["correct"]
    assert {n: m["unit"] for n, m in out["metrics"].items()} == _units("per_layer")
    value = {n: m["value"] for n, m in out["metrics"].items()}
    if workload == "build":
        busy = ["extract.html", "extract.triples", "linking", "canonicalize", "catalog"]
        assert value["linking.path_join"] == 0.0  # the broadcast path
    else:
        busy = [m["name"][: -len(".jobs")] for m in SPEC["per_layer"]
                if m["name"].startswith("queries.") and m["name"].endswith(".jobs")]
    assert all(value[f"{layer}.jobs"] > 0 for layer in busy), busy
    assert value["trace.overhead_s"] > 0
    with open(trace_out) as f:
        assert json.load(f)["spans"]


def test_wrong_expected_count_raises_fail_ratio():
    out = _run("build", 0, "--expect-offset", "1")
    assert not out["correct"]
    assert out["failed"] >= 1 and out["attempted"] > out["failed"]
