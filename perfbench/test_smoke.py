"""Smoke check of the benchmark harness at minimal size.

    python -m pytest perfbench/test_smoke.py -q

Runs each workload with --tiny, untraced and traced, and asserts that the
last stdout line names every end-to-end / per-layer metric of
BENCHMARK.json with its unit, that the outputs checked out, and that two
runs of one seed hash the curation stages identically. Also checks that
the command refuses to run without the engine's source next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)


def _run(cwd: str, workload: str, seed: int, trace: int, tiny: bool = True):
    cmd = [*BENCH["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace)] + (["--tiny"] if tiny else [])
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(lines[-2].removeprefix("detail "))
    return json.loads(lines[-1]), detail


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_reported_with_its_unit(workload, trace):
    out, detail = _result(_run(ROOT, workload, 7, trace))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, detail["failures"]
    assert out["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace:
        assert detail["per_layer"], "traced run printed no layer figures"


def test_curate_hashes_are_stable_across_runs():
    _, a = _result(_run(ROOT, "curate", 3, 0))
    _, b = _result(_run(ROOT, "curate", 3, 0))
    assert a["stage_hashes"] == b["stage_hashes"]


def test_refuses_without_engine_source(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    proc = _run(str(tmp_path), "serve", 1, 0, tiny=False)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
