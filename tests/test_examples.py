"""The runnable example must keep working (it is the switch-over guide for
users of the reference)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _env() -> dict:
    """Subprocess env: 4 cores and a heap that fits beside the test
    session's own JVM (see conftest.TEST_DRIVER_MEMORY)."""
    return {**os.environ, "SPARK_GRAFT_CPUS": "4",
            "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "4g")}


def test_model_workflow_example_runs(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("example_wh"))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "model_workflow.py"), wh],
        capture_output=True, text=True, timeout=300,
        env=_env(),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    for marker in ("step 1", "step 2", "step 3", "step 4a dense",
                   "step 4b sparse", "step 4c hybrid"):
        assert marker in out.stdout


def test_tenant_setup_example_runs(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("example_wh2"))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "tenant_setup.py"), wh],
        capture_output=True, text=True, timeout=300,
        env=_env(),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "schema_exists=True" in out.stdout
    assert "acme document 0" in out.stdout and "globex document 0" in out.stdout


def test_quantized_index_example_runs(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("example_wh3"))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "quantized_index.py"), wh],
        capture_output=True, text=True, timeout=300,
        env=_env(),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "IVF_SQ8: top hit 'needle'" in out.stdout
    assert "IVF_PQ: top hit 'needle'" in out.stdout


def test_batched_retrieval_example_runs(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("example_wh4"))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "batched_retrieval.py"), wh],
        capture_output=True, text=True, timeout=300,
        env=_env(),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "auto ids 0..5" in out.stdout
    for marker in ("step 3: batched dense", "step 4: batched BM25",
                   "step 5: batched hybrid RRF"):
        assert marker in out.stdout
    # every block qid came back
    assert "qid=2 rank=1" in out.stdout


def test_pretraining_pipeline_example_runs():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", "pretraining_pipeline.py"),
         "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=600,
        env=_env(),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "input=500" in out.stdout and "mixed=" in out.stdout
    # the funnel must actually filter at each gated stage
    import re
    counts = {k: int(v) for k, v in re.findall(r"(\w[\w-]*)=(\d+)", out.stdout)}
    assert counts["input"] > counts["url-curated"] > counts["quality"] > 0
    assert counts["mixed"] > 0
