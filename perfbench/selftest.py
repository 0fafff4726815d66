"""Self-tests of the benchmark harness.

Run from the repository root (a few minutes on 4 cores):

    python3 -m pytest perfbench/selftest.py -q -p no:cacheprovider

The file is not named ``test_*.py``, so a plain ``pytest`` from the root
does not collect it: each test starts JVMs for minutes. Every run of the
harness happens in a process of its own, so the pytest process's
environment and imported modules stay as they were.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def test_cold_samples():
    """Two samples in a row of keys whose cold cost a cross-sample cache
    would hide: the second must not drop under half the first. A cached
    triangle census or trained codebook makes it 10-150x faster."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "coldprobe.py")],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    walls = json.loads(proc.stdout.strip().splitlines()[-1])
    assert walls, "the probe ran no key"
    for key, (first, second) in walls.items():
        assert second >= 0.5 * first, f"{key}: second sample warm: {first:.2f}s, {second:.2f}s"


@pytest.mark.parametrize("workload", ["queries", "pipeline_docs"])
def test_traced_run_at_setup_scale(workload):
    """Every workload, one short traced run at sf0.001: outputs check out,
    and every per-layer and end-to-end metric is emitted."""
    import run

    proc = subprocess.run(
        [*RUN, "--workload", workload, "--seed", "1", "--seconds", "0",
         "--trace", "1", "--sf", str(run.SETUP_SF)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stdout[-2000:]
    assert set(result["metrics"]) == set(run.PER_LAYER_UNITS)
    detail_path = os.path.join(run.WORK, f"{workload}-seed1-trace1.json")
    with open(detail_path) as fh:
        detail = json.load(fh)
    assert set(detail["end_to_end"]) == set(run.E2E_UNITS)
    assert all(v > 0 for v in detail["end_to_end"].values())
    assert detail["spans"], "traced run recorded no spans"
    summary = proc.stdout.strip().splitlines()[-2]
    assert summary.startswith(f"perfbench {workload} ") and len(summary) < 600


def test_fails_without_engine():
    """In a directory with only the benchmark, it exits non-zero and
    prints no result."""
    import shutil

    import run

    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"))
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
         "queries", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
