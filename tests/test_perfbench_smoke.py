"""Runs the benchmark's own smoke test (``perfbench/smoke.py``) from
the repository root: every workload runs briefly with each op
output-checked, so a broken op on the benchmark's paths (the
``etl_roundtrip`` COPY/UNLOAD option strings among them) fails here
rather than only in a manual benchmark run."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_smoke():
    out = subprocess.run(
        [sys.executable, "perfbench/smoke.py"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-4000:]
