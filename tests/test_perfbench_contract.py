"""The benchmark's Spark-free kernel harness (`perfbench/kernel.py`) calls
five program functions by module path and leading parameter names. Its
self-test checks those signatures and that the harness still reproduces
the ground truth, so running it here makes a renamed or re-signatured
kernel function fail the test suite, not only a traced benchmark run."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_perfbench_selftest_passes():
    proc = subprocess.run(
        [sys.executable, "perfbench/selftest.py"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
