"""Import-level smoke test for the pass-runner-backed entry points: each
parses its arguments before it starts Spark, so ``--help`` (and importing
``bench``) catches a broken import without starting a session."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "script", ["profile_query.py", "stage_profile.py", "scale_query_probe.py"]
)
def test_script_help(script):
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", script), "--help"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr


def test_bench_imports():
    import bench

    assert callable(bench.main)
