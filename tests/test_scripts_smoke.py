"""Import-level smoke test for the pass-runner-backed entry points: each
parses its arguments before it starts Spark, so ``--help`` (and importing
``bench``) catches a broken import without starting a session. Also pins
the one oracle comparator on the benchmark's query-check path."""

from __future__ import annotations

import importlib.util
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


def test_check_correctness_normalizes_with_compare():
    """``perfbench/workloads.py`` loads ``check_correctness.py`` by file
    path and normalizes its query results with the script's ``_normalize``:
    load it the same way and check that is the shared comparator's."""
    from sqlserver2pgsql_spark import compare

    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(REPO, "scripts", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod._normalize is compare.normalize
