"""The shared pass runner (``sqlserver2pgsql_spark.measure``): counts and
timings of one pass, and the block release every pass starts with."""

from __future__ import annotations

import sqlserver2pgsql_spark.queries_r4  # noqa: F401 — fills the registry
from sqlserver2pgsql_spark.measure import release_blocks, run_pass
from sqlserver2pgsql_spark.queries import QUERIES
from tests.conftest import SF_DIR


def test_run_pass_counts_and_release(spark):
    name = "q169_pointer_doubling"
    sc = spark.sparkContext
    p = run_pass(spark, QUERIES[name], SF_DIR, name)
    # the pass's job group does not outlive it
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert p.jobs > 0
    assert p.stages >= p.jobs
    assert p.build_s >= 0 and p.execute_s >= 0
    # q169 checkpoints every doubling round, so the pass leaves blocks
    # behind until the next pass releases them
    release_blocks(spark)
    assert sc._jsc.getPersistentRDDs().isEmpty()
