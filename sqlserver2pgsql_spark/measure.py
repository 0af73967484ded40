"""How one query pass is measured — the single pass runner behind
``bench.py``, the profiling scripts and the job-budget test, so every
number they report for a plan is taken the same way.

A pass is: release the storage blocks earlier passes left behind, build
the DataFrame (Python plan construction + analysis; loop queries also run
Spark jobs here), then write it to the noop sink (the plan executes end
to end, nothing is collected to the driver). The whole pass runs under
its own job group, so ``statusTracker`` attributes every Spark job and
stage it launched — build-time loop actions included — to that pass.
``plan_text`` is the one way a plan is read as text for counting.
"""

from __future__ import annotations

import contextlib
import gc
import io
import time
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

#: the local properties ``setJobGroup`` writes; saved and restored around
#: a pass so a caller's own job group survives it
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


class Pass(NamedTuple):
    """One measured pass. ``started`` is the epoch second the build began
    (for matching the pass against event-log timestamps)."""

    build_s: float
    execute_s: float
    jobs: int
    stages: int
    started: float

    @property
    def wall_s(self) -> float:
        return self.build_s + self.execute_s


def release_blocks(spark: SparkSession) -> None:
    """Unpersist storage blocks leaked by already-finished queries: their
    localCheckpoint blocks otherwise stay in the block manager until a JVM
    GC lets the ContextCleaner see the dead RDDs, and later queries measure
    memory pressure instead of their plans (profiled: the same query ran
    2-4x slower late in a 40-query session than fresh; a forced System.gc()
    per pass measured WORSE — the cleanup flood runs inside the next timed
    pass). No result is cached: every timed query computes from its
    inputs."""
    gc.collect()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)


def plan_text(df: DataFrame) -> str:
    """``df.explain("formatted")`` as text: the plan the audits, shuffle
    budgets and ``--explain-dir`` dumps read."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def run_pass(
    spark: SparkSession,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
    name: str,
) -> Pass:
    """Release leftover blocks, then build ``fn(spark, sf_dir)`` and write
    it to the noop sink under a fresh job group; returns the build and
    execute seconds, the Spark jobs the pass ran and the distinct stages of
    those jobs (stages skipped because an earlier job already wrote their
    shuffle are counted too; the event log in ``scripts/stage_profile.py``
    lists only the stages that ran).
    Exceptions from the query propagate; the caller's job group is
    restored either way."""
    release_blocks(spark)
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
    group = f"pass-{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        started = time.time()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    finally:
        for key, value in zip(_GROUP_PROPS, saved):
            sc.setLocalProperty(key, value)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for job in jobs:
        info = st.getJobInfo(job)
        if info is not None:
            stages.update(info.stageIds)
    return Pass(t1 - t0, t2 - t1, len(jobs), len(stages), started)
