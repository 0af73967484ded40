"""Spans for the traced run.

A span records name, start, end, parent and operation id. Spans are opened
from the benchmark's own files around calls into the program's public
functions; nothing inside the program is instrumented. With a Spark session,
each span runs its jobs under a job group of its own, so the job, stage and
task counts ``statusTracker`` reports for that group belong to the span
itself (not to its children). Shuffle and output bytes, and the time no stage
covers, come from the Spark event log after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time

_GROUP_KEY = "spark.jobGroup.id"


@contextlib.contextmanager
def no_span(span_name: str, **_kw):
    yield


class Tracer:
    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, span_name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": span_name,
               "parent": parent["id"] if parent else None,
               "op": self.op_id, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            rec["group"] = f"perfbench-span-{rec['id']}"
            sc.setLocalProperty(_GROUP_KEY, rec["group"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty(_GROUP_KEY, parent["group"] if parent else None)
                self._count_jobs(rec)

    def _count_jobs(self, rec: dict) -> None:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(rec["group"])
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                sinfo = st.getStageInfo(s)
                stages += 1
                tasks += sinfo.numTasks if sinfo else 0
        rec.update(jobs=len(jobs), stages=stages, tasks=tasks)


@contextlib.contextmanager
def patched(patches: list[tuple[object, str, object]]):
    """Temporarily replace attributes: ``(owner, name, wrapper_factory)``
    where the factory receives the original and returns the replacement."""
    saved = []
    try:
        for owner, name, factory in patches:
            orig = getattr(owner, name)
            saved.append((owner, name, orig))
            setattr(owner, name, factory(orig))
        yield
    finally:
        for owner, name, orig in reversed(saved):
            setattr(owner, name, orig)


def spanning(tracer: Tracer, name: str):
    """Wrapper factory for ``patched``: run the original inside a span."""
    def factory(orig):
        def wrapper(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)
        return wrapper
    return factory


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

def read_event_log(events_dir: str) -> dict:
    """Tasks and stages of the (single) application in ``events_dir``:
    ``tasks``: (launch_s, shuffle_read, shuffle_write, output_bytes, cpu_s,
    stage_id), ``stages``: (submitted_s, completed_s), ``jobs``: submission
    times."""
    tasks, stages, jobs = [], [], []
    for path in glob.glob(f"{events_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    tasks.append((
                        ev["Task Info"]["Launch Time"] / 1000.0,
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        sw.get("Shuffle Bytes Written", 0),
                        out.get("Bytes Written", 0),
                        m.get("Executor CPU Time", 0) / 1e9,
                        ev["Stage ID"],
                    ))
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if si.get("Submission Time") and si.get("Completion Time"):
                        stages.append((si["Submission Time"] / 1000.0,
                                       si["Completion Time"] / 1000.0))
                elif kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
    return {"tasks": tasks, "stages": stages, "jobs": jobs}


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def log_counters(log: dict, ops: list[tuple[float, float]]) -> dict:
    """Event-log counters of the tasks launched inside the operations'
    windows ``ops``, plus the driver gap: time inside them that no stage
    covers."""
    t = [x for x in log["tasks"] if any(a <= x[0] <= b for a, b in ops)]
    return {
        "shuffle.read_bytes": float(sum(x[1] for x in t)),
        "shuffle.write_bytes": float(sum(x[2] for x in t)),
        "sink.bytes_written": float(sum(x[3] for x in t)),
        "executor.cpu_s": sum(x[4] for x in t),
        "driver.gap_s": sum((b - a) - covered(log["stages"], a, b) for a, b in ops),
        "shuffle_write_stages": len({x[5] for x in t if x[2] > 0}),
    }
