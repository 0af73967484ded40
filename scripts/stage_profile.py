"""Stage-level decomposition of a query's wall time (guide §1 / §7.1).

The UI is disabled in this sandbox, so per-stage timing comes from the Spark
event log: run the query with ``spark.eventLog.enabled=true``, then parse the
JSON event log for job/stage submission+completion times, shuffle bytes and
task counts. Reports, per warm pass: every stage's wall time, its name (the
call site), task count and shuffle read/write — and the GAPS between stages
(driver/AQE planning time), which job-level numbers hide.

Usage:
    python scripts/stage_profile.py [--sf SF_DIR] [--passes N] query [query ...]

``--passes N`` runs one warmup pass plus N measured passes (N+1 total),
each through ``measure.run_pass``; the report covers the LAST pass only.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from sqlserver2pgsql_spark.measure import run_pass  # noqa: E402
from sqlserver2pgsql_spark.session import get_spark  # noqa: E402

EVDIR = "/tmp/spark_graft_eventlog"


def _open_eventlog(path: str):
    """Event log lines; handles Spark 4 rolling dirs (eventlog_v2_<app>/
    events_*.zstd) and plain files, compressed or not."""
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "events_*")))
        for p in parts:
            yield from _open_eventlog(p)
        return
    if path.endswith(".zstd"):
        import subprocess

        out = subprocess.run(
            ["zstd", "-dc", path], capture_output=True, check=True
        ).stdout
        yield from out.decode("utf-8", "replace").splitlines()
    else:
        with open(path) as fh:
            yield from fh


def parse_eventlog(path: str, t_lo: float, t_hi: float) -> list[dict]:
    """Stages whose [submission, completion] interval OVERLAPS [t_lo, t_hi]
    (epoch millis) — a stage submitted before the window but finishing
    inside it still contributes covered time (clipped in the coverage
    loop), instead of being misattributed to driver/AQE gaps."""
    stages = []
    if True:
        for line in _open_eventlog(path):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") != "SparkListenerStageCompleted":
                continue
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            if sub is None or comp is None or comp < t_lo or sub > t_hi:
                continue
            sr = sw = 0
            for acc in si.get("Accumulables", []):
                if acc.get("Name") in (
                    "internal.metrics.shuffle.read.remoteBytesRead",
                    "internal.metrics.shuffle.read.localBytesRead",
                    "internal.metrics.shuffle.read.remoteBytesReadToDisk",
                ):
                    sr += int(acc.get("Value", 0))
                if acc.get("Name") == "internal.metrics.shuffle.write.bytesWritten":
                    sw = int(acc.get("Value", 0))
            stages.append(
                {
                    "id": si["Stage ID"],
                    "name": si.get("Stage Name", "?"),
                    "sub": sub,
                    "comp": comp,
                    "ms": comp - sub,
                    "tasks": si.get("Number of Tasks", 0),
                    "shuf_r": sr,
                    "shuf_w": sw,
                }
            )
    stages.sort(key=lambda s: s["sub"])
    return stages


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--top", type=int, default=30)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    os.makedirs(EVDIR, exist_ok=True)
    spark = get_spark(
        "stage_profile",
        {"spark.eventLog.enabled": "true", "spark.eventLog.dir": EVDIR},
    )
    sc = spark.sparkContext
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()
    qs = entrymod.queries()
    app_id = sc.applicationId

    for name in args.queries:
        fn = qs[name]
        for _ in range(args.passes + 1):
            last = run_pass(spark, fn, args.sf, name)

        # flush the event log
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        logs = glob.glob(os.path.join(EVDIR, f"*{app_id}*"))
        if not logs:
            sys.exit(f"no event log under {EVDIR}")
        path = max(logs, key=os.path.getmtime)

        # report the LAST pass (steady state)
        wall, build = last.wall_s, last.build_s
        t_lo = last.started * 1000
        t_hi = t_lo + wall * 1000
        stages = parse_eventlog(path, t_lo, t_hi)
        stage_sum = sum(s["ms"] for s in stages) / 1000.0
        # serialized (gap) view: time not covered by any stage = driver/AQE
        covered = 0.0
        cursor = t_lo
        for s in stages:
            # clip each stage interval to the pass window (stage clocks are
            # JVM-side, the window is Python-side; clamping also keeps a
            # stage that outlives t_hi from driving gaps negative)
            lo = max(s["sub"], cursor)
            hi = min(max(s["comp"], cursor), t_hi)
            if hi > cursor:
                covered += hi - max(lo, cursor)
                cursor = hi
        gaps = max(0.0, (t_hi - t_lo - covered) / 1000.0)
        print(f"\n=== {name}: wall={wall:.2f}s build={build:.2f}s "
              f"jobs={last.jobs} stages={len(stages)} stage_wall_sum={stage_sum:.2f}s "
              f"uncovered(driver/AQE gaps)={gaps:.2f}s ===")
        for s in sorted(stages, key=lambda s: -s["ms"])[: args.top]:
            nm = s["name"].split("\n")[0][:80]
            print(f"  {s['ms']/1000:6.2f}s tasks={s['tasks']:4d} "
                  f"shufR={s['shuf_r']/1e6:7.1f}MB shufW={s['shuf_w']/1e6:7.1f}MB  {nm}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
