"""Benchmark runner — the driver's per-round feedback loop.

Runs every registered query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is fully materialized via the noop sink (plan executes end-to-end,
nothing is collected to the driver — the 100 TB discipline even in a bench),
one ``measure.run_pass`` per query per pass.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from sqlserver2pgsql_spark.measure import run_pass
from sqlserver2pgsql_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    # warm the JVM + parquet footers so per-query numbers measure the queries
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    #: per-query (jobs, stages) of every measured warm pass
    counts: dict[str, list[tuple[int, int]]] = {}

    def run_all(record: bool = False) -> dict[str, float]:
        timings: dict[str, float] = {}
        for name, fn in sorted(entrymod.queries().items()):
            try:
                p = run_pass(spark, fn, sf_dir, name)
            except Exception as e:  # noqa: BLE001
                print(f"bench: {name} failed: {e}", file=sys.stderr)
                timings[name] = -1.0
                continue
            timings[name] = round(p.wall_s, 3)
            if record:
                counts.setdefault(name, []).append((p.jobs, p.stages))
        return timings

    cold = run_all()  # pass 1: includes JVM/codegen compilation
    # pass 2: DISCARDED settling pass. One cold pass is not enough to reach
    # steady state — JIT tiering, shuffle-service buffers, and broadcast
    # caches keep settling into the second pass, so loop-heavy queries
    # recorded monotonically decreasing warm passes (q254: 8.64/5.09/2.07s;
    # the median reported warm-up, not the plan — VERDICT r5 #2). Burn one
    # full pass so the 3 measured passes start from steady state.
    warmup = run_all()
    # passes 3-5: steady state. Report the per-query MEDIAN of 3 warm passes
    # so a single sandbox-contended run can't distort the round signal
    # (round-2 lesson: one contended pass recorded q21 at 19.4s vs 1.2s real).
    warm_passes = []
    for _ in range(3):
        warm_passes.append(run_all(record=True))

    def median3(name: str) -> float:
        vals = sorted(p[name] for p in warm_passes)
        return vals[1]

    warm = {name: median3(name) for name in warm_passes[0]}
    # jobs/stages of each query's measured passes (median): a plan or loop
    # regression shows up here without any timing
    warm_counts = {
        name: {
            "jobs": sorted(j for j, _ in c)[len(c) // 2],
            "stages": sorted(s for _, s in c)[len(c) // 2],
        }
        for name, c in sorted(counts.items())
    }
    total = round(sum(v for v in warm.values() if v >= 0), 3)
    cold_total = round(sum(v for v in cold.values() if v >= 0), 3)
    # min-of-warm: jitter-free floor for round-over-round comparison — a
    # multi-second contended outlier moves the median but not the min
    # (VERDICT r4 perf §: q24 warm passes 1.6/6.0/3.9s were jitter, not plan).
    # Only non-negative passes count: a query that fails in exactly one warm
    # pass records -1.0 there, and taking the raw min would both deflate
    # min_warm_total and hide the intermittent failure (ADVICE r5).
    def min_nonneg(name: str) -> float:
        ok = [p[name] for p in warm_passes if p[name] >= 0]
        return min(ok) if ok else -1.0

    min_warm = {name: min_nonneg(name) for name in warm_passes[0]}
    min_warm_total = round(sum(v for v in min_warm.values() if v >= 0), 3)
    # A failed query records -1.0 and sorts LAST in the slowest-40 stdout cap,
    # so without an explicit count a non-green bench prints a clean-looking
    # line (ADVICE r4) — surface failures first-class in the one-line result.
    # A negative value in ANY pass (cold, discarded warm-up, or any measured
    # warm pass) marks the query failed: an intermittent failure must not
    # escape just because the median of the surviving passes is positive.
    failed = sorted(
        name for name in warm_passes[0]
        if cold[name] < 0
        or warmup[name] < 0
        or any(p[name] < 0 for p in warm_passes)
    )
    # Full per-pass detail goes to a sidecar file; the stdout line must stay
    # SMALL — round 3's embedded warm_passes overflowed the driver's tail
    # capture and BENCH_r03 recorded `parsed: null` (VERDICT r3, What's wrong #1).
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_detail.json")
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "cold": cold,
                "warmup_discarded": warmup,
                "warm_median": warm,
                "warm_min": min_warm,
                "warm_passes": warm_passes,
                "warm_counts": warm_counts,
                "failed": failed,
                "sf": sf,
            },
            fh,
            indent=1,
        )
    # 400 queries x ~33 bytes/entry = ~13 KB — the same size that overflowed
    # the driver's capture in round 3. Keep only the slowest 40 in the stdout
    # line (~1.7 KB, the r2 size that parsed); the full per-query map and all
    # passes live in BENCH_detail.json.
    slowest = dict(sorted(warm.items(), key=lambda kv: -kv[1])[:40])
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(warm),
                "sf": sf,
                "methodology": "per-query median of 3 warm passes (after one cold + one discarded settling pass) over all registered queries; stdout lists the slowest 40; full per-query map in BENCH_detail.json",
                "cold_total_sec": cold_total,
                "min_warm_total_sec": min_warm_total,
                "n_failed": len(failed),
                "failed": failed[:20],
            }
        )
    )


if __name__ == "__main__":
    main()
