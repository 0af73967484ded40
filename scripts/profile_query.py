"""Per-query profiling harness for optimization rounds (guide §1).

For each named query: run 1 cold + N warm passes through
``measure.run_pass`` and print the warm wall times, the median warm pass's
split into DataFrame BUILD (Python plan construction + analysis; loop
queries run Spark jobs here too) and EXECUTION (noop write), and its Spark
job and stage counts; optionally dump .explain('formatted') to a file.
A closing line totals the build/execute split over all named queries.

Usage:
    python scripts/profile_query.py [--sf SF_DIR] [--passes N]
        [--explain-dir DIR] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from sqlserver2pgsql_spark.measure import plan_text, run_pass  # noqa: E402
from sqlserver2pgsql_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    qs = entrymod.queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark("profile")
    total_build = total_exec = 0.0
    for name in args.queries:
        fn = qs[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan_text(fn(spark, args.sf)))
        cold, *warm = [run_pass(spark, fn, args.sf, name) for _ in range(args.passes + 1)]
        med = sorted(warm, key=lambda p: p.wall_s)[len(warm) // 2]
        total_build += med.build_s
        total_exec += med.execute_s
        print(
            f"{name:42s} cold={cold.wall_s:6.2f}s warm="
            + "/".join(f"{p.wall_s:.2f}" for p in warm)
            + f"  min={min(p.wall_s for p in warm):.2f} med={med.wall_s:.2f}"
            + f"  build={med.build_s:.3f} exec={med.execute_s:.3f}"
            + f"  jobs={med.jobs} stages={med.stages}",
            flush=True,
        )
    total = total_build + total_exec
    print(f"TOTAL over {len(args.queries)} queries (median warm passes): "
          f"build={total_build:.2f}s exec={total_exec:.2f}s "
          f"(build share {100 * total_build / max(total, 1e-9):.0f}%)")


if __name__ == "__main__":
    main()
