"""Local mirror of the driver's correctness gate.

For every entry in __spark_entry__.queries(), run the Spark query and the
DuckDB oracle at the given sf dir, sort columns by name, sort rows, and
compare values exactly. Usage:

    python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from sqlserver2pgsql_spark import compare
from sqlserver2pgsql_spark.session import get_spark

#: ``perfbench/workloads.py`` loads this script by file path and normalizes
#: its query-check results with this
_normalize = compare.normalize


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("check_correctness")
    con = compare.duck_views(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures: list[str] = []
    ran = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only check, {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failures.append(name)
            continue
        err = compare.mismatch(sdf, odf)
        if err:
            print(f"FAIL  {name}: {err}")
            failures.append(name)
        else:
            print(f"ok    {name}: {len(sdf)} rows exact-match ({time.time()-t0:.1f}s)")

    print(f"\n{ran - len(failures)}/{ran} passed ({len(qs)} registered)")
    return 1 if failures or ran == 0 else 0


if __name__ == "__main__":
    raise SystemExit(main())
