"""Static Spark-vs-DuckDB output-type parity scan for every registered query.

Applies ``compare.type_problems`` (column-set drift, float-vs-int, DECIMAL
on either side, any HUGEINT oracle column) to each query with an oracle.
No rows run: DuckDB bind types on the SQL side, ``df.dtypes`` on the Spark
side (streaming queries do replay their small input while they build).

Usage:  python scripts/lint_type_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from sqlserver2pgsql_spark.compare import bind_types, duck_views, type_problems
    from sqlserver2pgsql_spark.session import get_spark

    spark = get_spark("lint_type_parity")
    con = duck_views(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    bad: list[str] = []
    checked = 0
    for name in sorted(qs):
        if (only and name not in only) or name not in oracles:
            continue
        checked += 1
        try:
            sdt = dict(qs[name](spark, sf_dir).dtypes)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark plan error: {e}")
            bad.append(name)
            continue
        try:
            odt = bind_types(con, oracles[name])
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle bind error: {e}")
            bad.append(name)
            continue
        problems = type_problems(odt, sdt)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            bad.append(name)

    print(f"\n{checked - len(bad)}/{checked} oracle-paired queries type-parity clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
