"""A10 — merge-apply sink (upsert/delete), consuming the diff stream.

Reference: ``SynchronizeAfterMerge`` — insert where flag=new, update where
changed, delete where deleted, against PostgreSQL with per-key lookups
(sqlserver2pgsql.pl:4628-4660, wiring :1116-1153).

Spark-first re-expressions:
- ``apply_diff``: the *relational* equivalent — the post-merge table state is
  just a projection+filter of the diff output (keep everything except
  ``deleted``). That state holds exactly the source's rows with their
  source-side values, so a file target (parquet) that is rewritten whole
  needs no diff: ``plans/transfer.py`` writes the cleansed source to it
  directly. ``apply_diff`` serves q07 and the tests.
- ``merge_sql``: generates the ANSI ``MERGE INTO`` statement for JDBC
  targets (PG 15+), replacing the reference's per-row synchronize step with
  one set-based statement executed after staging the diff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog.identifiers import pg_quote
from .diff import DIFF_FLAG_COL, FLAG_DELETED


def apply_diff(diffed: DataFrame, flag_col: str = DIFF_FLAG_COL) -> DataFrame:
    """Materialize the post-sync table state from a diff stream."""
    return diffed.filter(F.col(flag_col) != FLAG_DELETED).drop(flag_col)


def merge_sql(
    target_table: str,
    staging_table: str,
    keys: list[str],
    value_cols: list[str],
    flag_col: str = DIFF_FLAG_COL,
) -> str:
    """ANSI MERGE statement applying a staged diff to a JDBC target.

    Set-based replacement for the reference's row-at-a-time
    SynchronizeAfterMerge (commit interval 100, sqlserver2pgsql.pl:4650).
    Column names are double-quoted as emit_pg creates them; the table
    names are used as given, so they may be schema-qualified.
    """
    keys, value_cols = [pg_quote(k) for k in keys], [pg_quote(c) for c in value_cols]
    flag = f"s.{pg_quote(flag_col)}"
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    set_clause = ", ".join(f"{c} = s.{c}" for c in value_cols)
    all_cols = ", ".join(keys + value_cols)
    src_cols = ", ".join(f"s.{c}" for c in keys + value_cols)
    return (
        f"MERGE INTO {target_table} t USING {staging_table} s ON {on} "
        f"WHEN MATCHED AND {flag} = 'deleted' THEN DELETE "
        f"WHEN MATCHED AND {flag} = 'changed' THEN UPDATE SET {set_clause} "
        f"WHEN NOT MATCHED AND {flag} = 'new' THEN INSERT ({all_cols}) VALUES ({src_cols})"
    )
