"""A9 — diff / changed-rows detector (the reference's flagship dataflow).

Reference: ``MergeRows (diff)`` — a full outer merge-join of the reference
stream (already-loaded PG table) against the compare stream (live MSSQL
table) on the PK, comparing every column and tagging each row
``identical | new | changed | deleted`` (sqlserver2pgsql.pl:4662-4689, key and
value wiring :1106-1153). Kettle needs both inputs externally sorted first
(A7/A8); Spark does not — a full outer *hash/sort-merge* join on the PK is the
same logical operator and Catalyst picks the physical strategy.

Scale notes (100 TB):
- one shuffle on the PK for each side, no pre-sort needed. PKs are unique so
  the join is skew-free by construction; AQE skew-join covers pathological
  layouts.
- NULL semantics: the reference *refuses to run* unless Kettle is configured
  so empty string != NULL (check_kettle_properties, :773-802). We honor the
  same contract with null-safe equality (``<=>`` / IS NOT DISTINCT FROM).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sqltext import ident

DIFF_FLAG_COL = "__changed__"

FLAG_IDENTICAL = "identical"
FLAG_NEW = "new"
FLAG_CHANGED = "changed"
FLAG_DELETED = "deleted"

_S_PRESENT = "__src_present__"
_T_PRESENT = "__tgt_present__"


def _all(preds: list[str]) -> str:
    return " AND ".join(f"({p})" for p in preds) or "true"


def diff(
    src: DataFrame,
    tgt: DataFrame,
    keys: list[str],
    flag_col: str = DIFF_FLAG_COL,
) -> DataFrame:
    """Full-outer diff of ``src`` (desired state) vs ``tgt`` (current state).

    Returns one row per logical key with the *source-side* values (target-side
    for deleted rows) plus ``flag_col`` ∈ {identical,new,changed,deleted}.
    Inputs must already be canonicalized (operators.canonicalize) — same
    contract as the reference's sql_convert_column/postgres_convert_column
    pair (sqlserver2pgsql.pl:442-484). A table whose key covers every
    column has nothing to compare: two present rows are ``identical``.

    The join condition and the output projection are SQL text, one
    ``selectExpr`` (operators.sqltext): built through the Column API they
    cost about 100 py4j round trips per column, and a sync builds one diff
    per table.
    """
    if not keys:
        raise ValueError("diff needs at least one key column")
    value_cols = [c for c in src.columns if c not in keys]

    s = src.withColumn(_S_PRESENT, F.lit(True)).alias("s")
    t = tgt.withColumn(_T_PRESENT, F.lit(True)).alias("t")
    cond = _all([f"s.{ident(k)} <=> t.{ident(k)}" for k in keys])
    joined = s.join(t, F.expr(cond), "full_outer")

    same = _all([f"s.{ident(c)} <=> t.{ident(c)}" for c in value_cols])

    in_src = f"s.{_S_PRESENT} IS NOT NULL"
    in_tgt = f"t.{_T_PRESENT} IS NOT NULL"
    flag = (
        f"CASE WHEN {in_src} AND NOT {in_tgt} THEN '{FLAG_NEW}' "
        f"WHEN NOT {in_src} AND {in_tgt} THEN '{FLAG_DELETED}' "
        f"WHEN {same} THEN '{FLAG_IDENTICAL}' "
        f"ELSE '{FLAG_CHANGED}' END"
    )
    return joined.selectExpr(
        *(f"CASE WHEN {in_src} THEN s.{ident(c)} ELSE t.{ident(c)} END AS {ident(c)}"
          for c in keys + value_cols),
        f"{flag} AS {ident(flag_col)}",
    )


def diff_counts(src: DataFrame, tgt: DataFrame, keys: list[str]) -> DataFrame:
    """Per-flag row counts — the summary a sync job reports."""
    d = diff(src, tgt, keys)
    return d.groupBy(DIFF_FLAG_COL).agg(F.count(F.lit(1)).alias("n")).orderBy(DIFF_FLAG_COL)


def diff_key_range(
    src: DataFrame,
    tgt: DataFrame,
    keys: list[str],
    lower,
    upper,
) -> DataFrame:
    """Windowed incremental diff: both sides restricted to
    ``lower <= pk < upper`` before diffing — the surviving use of the A11
    collation-safety gate (sources.jdbc.pk_sort_order_safe must hold, or the
    range means different rows on each system). At 100 TB this turns a
    full-table sync into a key-window sync, and the range predicate pushes
    into both scans."""
    k = F.col(ident(keys[0]))
    pred = (k >= F.lit(lower)) & (k < F.lit(upper))
    return diff(src.filter(pred), tgt.filter(pred), keys)
