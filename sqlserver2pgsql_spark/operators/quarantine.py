"""Error-tolerant load path — validate + quarantine.

The reference's ``-ignore_errors`` flips the Kettle insert step to row-by-row
("much slower", sqlserver2pgsql.pl:1031-1035, README.md:916-918) so bad rows
fail individually. Spark-first: bad rows are *classified by a predicate set
up front* (the catalog's validation rules) and split into a clean stream and
a quarantine stream — batched writes stay batched, nothing slows down, and
the rejects are inspectable instead of lost in a JDBC error log.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog.model import Table

REASON_COL = "__reject_reason__"


def validation_predicates(table: Table) -> dict[str, Column]:
    """Named row-level predicates from catalog metadata: NOT NULL columns and
    length checks (the rules a PG sink would enforce with constraints)."""
    preds: dict[str, Column] = {}
    for c in table.ordered_columns():
        if c.computed_expr is not None:
            continue
        if not c.nullable:
            preds[f"{c.name}_not_null"] = F.col(c.name).isNotNull()
        for i, expr in enumerate(c.check_exprs):
            preds[f"{c.name}_check{i}"] = F.coalesce(F.expr(expr), F.lit(True))
    for ck in table.checks:
        if (sql := ck.expr.sql("spark")) is not None:
            preds[ck.name or "check"] = F.coalesce(F.expr(sql), F.lit(True))
    return preds


def split_valid_invalid(
    df: DataFrame, preds: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) — quarantined rows carry the names of every
    failed predicate in ``__reject_reason__``."""
    if not preds:
        return df, df.limit(0).withColumn(REASON_COL, F.lit(None).cast("string"))
    reasons = F.array_compact(
        F.array(
            *[F.when(~p, F.lit(name)).otherwise(F.lit(None)) for name, p in preds.items()]
        )
    )
    tagged = df.withColumn(REASON_COL, F.array_join(reasons, ","))
    clean = tagged.filter(F.col(REASON_COL) == "").drop(REASON_COL)
    bad = tagged.filter(F.col(REASON_COL) != "")
    return clean, bad
