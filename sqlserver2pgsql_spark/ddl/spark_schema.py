"""Catalog → Spark: StructTypes, empty tables, views, validation plans.

The reference's endpoint is PostgreSQL DDL text; this engine's endpoint is a
live Spark session — StructType per table, computed columns as projections,
views registered in declaration order (reference @view_list, :75, :3099),
and constraints turned into validation queries (operators/constraints.py).
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog.model import Catalog, Table


def to_struct_type(table: Table) -> T.StructType:
    """Physical schema: declared columns only (computed columns are
    projections, not storage — mirrored from the reference treating them as
    formulas, :1576-1616)."""
    fields = [
        T.StructField(c.name, _parse_type(c.spark_type), c.nullable)
        for c in table.ordered_columns()
        if c.computed_expr is None
    ]
    return T.StructType(fields)


_SIMPLE_TYPES: dict[str, T.DataType] = {
    "int": T.IntegerType(),
    "smallint": T.ShortType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "string": T.StringType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
}


def _parse_type(ddl: str) -> T.DataType:
    """Pure-Python DDL-type parser for the matrix's output types (no live
    SparkSession needed, unlike T._parse_datatype_string)."""
    s = ddl.strip().lower()
    if s in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[s]
    m = re.fullmatch(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", s)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    m = re.fullmatch(r"array<struct<(.*)>>", s, re.DOTALL)
    if m:
        fields = []
        for part in m.group(1).split(","):
            name, _, ft = part.partition(":")
            fields.append(T.StructField(name.strip(), _parse_type(ft.strip()), True))
        return T.ArrayType(T.StructType(fields))
    raise ValueError(f"unsupported spark type DDL: {ddl!r}")


def with_computed_columns(df: DataFrame, table: Table) -> DataFrame:
    """Apply computed columns as projections in declaration order."""
    for c in table.ordered_columns():
        if c.computed_expr is not None:
            df = df.withColumn(c.name, F.expr(c.computed_expr))
    return df


def _table_ref_rewriter(catalog: Catalog) -> Callable[[str], str]:
    """View bodies reference ``dbo.X`` / ``schema.X``; Spark temp views are
    flat — rewrite known qualified names to the normalized table name. One
    compiled alternation per catalog: a branch per schema prefix (a name's
    own schema, and ``dbo`` for every name), longest names first."""
    canon: dict[str, str] = {}
    by_prefix: dict[str, set[str]] = {}
    for sname, schema in catalog.schemas.items():
        for t in (*schema.tables, *schema.views):
            canon.setdefault(t.lower(), t)
            for prefix in (sname, "dbo"):
                by_prefix.setdefault(prefix, set()).add(t)
    branches = [
        rf"{re.escape(prefix)}\.\[?("
        + "|".join(map(re.escape, sorted(names, key=lambda n: (-len(n), n))))
        + r")\]?"
        for prefix, names in by_prefix.items()
    ]
    pattern = re.compile(rf"\b(?:{'|'.join(branches)})\b", re.IGNORECASE)
    return lambda sql: pattern.sub(lambda m: canon[m[m.lastindex].lower()], sql)


def register_views(spark: SparkSession, catalog: Catalog) -> list[str]:
    """Create temp views in declaration order (earlier views may be
    referenced by later ones), each rendered for Spark; a view the
    translator is unsure of is skipped. Returns the names registered."""
    registered = []
    rewrite = _table_ref_rewriter(catalog)
    for sname, vname in catalog.view_order:
        view = catalog.schemas[sname].views[vname]
        if (sql := view.body.sql("spark")) is None:
            continue
        df = spark.sql(rewrite(sql))
        if view.columns and len(view.columns) == len(df.columns):
            # header column list applies only when arities agree — the corpus
            # contains views (V5) whose declared list is stale; PG would
            # reject those too (hence the reference's 'unsure' routing), we
            # keep the body's own aliases instead
            df = df.toDF(*view.columns)
        df.createOrReplaceTempView(vname)
        registered.append(vname)
    return registered


def validation_plan(table: Table) -> list[tuple[str, str, dict]]:
    """Constraint-validation work list: (kind, name, spec) triples the runner
    feeds to operators/constraints.py — the Spark analog of
    validate_constraints=yes/after (reference :2950-2959)."""
    plan: list[tuple[str, str, dict]] = []
    if table.primary_key:
        plan.append(("pk", table.primary_key.name or "pk", {"keys": table.primary_key.cols}))
    for u in table.uniques:
        plan.append(("unique", u.name or "unique", {"cols": u.cols}))
    for fk in table.foreign_keys:
        plan.append(
            (
                "fk",
                fk.name or "fk",
                {
                    "cols": fk.cols,
                    "ref_schema": fk.ref_schema,
                    "ref_table": fk.ref_table,
                    "ref_cols": fk.ref_cols,
                },
            )
        )
    for ck in table.checks:
        if (sql := ck.expr.sql("spark")) is not None:
            plan.append(("check", ck.name or "check", {"expr": sql}))
    for c in table.ordered_columns():
        for expr in c.check_exprs:
            plan.append(("check", f"{c.name}_len", {"expr": expr}))
    return plan
