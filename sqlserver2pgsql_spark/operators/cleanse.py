"""A5 — scalar cleanse operator.

The reference's only row-level compute operator is a UserDefinedJavaClass that
strips NUL bytes (``\\x00``) from every string field, because PostgreSQL text
columns cannot store them (sqlserver2pgsql.pl:3568-3653, regex at :3597).

Spark-first re-expression: a single JVM-side projection with
``regexp_replace`` over the StringType columns — whole-stage-codegen'd, no
Python in the hot path, and column-pruned/pushdown-transparent because it is
a plain ``select``. The reference runs PARALLELISM_OUT copies of the Java
class; here parallelism is the DataFrame's partitioning, no knob needed.

The projection is SQL text in one ``selectExpr`` (operators.sqltext): the
Column API costs about 60 py4j round trips per column, SQL text about one,
and the cleanse runs once per synced table. The pattern reaches Spark as
``decode(unhex(<utf-8 hex>), 'UTF-8')``, a literal with no escapes in it,
so a session's ``spark.sql.parser.escapedStringLiterals`` cannot change it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType

from .sqltext import ident


def cleanse_strings(df: DataFrame, pattern: str = "\x00") -> DataFrame:
    """Strip ``pattern`` (default NUL byte) from every string column.

    Non-string columns pass through untouched, like the reference's
    ``instanceof String`` guard (sqlserver2pgsql.pl:3620-3630).
    """
    regex = f"decode(unhex('{pattern.encode().hex()}'), 'UTF-8')"
    return df.selectExpr(*(
        f"regexp_replace({ident(f.name)}, {regex}, '') AS {ident(f.name)}"
        if isinstance(f.dataType, StringType) else ident(f.name)
        for f in df.schema.fields
    ))
