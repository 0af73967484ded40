"""Spark SQL text for projections built from column names.

A projection built through the Column API costs py4j round trips per
column (``F.col``, ``alias``, every operator) — 60-100 for a diff or
cleanse column — while ``selectExpr`` over SQL strings parses them all
in the JVM at about one trip per column. The strings must quote every
name, because SQL Server names carry spaces, dots and backticks.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as one backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"
