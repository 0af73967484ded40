"""Canonicalize-before-diff contract.

The reference renders values to *identical strings on both sides* before its
MergeRows diff so that cross-system representation quirks don't produce false
"changed" rows: uuid lower-cased, date/datetimeoffset rendered to fixed
formats (MSSQL side sql_convert_column, sqlserver2pgsql.pl:442-460; PG side
postgres_convert_column, :467-484).

Spark-first: we do NOT stringify — both sides pass through the same typed
normalizer, which is strictly stronger (typed comparison + explicit UTC
normalization) and keeps columns codegen-friendly. Stringified canonical forms
are still available (``as_strings=True``) for sinks that need the reference's
exact wire format.

SURVEY.md §3.3 calls this "the subtlest correctness contract in the whole
reference": both diff inputs must run through THIS function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _canonical_col(
    field: T.StructField, uuid_cols: set[str], ci_cols: set[str], as_strings: bool
) -> Column:
    c = F.col(field.name)
    dt = field.dataType
    if field.name in (uuid_cols | ci_cols) and isinstance(dt, T.StringType):
        # uuid (:446,:471) and case-insensitive/citext columns (:386-418)
        # compare lower-cased
        return F.lower(c).alias(field.name)
    if isinstance(dt, T.StringType):
        return c.alias(field.name)
    if as_strings:
        # the reference's wire format: date → 'YYYY-MM-DD' (:451, :472),
        # timestamp → UTC 'YYYY-MM-DD HH:MM:SS.US+00' (:473-475)
        if isinstance(dt, T.DateType):
            return F.date_format(c, "yyyy-MM-dd").alias(field.name)
        if isinstance(dt, T.TimestampType):
            return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSSxxx").alias(field.name)
    return c.alias(field.name)


def canonicalize(
    df: DataFrame,
    uuid_cols: set[str] | frozenset[str] = frozenset(),
    ci_cols: set[str] | frozenset[str] = frozenset(),
    as_strings: bool = False,
) -> DataFrame:
    """Normalize a DataFrame so two independently sourced copies of the same
    logical table compare equal column-by-column. ``ci_cols`` marks columns
    under case-insensitive collation (the reference's citext mode,
    :386-418) — compared lower-cased."""
    return df.select(
        *[
            _canonical_col(f, set(uuid_cols), set(ci_cols), as_strings)
            for f in df.schema.fields
        ]
    )
