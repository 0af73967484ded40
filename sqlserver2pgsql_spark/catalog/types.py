"""MSSQL → Spark and PostgreSQL type-conversion matrix.

Mirrors the reference's three-layer scheme (SURVEY.md §1.2):
1. static map (%types, sqlserver2pgsql.pl:261-288): each row names the
   Spark DDL type (SURVEY.md §1.3) and the PostgreSQL type,
2. special cases (convert_type :295-434: bit, ntext, numeric(p,0) with -num,
   sysname, geometry, sql_variant, citext mode, (max) dropping, binary
   length-checks, table-type arrays),
3. user-defined DOMAIN / TABLE types registered at parse time (:1898-1972):
   the parser swaps a domain for its base type and qualifier before it
   converts a column; a TABLE type becomes an array of struct here.

This is the package's one answer to "what does this SQL Server type
become": the DDL parser stores both targets on each column, the PostgreSQL
emitter writes ``Column.pg_type`` as it is, and the T-SQL translator reads
its CAST targets from the Spark side. Length semantics Spark can't enforce
(varchar(n), binary(n)) become check expressions, like the reference's
citext/binary CHECK constraints (:308-317, :386-418).
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: layer-1 static map: mssql base type → (Spark DDL type, PostgreSQL type).
#: decimal/numeric append their (p,s) to both; the char types append their
#: length to the PostgreSQL type, and become text with (max) or no length.
_BASE_TYPES: dict[str, tuple[str, str]] = {
    "int": ("int", "integer"),
    "integer": ("int", "integer"),
    "smallint": ("smallint", "smallint"),
    "tinyint": ("smallint", "smallint"),  # unsigned 0-255 doesn't fit byte (:269)
    "bigint": ("bigint", "bigint"),
    "decimal": ("decimal", "numeric"),
    "numeric": ("decimal", "numeric"),
    "float": ("double", "double precision"),
    "real": ("float", "real"),
    "money": ("decimal(19,4)", "numeric(19,4)"),
    "smallmoney": ("decimal(10,4)", "numeric(10,4)"),
    "bit": ("boolean", "boolean"),  # (:326-329)
    "char": ("string", "char"),  # blank-padded, as in the reference's %types
    "nchar": ("string", "char"),
    "varchar": ("string", "varchar"),
    "nvarchar": ("string", "varchar"),
    "text": ("string", "text"),
    "ntext": ("string", "text"),  # (:330-333)
    "sysname": ("string", "varchar(128)"),  # (:356-360)
    "date": ("date", "date"),
    "datetime": ("timestamp", "timestamp"),
    "datetime2": ("timestamp", "timestamp"),
    "smalldatetime": ("timestamp", "timestamp"),
    # Spark keeps the instant, UTC-normalized (:473)
    "datetimeoffset": ("timestamp", "timestamp with time zone"),
    "time": ("string", "time"),  # Spark has no TimeType (SURVEY §1.3)
    "timestamp": ("binary", "bytea"),  # rowversion (:279-280)
    "rowversion": ("binary", "bytea"),
    "binary": ("binary", "bytea"),
    "varbinary": ("binary", "bytea"),
    "image": ("binary", "bytea"),
    "uniqueidentifier": ("string", "uuid"),  # lower-cased on scan (:446)
    "xml": ("string", "xml"),
    "sql_variant": ("string", "text"),  # with warning (:373-378)
    # WKT passthrough (the reference needs PostGIS, :362-372)
    "geometry": ("string", "text"),
    "geography": ("string", "text"),
    "hierarchyid": ("string", "text"),
}

#: types that take a character length: Spark checks it, PostgreSQL keeps it
_SIZED_CHARS = frozenset({"char", "nchar", "varchar", "nvarchar"})
#: character types citext can stand for (case-insensitive mode, :386-418)
_CHARACTER = _SIZED_CHARS | {"text", "ntext", "sysname"}
#: types whose payload can exceed in-row storage, as any (max) can: drives
#: has_lobs, which selects the partitioned parallel scan (:1486-1491,
#: :949-963)
_LOBS = frozenset({"text", "ntext", "image", "xml"})


@dataclass
class TypeConversion:
    spark_type: str
    pg_type: str
    check_exprs: list[str] = field(default_factory=list)  # length guards
    warnings: list[str] = field(default_factory=list)
    is_lob: bool = False
    #: a character type, which citext replaces when comparison ignores case
    is_character: bool = False


def _parse_qual(qual: str | None) -> tuple[int | None, int | None, bool]:
    """'(35)' → (35, None, False); '(10, 2)' → (10, 2, False); '(max)' →
    (None, None, True)."""
    if not qual:
        return None, None, False
    inner = qual.strip().strip("()")
    if inner.lower() == "max":
        return None, None, True
    parts = [p.strip() for p in inner.split(",")]
    p = int(parts[0]) if parts[0] else None
    s = int(parts[1]) if len(parts) > 1 and parts[1] else None
    return p, s, False


def numeric_to_int(precision: int) -> str:
    """numeric(p,0) → the integer row that holds it (reference
    convert_numeric_to_int :227-238): p≤4→smallint, ≤9→int, ≤18→bigint,
    else it stays decimal."""
    if precision <= 4:
        return "smallint"
    if precision <= 9:
        return "int"
    if precision <= 18:
        return "bigint"
    return f"decimal({precision},0)"


def convert_type(
    type_name: str,
    qual: str | None = None,
    column: str | None = None,
    numeric_as_int: bool = False,
    table_types: dict[str, object] | None = None,
) -> TypeConversion:
    """Convert an MSSQL column type to Spark and PostgreSQL. Raises on
    unknown types — the reference's die-on-unknown contract (:7-8,
    :2570-2573)."""
    t = type_name.strip().lower()
    # schema-qualified TABLE type → array of struct (:419-428)
    if table_types and t in table_types:
        inner = ", ".join(f"{c.name}: {c.spark_type}" for c in table_types[t].columns)
        return TypeConversion(f"array<struct<{inner}>>", "text")
    row = _BASE_TYPES.get(t)
    if row is None:
        raise ValueError(f"unknown MSSQL type: {type_name!r}")
    spark, pg = row
    p, s, is_max = _parse_qual(qual)

    if spark == "decimal":
        if p is None:
            return TypeConversion("decimal(18,0)", "numeric(18,0)")
        s = s or 0
        if s == 0 and numeric_as_int and (key := numeric_to_int(p)) in _BASE_TYPES:
            return TypeConversion(*_BASE_TYPES[key])
        return TypeConversion(f"decimal({p},{s})", f"numeric({p},{s})")

    conv = TypeConversion(spark, pg, is_lob=is_max or t in _LOBS,
                          is_character=t in _CHARACTER)
    col = column or "col"
    if t in _SIZED_CHARS:
        if p and not is_max:
            # Spark strings are unbounded → keep the limit as a validation
            # rule, like the reference's citext CHECK (char_length(col) <= n)
            conv.pg_type = f"{pg}({p})"
            conv.check_exprs.append(f"length({col}) <= {p}")
        else:
            conv.pg_type = "text"
    elif t in ("binary", "varbinary") and p and not is_max:
        # reference emits octet_length CHECK instead of a qualifier (:308-317)
        conv.check_exprs.append(f"length({col}) <= {p}")
    elif t == "sysname":
        conv.check_exprs.append(f"length({col}) <= 128")
    elif t == "sql_variant":
        conv.warnings.append(f"sql_variant column {col} mapped to string (:373-378)")
    elif t in ("geometry", "geography"):
        conv.warnings.append(f"spatial column {col} mapped to string WKT passthrough")
    return conv
