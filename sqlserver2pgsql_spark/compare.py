"""When a Spark result equals its DuckDB oracle: the one comparison
contract of the oracle tests, ``scripts/check_correctness.py`` and
``scripts/lint_type_parity.py``.

It is the driver's: columns sorted by name, rows sorted, values exact, as
a representation-sensitive hash sees them. Spark ``toPandas`` renders
DECIMAL as ``decimal.Decimal`` and keeps int64; DuckDB ``fetchdf`` renders
DECIMAL and HUGEINT as float64. So a float-vs-int or Decimal-vs-number
divergence fails the driver even when every value is equal (VERDICT r4
#1), and nothing here coerces one into the other. Datetime resolution and
integer width are driver-proven safe and stay allowed.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb
import pandas as pd

from .sources.tables import TABLE_NAMES

#: DuckDB integer types that ``fetchdf`` renders as float64
_WIDE_INT = {"HUGEINT", "UHUGEINT"}
_INT = {"TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
_FLOAT = {"FLOAT", "DOUBLE", "REAL"}


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with every fixture table of ``sf_dir`` as a view
    under its table name — the oracles' namespace."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            dt = df[c]
            if getattr(dt.dt, "tz", None) is not None:
                dt = dt.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = dt.astype("datetime64[ns]")
        # deliberately NO Decimal→float coercion (module docstring; round-1
        # lesson): queries must emit DOUBLE/BIGINT finals.
    df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)
    return df


def _numeric_kind(col: pd.Series) -> str | None:
    if pd.api.types.is_integer_dtype(col):
        return "int"
    if pd.api.types.is_float_dtype(col):
        return "float"
    if col.dtype == object and any(isinstance(v, Decimal) for v in col):
        return "decimal"
    return None


def mismatch(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """Why the Spark result (``toPandas``) differs from its oracle
    (``fetchdf``) as the driver sees them, or None when they match:
    column names, numeric representation (int vs float vs Decimal), row
    count, then exact values."""
    s, o = normalize(spark_pdf), normalize(oracle_pdf)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    # check_dtype=False below is blind to the representation, so gate it
    kinds = {c: (_numeric_kind(s[c]), _numeric_kind(o[c])) for c in s.columns}
    mixed = {c: k for c, k in kinds.items() if all(k) and k[0] != k[1]}
    if mixed:
        return (f"numeric representation divergence (spark, oracle) {mixed} — "
                "the driver's hash fails on it even when values are equal")
    if len(s) != len(o):
        return f"rowcount {len(s)} != {len(o)}"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return f"value mismatch:\n{str(e)[:2000]}"
    return None


def _type_kind(t: str) -> str:
    """'int', 'float', 'decimal' or 'other' for a Spark ``dtypes`` string or
    a DuckDB bind type, as the column reaches pandas."""
    t = t.upper()
    if t in _INT:
        return "int"
    if t in _FLOAT or t in _WIDE_INT:
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    return "other"


def bind_types(con: duckdb.DuckDBPyConnection, sql: str) -> dict[str, str]:
    """The oracle's output column -> DuckDB type, from binding alone."""
    rel = con.sql(sql)
    return dict(zip(rel.columns, map(str, rel.types)))


def type_problems(
    oracle_types: dict[str, str], spark_types: dict[str, str] | None = None
) -> list[str]:
    """The output-type rule, checked statically (DuckDB bind types and
    Spark ``df.dtypes``, no rows): column-set drift, DECIMAL on either
    side, float-vs-int on a shared column — and any HUGEINT oracle column,
    whatever the Spark side. With ``spark_types`` None only the oracle side
    is checked."""
    problems = []
    if spark_types is not None and set(spark_types) != set(oracle_types):
        problems.append(
            f"column sets differ: spark-only {sorted(set(spark_types) - set(oracle_types))}, "
            f"oracle-only {sorted(set(oracle_types) - set(spark_types))}"
        )
    for c in sorted(oracle_types):
        ot, st = oracle_types[c], (spark_types or {}).get(c)
        kinds = {_type_kind(ot), _type_kind(st or "")}
        if "decimal" in kinds:
            problems.append(
                f"{c}: DECIMAL output (spark {st} vs oracle {ot}) — cast finals to DOUBLE/BIGINT"
            )
        elif kinds == {"int", "float"}:
            problems.append(f"{c}: float-vs-int (spark {st} vs oracle {ot})")
        elif ot.upper() in _WIDE_INT:
            problems.append(
                f"{c}: oracle {ot} — wrap the final integer aggregate in CAST(... AS BIGINT)"
            )
    return problems
