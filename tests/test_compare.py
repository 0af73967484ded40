"""The oracle comparison contract (``sqlserver2pgsql_spark/compare.py``) on
hand-made frames: pandas and DuckDB only, no Spark session."""

from __future__ import annotations

from decimal import Decimal

import duckdb
import pandas as pd
import pytest

from sqlserver2pgsql_spark.compare import bind_types, mismatch, type_problems

_BASE = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})


@pytest.mark.parametrize(
    "spark_pdf, oracle_pdf, reason",
    [
        # Spark DECIMAL -> decimal.Decimal vs DuckDB DECIMAL -> float64; the
        # second pair is equal as values, only the representation differs
        (pd.DataFrame({"x": [Decimal("0.1")]}), pd.DataFrame({"x": [0.1]}), "representation"),
        (pd.DataFrame({"x": [Decimal("0.5")]}), pd.DataFrame({"x": [0.5]}), "representation"),
        (_BASE, _BASE.astype({"k": "float64"}), "representation"),
        (_BASE, _BASE.rename(columns={"v": "w"}), "columns"),
        (_BASE, _BASE.iloc[:2], "rowcount"),
    ],
    ids=["decimal-vs-float", "decimal-vs-float-exact", "int-vs-float", "renamed", "dropped-row"],
)
def test_mismatch_rejects(spark_pdf, oracle_pdf, reason):
    err = mismatch(spark_pdf, oracle_pdf)
    assert err is not None and reason in err, err


def test_mismatch_accepts_row_order_and_tz():
    assert mismatch(_BASE, _BASE.iloc[::-1].reset_index(drop=True)) is None
    instant = pd.Timestamp("2024-03-01 12:34:56.789012")
    aware = pd.DataFrame({"ts": pd.Series([instant]).dt.tz_localize("UTC").dt.tz_convert("Europe/Paris")})
    naive = pd.DataFrame({"ts": [instant]})
    assert mismatch(aware, naive) is None


@pytest.fixture()
def con():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS x FROM range(5)")
    return con


def test_type_rule_flags_hugeint_sum(con):
    odt = bind_types(con, "SELECT sum(x) AS s FROM t")
    assert odt == {"s": "HUGEINT"}
    assert any("float-vs-int" in p for p in type_problems(odt, {"s": "bigint"}))
    assert type_problems(odt, {"s": "double"})  # a HUGEINT oracle, whatever the Spark side
    assert type_problems(odt)  # the oracle side alone
    assert not type_problems(bind_types(con, "SELECT CAST(sum(x) AS BIGINT) AS s FROM t"),
                             {"s": "bigint"})


def test_type_rule_flags_decimal_and_drift(con):
    odt = bind_types(con, "SELECT CAST(x AS DECIMAL(10,2)) AS d, x FROM t")
    assert any("DECIMAL" in p for p in type_problems(odt, {"d": "double", "x": "bigint"}))
    assert any("DECIMAL" in p for p in type_problems({"d": "DOUBLE"}, {"d": "decimal(10,2)"}))
    drift = type_problems({"x": "BIGINT"}, {"x": "bigint", "y": "int"})
    assert drift and "column sets differ" in drift[0]
    assert not type_problems({"x": "BIGINT", "f": "DOUBLE"}, {"x": "int", "f": "double"})
