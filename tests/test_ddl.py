"""M0/M1 tests: type matrix, DDL parser vs the reference regression corpus,
Spark schema application, and end-to-end execution of migrated views."""

from __future__ import annotations

import glob
import os
import re

import pytest
from pyspark.sql import Row

from sqlserver2pgsql_spark.catalog.types import _BASE_TYPES, convert_type, numeric_to_int
from sqlserver2pgsql_spark.catalog.identifiers import camel_to_snake, normalize_identifier
from sqlserver2pgsql_spark.ddl import parse_dump, parse_text
from sqlserver2pgsql_spark.ddl.emit_pg import emit_after, emit_before, emit_unsure
from sqlserver2pgsql_spark.ddl.parser import DdlParseError, ParserOptions
from sqlserver2pgsql_spark.ddl.spark_schema import (
    _parse_type,
    register_views,
    to_struct_type,
    validation_plan,
    with_computed_columns,
)

CORPUS = sorted(
    glob.glob("/root/reference/regression/*.sql")
    + glob.glob("/root/reference/regression/basic_test/*.sql")
)


# --- type matrix -------------------------------------------------------------


#: every row of the matrix, unqualified: MSSQL type → (Spark, PostgreSQL)
_MATRIX = {
    "int": ("int", "integer"),
    "integer": ("int", "integer"),
    "smallint": ("smallint", "smallint"),
    "tinyint": ("smallint", "smallint"),
    "bigint": ("bigint", "bigint"),
    "decimal": ("decimal(18,0)", "numeric(18,0)"),
    "numeric": ("decimal(18,0)", "numeric(18,0)"),
    "float": ("double", "double precision"),
    "real": ("float", "real"),
    "money": ("decimal(19,4)", "numeric(19,4)"),
    "smallmoney": ("decimal(10,4)", "numeric(10,4)"),
    "bit": ("boolean", "boolean"),
    "char": ("string", "text"),
    "nchar": ("string", "text"),
    "varchar": ("string", "text"),
    "nvarchar": ("string", "text"),
    "text": ("string", "text"),
    "ntext": ("string", "text"),
    "sysname": ("string", "varchar(128)"),
    "date": ("date", "date"),
    "datetime": ("timestamp", "timestamp"),
    "datetime2": ("timestamp", "timestamp"),
    "smalldatetime": ("timestamp", "timestamp"),
    "datetimeoffset": ("timestamp", "timestamp with time zone"),
    "time": ("string", "time"),
    "timestamp": ("binary", "bytea"),
    "rowversion": ("binary", "bytea"),
    "binary": ("binary", "bytea"),
    "varbinary": ("binary", "bytea"),
    "image": ("binary", "bytea"),
    "uniqueidentifier": ("string", "uuid"),
    "xml": ("string", "xml"),
    "sql_variant": ("string", "text"),
    "geometry": ("string", "text"),
    "geography": ("string", "text"),
    "hierarchyid": ("string", "text"),
}

#: qualified forms: (type, qualifier, numeric_as_int) → (Spark, PostgreSQL)
_QUALIFIED = {
    ("char", "(2)", False): ("string", "char(2)"),
    ("nchar", "( 3 )", False): ("string", "char(3)"),
    ("varchar", "(35)", False): ("string", "varchar(35)"),
    ("nvarchar", "(20)", False): ("string", "varchar(20)"),
    ("varchar", "(max)", False): ("string", "text"),
    ("nvarchar", "(MAX)", False): ("string", "text"),
    ("decimal", "(10, 2)", False): ("decimal(10,2)", "numeric(10,2)"),
    ("numeric", "(10, 0)", False): ("decimal(10,0)", "numeric(10,0)"),
    ("numeric", "(4, 0)", True): ("smallint", "smallint"),
    ("numeric", "(9)", True): ("int", "integer"),
    ("numeric", "(10, 0)", True): ("bigint", "bigint"),
    ("numeric", "(19, 0)", True): ("decimal(19,0)", "numeric(19,0)"),
    ("numeric", "(21, 7)", True): ("decimal(21,7)", "numeric(21,7)"),
    ("numeric", None, True): ("decimal(18,0)", "numeric(18,0)"),
    ("datetime2", "(7)", False): ("timestamp", "timestamp"),
    ("varbinary", "(max)", False): ("binary", "bytea"),
    ("binary", "(16)", False): ("binary", "bytea"),
}


def test_type_matrix_basics():
    """Every row of the matrix, unqualified and qualified, for both targets."""
    assert set(_MATRIX) == set(_BASE_TYPES)
    for mssql, want in _MATRIX.items():
        conv = convert_type(mssql.upper())
        assert (conv.spark_type, conv.pg_type) == want, mssql
        _parse_type(conv.spark_type)  # a Spark type the schema builder reads
    for (mssql, qual, as_int), want in _QUALIFIED.items():
        conv = convert_type(mssql, qual, numeric_as_int=as_int)
        assert (conv.spark_type, conv.pg_type) == want, (mssql, qual, as_int)


def test_type_matrix_flags():
    assert convert_type("nvarchar", "(max)").is_lob
    assert convert_type("xml").is_lob and convert_type("image").is_lob
    assert not convert_type("nvarchar", "(4000)").is_lob
    assert convert_type("varchar", "(35)", column="bic").check_exprs == ["length(bic) <= 35"]
    assert convert_type("sysname", column="s").check_exprs == ["length(s) <= 128"]
    assert {t for t in _BASE_TYPES if convert_type(t).is_character} == {
        "char", "nchar", "varchar", "nvarchar", "text", "ntext", "sysname"}
    with pytest.raises(ValueError):
        convert_type("no_such_type")


def test_numeric_to_int_boundaries():
    assert numeric_to_int(4) == "smallint"
    assert numeric_to_int(9) == "int"
    assert numeric_to_int(18) == "bigint"
    assert numeric_to_int(19) == "decimal(19,0)"


def test_identifier_pipeline():
    assert normalize_identifier("DealerCode") == "dealercode"
    assert normalize_identifier("DealerCode", "snake") == "dealer_code"
    assert camel_to_snake("SalesDistrictCode") == "sales_district_code"
    warnings: list[str] = []
    normalize_identifier("x" * 70, warnings=warnings)
    assert warnings


# --- corpus parsing (the reference's own regression inputs) ------------------


@pytest.mark.parametrize("path", CORPUS, ids=[p.split("/")[-1] for p in CORPUS])
def test_corpus_parses(path):
    cat = parse_dump(path)
    assert sum(len(s.tables) for s in cat.schemas.values()) > 0


def test_reg_tests_catalog_fidelity():
    cat = parse_dump("/root/reference/regression/reg_tests.sql")
    tt = cat.schemas["public"].tables["testtable"]
    assert [c.name for c in tt.ordered_columns()][:2] == ["num_folio", "folio_id"]
    assert tt.primary_key.cols == ["num_folio"]
    assert len(tt.checks) == 3 and not any(c.expr.render("spark").unsure for c in tt.checks)
    assert tt.foreign_keys[0].ref_table == "adjudicaciones"
    assert tt.indexes["idx_folio_id"].where.sql("spark") is not None  # partial index

    dp = cat.schemas["public"].tables["dealer_profile"]
    defaults = {c.name: c.default.sql("spark") for c in dp.ordered_columns() if c.default}
    assert defaults["modifiedby"] == "current_user()"
    assert defaults["modifieddate"] == "current_timestamp()"

    gc = cat.schemas["public"].tables["generatedcolumns"]
    computed = {c.name: c.computed_expr for c in gc.ordered_columns() if c.computed_expr}
    # T-SQL + over varchar columns = concat (catalog-typed rewrite)
    assert computed["sum1"] == "val1||val2"
    assert {"edb", "etl", "reflex", "public"} <= set(cat.schemas)
    assert cat.schemas["reflex"].tables["hfmnltp"].indexes["hfmnltl2"].disabled


def test_identity_and_sequences():
    cat = parse_dump("/root/reference/regression/issue_112.sql")
    t = cat.schemas["public"].tables["afelementattributecategory"]
    rid = t.columns["rid"]
    assert rid.identity.start == -1 and rid.identity.step == -1
    seqs = cat.schemas["public"].sequences
    assert seqs["sd_rid_seq"].start == 1000


def test_numeric_as_int_option():
    cat = parse_dump(
        "/root/reference/regression/issue_59.sql",
        ParserOptions(numeric_as_int=True),
    )
    acc = cat.schemas["public"].tables["account"]
    assert acc.columns["version"].spark_type == "bigint"  # numeric(10,0)
    assert acc.columns["deleted"].spark_type == "smallint"  # numeric(1,0)
    assert acc.columns["daily_limit"].spark_type == "decimal(21,7)"  # scale≠0 stays
    idx = acc.indexes["idx_account_bic_iban"]
    assert idx.include == ["back_office_account_number", "bank_account_number"]


def test_drop_rowversion_option():
    cat = parse_dump(
        "/root/reference/regression/reg_tests.sql", ParserOptions(drop_rowversion=True)
    )
    t = cat.schemas["edb"].tables["rowversiontable"]
    assert "ver_col" not in t.columns  # (:1437-1443)


def test_unknown_statement_dies():
    with pytest.raises(DdlParseError):
        parse_text("FROBNICATE THE DATABASE")


def test_extended_properties_comments():
    cat = parse_dump("/root/reference/regression/issue_59.sql")
    acc = cat.schemas["public"].tables["account"]
    assert acc.columns["id"].comment == "ONEBANK.ACCOUNT.ID"


# --- Spark application -------------------------------------------------------


def test_struct_type_and_validation_plan():
    cat = parse_dump("/root/reference/regression/issue_59.sql")
    acc = cat.schemas["public"].tables["account"]
    st = to_struct_type(acc)
    assert st["version"].dataType.typeName() == "decimal"
    assert not st["id"].nullable
    kinds = [k for k, _, _ in validation_plan(acc)]
    assert "pk" in kinds and "check" in kinds


def test_views_execute_on_spark(spark, duck):
    """M5 end-to-end: parse the views corpus, materialize base tables from
    the catalog StructTypes, register translated views, and cross-check V2
    against DuckDB running the equivalent ANSI SQL on the same rows."""
    import pandas as pd

    from sqlserver2pgsql_spark.compare import normalize

    cat = parse_dump("/root/reference/regression/basic_test/views.sql")
    pub = cat.schemas["public"]
    rows = [
        Row(c1="k1", c2="a", c3=1),
        Row(c1="k2", c2="b", c3=2),
        Row(c1="k3", c2=None, c3=3),
    ]
    for t in ("t3309", "t3317"):
        spark.createDataFrame(rows, schema=to_struct_type(pub.tables[t])).createOrReplaceTempView(t)
    import datetime

    spark.createDataFrame(
        [Row(c1=datetime.date(2020, 1, 1), c2=datetime.datetime(2020, 1, 1), c3=1)],
        schema=to_struct_type(pub.tables["t3352"]),
    ).createOrReplaceTempView("t3352")

    registered = register_views(spark, cat)
    assert registered == ["v1", "v2", "v3", "v4", "v5", "v6"]

    # k3 has NULL c2 → NULL=NULL is not TRUE → the equi-join drops it
    assert spark.sql("SELECT * FROM v1").count() == 2
    assert spark.sql("SELECT * FROM v3").collect()[0][0] == 2
    # V5 keeps its body aliases (stale header list, see register_views)
    v5 = spark.sql("SELECT * FROM v5 ORDER BY c1").collect()
    assert v5[0]["C3"] == "k1isnull("  # literal containing 'isnull(' survives

    got = spark.sql("SELECT c1, c2, c3, e0, e1 FROM v2").toPandas()
    exp = duck.execute(
        """
        WITH t(c1, c2, c3) AS (VALUES ('k1','a',1), ('k2','b',2), ('k3',NULL,3))
        SELECT b1.c1 || '|' || b2.c1 || '|' || b2.c2          AS c1,
               CAST(b1.c2 AS VARCHAR)                          AS c2,
               b1.c3 + coalesce(b2.c3, 0)                      AS c3,
               -- explicit round: DuckDB truncates decimal→decimal downscale
               -- casts where Spark rounds HALF_UP
               CAST(round(b1.c3 * 1.023156, 4) AS DECIMAL(6,4)) AS e0,
               CAST(b2.c3 AS INT)                              AS e1
        FROM t b1 JOIN t b2 ON b1.c1 = b2.c1 AND b1.c2 = b2.c2
        """
    ).fetchdf()
    # Spark renders the DECIMAL(6,4) e0 as decimal.Decimal, DuckDB as float64
    got["e0"] = got["e0"].astype(float)
    pd.testing.assert_frame_equal(normalize(got), normalize(exp), check_dtype=False)


def test_computed_columns_projection(spark):
    cat = parse_dump("/root/reference/regression/reg_tests.sql")
    gc = cat.schemas["public"].tables["generatedcolumns"]
    df = spark.createDataFrame(
        [Row(val1="a", val2="b", val3="c")], schema=to_struct_type(gc)
    )
    out = with_computed_columns(df, gc).collect()[0]
    assert out.sum1 == "ab" and out.sum4 == "abc"


# --- PG DDL emission ---------------------------------------------------------


def test_emit_pg_scripts_and_duckdb_swallows_before(duck):
    cat = parse_dump("/root/reference/regression/issue_59.sql")
    before, after, unsure = emit_before(cat), emit_after(cat), emit_unsure(cat)
    assert 'CREATE TABLE "public"."account"' in before
    assert '"version" numeric(10,0)' in before
    assert "PRIMARY KEY" in after
    assert "INCLUDE" in after
    assert "WHERE" in unsure and "CHECK" in unsure
    # reference test layer 3 analog: a PG-dialect engine can swallow `before`
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE SCHEMA IF NOT EXISTS public")  # implicit in PG, not DuckDB
    for stmt in before.split(";"):
        stmt = "\n".join(
            line for line in stmt.splitlines() if not line.strip().startswith("\\")
        ).strip()
        if stmt and not stmt.startswith("--"):
            con.execute(stmt)
    assert con.execute("SELECT count(*) FROM public.account").fetchone()[0] == 0


CAST_FORMS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "cast_forms.sql")


def test_translated_casts_spell_postgres_types():
    """The PostgreSQL scripts hold each T-SQL CAST rendered for PostgreSQL,
    with the matrix's PostgreSQL type (``text``, ``double precision``, not
    Spark's ``STRING`` and ``DOUBLE``) in a default, a CHECK, a
    partial-index predicate and a view, and the text of a literal left
    alone; a char(n) target is cut or padded to n as in SQL Server."""
    cat = parse_dump(CAST_FORMS)
    after, unsure = emit_after(cat), emit_unsure(cat)
    assert 'ALTER COLUMN "code" SET DEFAULT left(CAST((42) AS text), 10);' in after
    assert "ALTER COLUMN \"price\" SET DEFAULT CAST('1.5' AS double precision);" in after
    assert (
        "CHECK ((left(CAST(x AS text), 10)<>'AS STRING)' "
        "AND CAST(x AS double precision)<(100)));" in unsure
    )
    assert 'ON "public"."t" ("x") WHERE (price>CAST((1) AS double precision));' in unsure
    for column in (
        "left(CAST(x AS text), 10) AS xs", "CAST(x AS double precision) AS xf",
        "rpad(CAST(x AS text), 3) AS xc", "CAST(code AS text) AS ct",
        "CAST(x AS real) AS xr", "CAST(CURRENT_TIMESTAMP AS date) AS today",
    ):
        assert column in unsure
    scripts = (after + unsure).replace("'AS STRING)'", "")
    for spark_only in ("AS STRING)", "AS DOUBLE)", "AS FLOAT)", "current_timestamp()"):
        assert spark_only not in scripts


def test_each_expression_is_rendered_once_per_dialect(monkeypatch):
    """The catalog keeps each default, CHECK, partial-index predicate and
    view as T-SQL and renders it on demand: emitting all three scripts
    translates each expression once, for PostgreSQL only, though the after
    and the unsure script both look at every default."""
    from sqlserver2pgsql_spark.functions import translate

    cat = parse_dump(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                  "data", "ssms_sample.sql"))
    exprs = [e for _, t in cat.all_tables() for e in (
        *(c.default for c in t.columns.values() if c.default),
        *(ck.expr for ck in t.checks),
        *(i.where for i in t.indexes.values() if i.where))]
    exprs += [cat.schemas[s].views[v].body for s, v in cat.view_order]
    calls = []
    real = translate.translate_tsql_expr
    monkeypatch.setattr(translate, "translate_tsql_expr",
                        lambda tsql, dialect, *a: calls.append((tsql, dialect)) or real(tsql, dialect, *a))
    emit_before(cat), emit_after(cat), emit_unsure(cat), emit_unsure(cat)
    assert sorted(calls) == sorted((e.tsql, "pg") for e in exprs)
    assert len(calls) == 14


def test_check_plus_over_string_columns_concatenates():
    """A CHECK and a partial-index predicate know their table's string
    columns, so T-SQL ``+`` over them concatenates, in both dialects."""
    cat = parse_text(
        "CREATE TABLE [dbo].[p]([first] [varchar](10) NULL, [last] [nvarchar](10) NULL,\n"
        "[n] [int] NULL, CONSTRAINT [ck_p] CHECK (([first] + [last] <> '')))\nGO\n"
        "CREATE INDEX [ix_p] ON [dbo].[p] ([n]) WHERE ([first] + [last] IS NOT NULL)\nGO\n"
    )
    p = cat.schemas["public"].tables["p"]
    for dialect in ("spark", "pg"):
        assert p.checks[0].expr.sql(dialect) == "(first || last <> '')"
        assert p.indexes["ix_p"].where.sql(dialect) == "(first || last IS NOT NULL)"


def test_domains_resolve_to_their_base_type():
    """A domain column is its base type and qualifier from the parse on: the
    PostgreSQL type, the JDBC scan coercion, citext, the bit default and the
    LOB flag all read the base type."""
    from sqlserver2pgsql_spark.sources.jdbc import mssql_cast_expr

    dump = (
        "CREATE TYPE [dbo].[Phone] FROM [varchar](20) NULL\nGO\n"
        "CREATE TYPE [dbo].[RowGuid] FROM [uniqueidentifier] NOT NULL\nGO\n"
        "CREATE TYPE [dbo].[Flag] FROM [bit] NOT NULL\nGO\n"
        "CREATE TYPE [dbo].[LongNote] FROM [nvarchar](max) NULL\nGO\n"
        "CREATE TABLE [dbo].[Contact]([Mobile] [Phone] NULL, [Ref] [RowGuid] NOT NULL,\n"
        "[Active] [Flag] NOT NULL DEFAULT ((1)))\nGO\n"
        "CREATE TABLE [dbo].[Note]([Body] [LongNote] NULL)\nGO\n"
    )
    for mode in ("lower", "snake"):
        cat = parse_text(dump, ParserOptions(identifier_mode=mode, case_insensitive=True))
        public = cat.schemas["public"]
        assert public.domains["phone"] == ("varchar", "(20)")
        assert public.domains["longnote"] == ("nvarchar", "(max)")
        cols = public.tables["contact"].columns
        assert [(c.type_name, c.type_qual, c.pg_type) for c in cols.values()] == [
            ("varchar", "(20)", "citext"), ("uniqueidentifier", None, "uuid"),
            ("bit", None, "boolean")]
        assert cols["active"].default.tsql == "true"
        assert mssql_cast_expr(cols["ref"]) == "lower([Ref]) AS [Ref]"
        assert 'CHECK (char_length("mobile") <= 20);' in emit_unsure(cat)
        assert not public.tables["contact"].has_lobs
        assert public.tables["note"].has_lobs
    before = emit_before(parse_text(dump))
    assert '"mobile" varchar(20),\n  "ref" uuid NOT NULL,\n  "active" boolean NOT NULL' in before


def test_user_types_resolve_by_schema():
    """A qualified user type is looked up in its own schema (relabeled); an
    unqualified one in its table's schema, then in ``dbo``'s."""
    dump = (
        "CREATE TYPE [dbo].[Phone] FROM [varchar](20) NULL\nGO\n"
        "CREATE TYPE [sales].[Code] FROM [char](3) NOT NULL\nGO\n"
        "CREATE TYPE [sales].[Fax] FROM [varchar](30) NULL\nGO\n"
        "CREATE TYPE [dbo].[Fax] FROM [varchar](10) NULL\nGO\n"
        "CREATE TABLE [dbo].[c]([m] [dbo].[Phone] NULL, [k] [sales].[Code] NULL,\n"
        "[n] dbo.Phone NULL, [f] [Fax] NULL, [s] [sys].[sysname] NULL)\nGO\n"
        "CREATE TABLE [sales].[c]([m] [Phone] NULL, [k] [Code] NULL, [f] [Fax] NULL,\n"
        "[g] [dbo].[Fax] NULL)\nGO\n"
    )
    for opts, sales in ((ParserOptions(), "sales"),
                        (ParserOptions(relabel={"sales": "crm"}), "crm")):
        cat = parse_text(dump, opts)
        types = {s: [(c.name, c.type_name, c.type_qual) for c in
                     cat.schemas[s].tables["c"].columns.values()]
                 for s in ("public", sales)}
        assert types == {
            "public": [("m", "varchar", "(20)"), ("k", "char", "(3)"),
                       ("n", "varchar", "(20)"), ("f", "varchar", "(10)"),
                       ("s", "sysname", None)],
            sales: [("m", "varchar", "(20)"), ("k", "char", "(3)"),
                    ("f", "varchar", "(30)"), ("g", "varchar", "(10)")],
        }
    assert '"m" varchar(20),\n  "k" char(3),\n  "n" varchar(20)' in emit_before(parse_text(dump))
    # a table type is found by the name a column gives it, in any identifier mode
    dump = ("CREATE TYPE [dbo].[OrderLines] AS TABLE([id] [int] NULL, [qty] [int] NULL)\nGO\n"
            "CREATE TABLE [dbo].[o]([lines] [OrderLines] NULL)\nGO\n")
    for mode in ("lower", "snake"):
        cat = parse_text(dump, ParserOptions(identifier_mode=mode))
        assert cat.schemas["public"].tables["o"].columns["lines"].spark_type \
            == "array<struct<id: int, qty: int>>"
    # a qualified type is never looked up outside its schema
    with pytest.raises(ValueError, match="unknown MSSQL type: 'code'"):
        parse_text("CREATE TYPE [sales].[Code] FROM [char](3) NOT NULL\nGO\n"
                   "CREATE TABLE [sales].[t]([k] [dbo].[Code] NULL)\nGO\n")


def test_default_literal_is_not_read_as_column_attributes():
    """NOT NULL, IDENTITY, COLLATE, ROWGUIDCOL, SPARSE, PRIMARY KEY and
    UNIQUE inside an inline default's literal are not the column's own."""
    cat = parse_text(
        "CREATE TABLE [dbo].[t]([c] [varchar](20) NULL DEFAULT ('NOT NULL'),\n"
        "[d] [varchar](40) NULL CONSTRAINT [df] DEFAULT ('a PRIMARY KEY b'),\n"
        "[e] [varchar](90) CONSTRAINT [df_e] DEFAULT "
        "('UNIQUE IDENTITY(1,1) IDENTITY COLLATE x ROWGUIDCOL SPARSE') NOT NULL)\nGO\n"
    )
    public = cat.schemas["public"]
    t = public.tables["t"]
    c, d, e = t.columns.values()
    assert (c.nullable, c.default.tsql) == (True, "'NOT NULL'")
    assert d.default.tsql == "'a PRIMARY KEY b'" and d.default_name == "df"
    assert t.primary_key is None and t.uniques == []
    assert not e.nullable  # an attribute after the default is still read
    assert (e.identity, e.collation, e.is_rowguidcol, e.is_sparse) == (None, None, False, False)
    assert public.sequences == {}
    assert '"c" varchar(20),' in emit_before(cat)


def test_view_schema_qualifiers_are_relabeled():
    """View bodies name their tables in the relabeled schema, as the tables
    are created; literals, aliases and other schemas keep their text."""
    dump = (
        "CREATE TABLE [dbo].[t]([a] [int] NULL)\nGO\n"
        "CREATE TABLE [sales].[r]([a] [int] NULL)\nGO\n"
        "CREATE VIEW [dbo].[v] AS SELECT o.a, 'dbo.t' AS s FROM [dbo].[t] AS o "
        "JOIN [sales].[r] ON r.a = o.a JOIN other.x ON 1=1\nGO\n"
    )
    v = parse_text(dump).schemas["public"].views["v"]
    for dialect in ("spark", "pg"):
        assert v.body.sql(dialect) == ("SELECT o.a, 'dbo.t' AS s FROM public.t AS o "
                                       "JOIN sales.r ON r.a = o.a JOIN other.x ON 1=1")
    v = parse_text(dump, ParserOptions(relabel={"sales": "crm"})).schemas["public"].views["v"]
    for dialect in ("spark", "pg"):
        assert "JOIN crm.r ON r.a = o.a" in v.body.sql(dialect)


def test_alter_table_add_uses_the_table_constraint_parser():
    cat = parse_text(
        "CREATE TABLE [dbo].[p]([id] [int] NOT NULL, [c] [char](2) NULL)\nGO\n"
        "CREATE TABLE [dbo].[k]([id] [int] NOT NULL, [pid] [int] NULL, [n] [int] NULL)\nGO\n"
        "ALTER TABLE [dbo].[p] ADD CONSTRAINT [PK_p] PRIMARY KEY CLUSTERED ([id] ASC)\nGO\n"
        "ALTER TABLE [dbo].[p] ADD UNIQUE NONCLUSTERED ([c])\nGO\n"
        "ALTER TABLE [dbo].[k] WITH CHECK ADD CONSTRAINT [FK_k] FOREIGN KEY([pid])\n"
        "REFERENCES [dbo].[p] ([id]) ON UPDATE CASCADE\nGO\n"
        "ALTER TABLE [dbo].[k] WITH NOCHECK ADD CHECK (([n]>(0)))\nGO\n"
        "ALTER TABLE [dbo].[k] ADD CONSTRAINT [DF_k_n] DEFAULT ((7)) FOR [n]\nGO\n"
        "ALTER TABLE [dbo].[k] ADD DEFAULT ((8)) FOR [pid]\nGO\n"
    )
    p, k = cat.schemas["public"].tables["p"], cat.schemas["public"].tables["k"]
    assert (p.primary_key.name, p.primary_key.cols) == ("pk_p", ["id"])
    assert [(u.name, u.cols) for u in p.uniques] == [(None, ["c"])]
    fk = k.foreign_keys[0]
    assert (fk.name, fk.ref_table, fk.ref_cols, fk.on_update) == ("fk_k", "p", ["id"], "CASCADE")
    assert [(c.name, c.expr.sql("spark")) for c in k.checks] == [(None, "(n>(0))")]
    assert (k.columns["n"].default.tsql, k.columns["n"].default_name) == ("7", "df_k_n")
    assert (k.columns["pid"].default.tsql, k.columns["pid"].default_name) == ("8", None)
    with pytest.raises(DdlParseError):
        parse_text("CREATE TABLE [dbo].[p]([id] [int] NULL)\nGO\n"
                   "ALTER TABLE [dbo].[p] ADD [x] [int] NULL\nGO\n")


def test_one_type_table():
    """Only catalog/types.py maps SQL Server types: the PostgreSQL emitter
    names none of them, and the parser holds no LOB type list (each was a
    copy of the matrix once)."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "sqlserver2pgsql_spark")
    checks = {
        "ddl/emit_pg.py": re.compile(
            r"\b(?:uniqueidentifier|nvarchar|nchar|sysname|datetimeoffset)\b", re.IGNORECASE),
        "ddl/parser.py": re.compile(r"""["'](?:ntext|image|xml|\(max\))["']""", re.IGNORECASE),
    }
    offenders = [
        f"{rel}:{lineno}"
        for rel, pattern in checks.items()
        for lineno, line in enumerate(open(os.path.join(pkg, rel)).read().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, f"SQL Server type knowledge outside catalog/types.py: {offenders}"


def test_validate_constraints_modes_and_identity_column():
    from sqlserver2pgsql_spark.ddl.emit_pg import EmitOptions

    dump = """
CREATE TABLE [dbo].[parent] (
  [id] int IDENTITY(1000,2) NOT NULL,
  [code] char(4) NULL,
  [opens_at] time NULL,
  CONSTRAINT [pk_parent] PRIMARY KEY ([id])
)
GO
CREATE TABLE [dbo].[child] (
  [id] int NOT NULL,
  [parent_id] int NULL,
  CONSTRAINT [pk_child] PRIMARY KEY ([id]),
  CONSTRAINT [fk_child_parent] FOREIGN KEY ([parent_id]) REFERENCES [dbo].[parent] ([id])
)
GO
"""
    cat = parse_text(dump)

    # default: plain FK, sequence in before, no VALIDATE statements
    before = emit_before(cat)
    after = emit_after(cat)
    unsure = emit_unsure(cat)
    assert "CREATE SEQUENCE" in before and "START WITH 1000" in before
    assert '"fk_child_parent" FOREIGN KEY' in after and "NOT VALID" not in after
    assert "VALIDATE CONSTRAINT" not in unsure
    # char(n)/time keep their PG types (reference %types matrix)
    assert '"code" char(4)' in before
    assert '"opens_at" time' in before

    # validate_constraints=after: NOT VALID FK + VALIDATE in unsure (:2950-2959)
    opts = EmitOptions(validate_constraints="after")
    after_nv = emit_after(cat, opts)
    unsure_nv = emit_unsure(cat, opts)
    assert '("id") NOT VALID;' in after_nv
    assert 'VALIDATE CONSTRAINT "fk_child_parent";' in unsure_nv

    # validate_constraints=no: NOT VALID, never validated
    opts_no = EmitOptions(validate_constraints="no")
    assert "NOT VALID" in emit_after(cat, opts_no)
    assert "VALIDATE CONSTRAINT" not in emit_unsure(cat, opts_no)

    # use_identity_column: no sequence; GENERATED ALWAYS AS IDENTITY (:2722-2744)
    opts_id = EmitOptions(use_identity_column=True)
    before_id = emit_before(cat, opts_id)
    after_id = emit_after(cat, opts_id)
    assert "CREATE SEQUENCE" not in before_id
    assert (
        'ALTER TABLE "public"."parent" ALTER COLUMN "id" '
        "ADD GENERATED ALWAYS AS IDENTITY ( START WITH 1000 INCREMENT BY 2 );"
        in after_id
    )


def test_sequence_default_wiring_and_trigger_section():
    """Sequence mode wires SET DEFAULT nextval (reference :1449-1460); a
    catalog carrying triggers emits the function + CREATE TRIGGER section at
    the end of the unsure script (reference :3122-3161)."""
    from sqlserver2pgsql_spark.catalog.model import Trigger, TriggerFunction
    from sqlserver2pgsql_spark.ddl.emit_pg import EmitOptions

    dump = """
CREATE TABLE [dbo].[parent] (
  [id] int IDENTITY(1000,2) NOT NULL,
  CONSTRAINT [pk_parent] PRIMARY KEY ([id])
)
GO
"""
    cat = parse_text(dump)
    after = emit_after(cat)
    seq_name = next(iter(cat.schemas["public"].sequences))
    assert (
        f'ALTER TABLE "public"."parent" ALTER COLUMN "id" '
        f"SET DEFAULT nextval('public.{seq_name}');" in after
    )
    # identity mode must NOT also wire nextval
    assert "nextval" not in emit_after(cat, EmitOptions(use_identity_column=True))

    sch = cat.schemas["public"]
    sch.trig_functions["audit_fn"] = TriggerFunction(
        name="audit_fn", body="BEGIN RETURN NEW; END;"
    )
    sch.tables["parent"].triggers.append(
        Trigger(
            name="trg_audit",
            events="AFTER INSERT OR UPDATE",
            when="FOR EACH ROW",
            function="audit_fn",
        )
    )
    unsure = emit_unsure(cat)
    fn_pos = unsure.find(
        'CREATE FUNCTION "public"."audit_fn"() RETURNS trigger LANGUAGE plpgsql'
    )
    trg_pos = unsure.find(
        'CREATE TRIGGER "trg_audit" AFTER INSERT OR UPDATE ON "public"."parent" '
        'FOR EACH ROW EXECUTE PROCEDURE "public"."audit_fn"();'
    )
    assert fn_pos != -1 and trg_pos != -1 and fn_pos < trg_pos
    assert "$def$\nBEGIN RETURN NEW; END;\n$def$;" in unsure
