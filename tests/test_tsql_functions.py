"""T-SQL expression translator (B10): SQL Server's answers, run on Spark
and on PostgreSQL.

Every case is T-SQL text rendered by ``translate_tsql_expr`` for each
dialect and evaluated by its engine over the same one-row table (Spark, and
the live PostgreSQL 15 of the ``pg`` fixture); the expected value is SQL
Server's documented result under the default ``DATEFIRST 7`` (Sunday is day
1 and starts the week) and ``CONCAT_NULL_YIELDS_NULL ON``.
"""

from __future__ import annotations

import datetime
import decimal

import pytest

from sqlserver2pgsql_spark.functions.translate import translate_tsql_expr

#: the probe row, in each engine's SQL: its string columns are passed as
#: ``string_idents``, as the parser passes a table's string-typed columns
#: from the catalog
_PROBE = """
    SELECT 'hello world  ' AS s, 'x' AS a, CAST(NULL AS {string}) AS b,
           CAST(1.5 AS DOUBLE{precision}) AS x,
           TIMESTAMP'2020-12-31 23:00:00' AS d, TIMESTAMP'2020-01-02 03:04:05' AS t,
           TIMESTAMP'2020-01-02 03:04:05.9' AS f
"""
_PROBES = {"spark": _PROBE.format(string="STRING", precision=""),
           "pg": _PROBE.format(string="text", precision=" PRECISION")}
_STRINGS = frozenset({"s", "a", "b"})

_EARLY, _LATE = "'2020-12-31 23:30:00'", "'2021-01-01 00:10:00'"

CASES = [
    # DATEDIFF counts boundaries crossed, not elapsed units: 40 minutes
    # across midnight on New Year's Eve cross a year, quarter, month, day
    # and hour boundary
    (f"DATEDIFF(year, {_EARLY}, {_LATE})", 1),
    (f"DATEDIFF(quarter, {_EARLY}, {_LATE})", 1),
    (f"DATEDIFF(month, {_EARLY}, {_LATE})", 1),
    (f"DATEDIFF(day, {_EARLY}, {_LATE})", 1),
    (f"DATEDIFF(dy, {_EARLY}, {_LATE})", 1),
    (f"DATEDIFF(hour, {_EARLY}, {_LATE})", 1),
    (f"DATEDIFF(minute, {_EARLY}, {_LATE})", 40),
    (f"DATEDIFF(year, {_LATE}, {_EARLY})", -1),
    ("DATEDIFF(year, [d], '2021-01-01')", 1),
    ("DATEDIFF(day, [d], '2021-01-01 00:30:00')", 1),
    ("DATEDIFF(hour, [d], '2020-12-31 23:59:59')", 0),
    # weeks start on Sunday: Saturday -> Sunday crosses one, Sunday ->
    # Saturday none
    ("DATEDIFF(week, '2021-01-02', '2021-01-03')", 1),
    ("DATEDIFF(week, '2021-01-03', '2021-01-09')", 0),
    ("DATEDIFF(wk, '2020-12-26', '2021-01-10')", 3),
    # DATEPART
    ("DATEPART(dw, '2021-01-03')", 1),  # a Sunday
    ("DATEPART(weekday, '2021-01-09')", 7),  # a Saturday
    ("DATEPART(week, '2021-01-02')", 1),  # Jan 1 is in week 1
    ("DATEPART(week, '2021-01-03')", 2),  # the first Sunday starts week 2
    ("DATEPART(wk, '2021-12-31')", 53),
    ("DATEPART(dy, '2021-02-03')", 34),
    ("DATEPART(quarter, [d])", 4),
    ("DATEPART(second, [f])", 5),
    # DATEADD
    ("DATEADD(day, 2, [d])", datetime.datetime(2021, 1, 2, 23, 0, 0)),
    ("DATEADD(month, 1, [d])", datetime.datetime(2021, 1, 31, 23, 0, 0)),
    ("DATEADD(dy, 1, [d])", datetime.datetime(2021, 1, 1, 23, 0, 0)),
    ("DATEADD(quarter, 1, [d])", datetime.datetime(2021, 3, 31, 23, 0, 0)),
    ("DATEADD(minute, 90 - 30, [t])", datetime.datetime(2020, 1, 2, 4, 4, 5)),
    # YEAR, MONTH and DAY are DATEPART's
    ("YEAR([d])", 2020),
    ("MONTH('2021-02-03')", 2),
    ("DAY([d]) + 1", 32),
    # CHARINDEX is 0 when absent; LEN ignores trailing spaces
    ("CHARINDEX('world', [s])", 7),
    ("CHARINDEX('zzz', [s])", 0),
    ("LEN([s])", 11),
    ("ISNULL([b], 'z') + SPACE(2) + [a]", "z  x"),
    # + is arithmetic next to a function that returns a number
    ("CHARINDEX('-', 'a-b') + 1", 3),
    ("LEN('ab ') + 1", 3),
    ("DATEPART(week, '2021-01-03') + 1", 3),
    # a parenthesized operand is judged by its own chain: a number in it
    # keeps + arithmetic, a string literal alone makes it concatenation
    ("(LEN('abcd') - CHARINDEX('c', 'abcd')) + 1", 2),
    ("(1 + LEN('ab')) + 1", 4),
    ("('ab') + 'c'", "abc"),
    # string + with a NULL operand is NULL
    ("[a] + [b]", None),
    ("[a] + 'y'", "xy"),
    # CONVERT to a char type keeps its length, 30 without one; char pads
    ("CONVERT(varchar(3), 'abcdef')", "abc"),
    ("CONVERT(nvarchar(3), N'abcdef')", "abc"),
    ("CONVERT(char(5), 'ab')", "ab   "),
    ("CONVERT(varchar, REPLICATE('a', 40))", "a" * 30),
    ("CONVERT(varchar(max), REPLICATE('a', 40))", "a" * 40),
    ("CONVERT(varchar, [t], 120)", "2020-01-02 03:04:05"),
    ("CONVERT(varchar(10), [t], 120)", "2020-01-02"),
    ("CONVERT(varchar(23), [f], 121)", "2020-01-02 03:04:05.900"),
    ("CONVERT(int, [x])", 1),
    ("CONVERT(decimal(18, 2), 1.005)", decimal.Decimal("1.01")),  # rounds
    # CAST(x AS type) is CONVERT(type, x): the same targets and lengths
    ("CAST('2020-01-02' AS datetime)", datetime.datetime(2020, 1, 2)),
    ("CAST([x] AS int) + 1", 2),  # 1.5 truncates to 1
    ("CAST('abcdef' AS varchar(3))", "abc"),
    ("CAST(CAST([x] AS int) AS char(3))", "1  "),
    ("CAST([a] AS nvarchar(max)) + 'y'", "xy"),
]


@pytest.mark.parametrize("tsql,expected", CASES, ids=[c[0] for c in CASES])
def test_tsql_semantics_on_spark(spark, tsql, expected):
    r = translate_tsql_expr(tsql, "spark", _STRINGS)
    assert not r.unsure, r.notes
    got = spark.sql(f"SELECT {r.sql} AS v FROM ({_PROBES['spark']})").collect()[0].v
    assert got == expected, r.sql


def _pg_text(value) -> str:
    """A case's expected value as PostgreSQL prints it as text."""
    return "<null>" if value is None else str(value)


@pytest.fixture(scope="module")
def pg_answers(pg):
    """Every case rendered for PostgreSQL and run in one psql session: case
    index → the value as text, absent when the statement failed."""
    sql = [translate_tsql_expr(tsql, "pg", _STRINGS).sql for tsql, _ in CASES]
    script = "".join(
        f"SELECT '{i}=' || coalesce(CAST(({s}) AS text), '<null>') FROM ({_PROBES['pg']}) AS p;\n"
        for i, s in enumerate(sql)
    )
    out = pg(sql=script, stop=False)
    return dict(line.split("=", 1) for line in out.stdout.splitlines() if "=" in line), out.stderr


@pytest.mark.parametrize("tsql,expected", CASES, ids=[c[0] for c in CASES])
def test_tsql_semantics_on_postgres(pg_answers, tsql, expected):
    r = translate_tsql_expr(tsql, "pg", _STRINGS)
    assert not r.unsure, r.notes
    answers, errors = pg_answers
    got = answers.get(str([c[0] for c in CASES].index(tsql)))
    assert got == _pg_text(expected), (r.sql, errors[-300:])


@pytest.mark.parametrize("tsql", [
    "DATEPART(fortnight, [d])",
    "DATEADD(fortnight, 1, [d])",
    "DATEDIFF(fortnight, [d], [t])",
    "CONVERT(varchar(10), [t], 101)",  # a style with no rendering
    "CONVERT(time, [t])",  # Spark has no time type: a string in the catalog
    "CONVERT(xml, [s])",
    "CAST([s] AS xml)",
])
def test_untranslatable_is_unsure(tsql):
    for dialect in ("spark", "pg"):
        r = translate_tsql_expr(tsql, dialect)
        assert r.unsure
        assert r.sql.lower().startswith(tsql.split("(")[0].lower())  # left as written


def test_convert_reads_the_catalog_type_matrix():
    """Both dialects' CAST targets are the matrix's types; PostgreSQL's
    integer CAST rounds, so its fraction is dropped first, as SQL Server
    does."""
    for tsql, spark, pg in [
        ("CONVERT(tinyint, [x])", "CAST(x AS SMALLINT)",
         "CAST(trunc(CAST(x AS numeric)) AS smallint)"),
        ("CONVERT(money, [x])", "CAST(x AS DECIMAL(19,4))", "CAST(x AS numeric(19,4))"),
        ("CONVERT(numeric, [x])", "CAST(x AS DECIMAL(18,0))", "CAST(x AS numeric(18,0))"),
        ("CONVERT(datetime2(7), [x])", "CAST(x AS TIMESTAMP)", "CAST(x AS timestamp)"),
        ("CONVERT(bit, [x])", "CAST(x AS BOOLEAN)", "CAST(x AS boolean)"),
        ("CONVERT(float, [x])", "CAST(x AS DOUBLE)", "CAST(x AS double precision)"),
        ("CONVERT(uniqueidentifier, [x])", "CAST(x AS STRING)", "CAST(x AS uuid)"),
        ("CAST([x] AS tinyint)", "CAST(x AS SMALLINT)",
         "CAST(trunc(CAST(x AS numeric)) AS smallint)"),
    ]:
        assert translate_tsql_expr(tsql, "spark").sql == spark
        assert translate_tsql_expr(tsql, "pg").sql == pg


# --- translator text -------------------------------------------------------


def test_translate_isnull_getdate():
    r = translate_tsql_expr("ISNULL([Some Col], getdate())", "spark")
    assert r.sql == "coalesce(some_col, current_timestamp())"
    assert not r.unsure
    assert translate_tsql_expr("ISNULL([Some Col], getdate())", "pg").sql \
        == "coalesce(some_col, CURRENT_TIMESTAMP)"
    assert translate_tsql_expr("user_name()", "pg").sql == "CURRENT_USER"
    assert translate_tsql_expr("NEWID()", "pg").sql == "gen_random_uuid()"


def test_translate_nested_and_literals():
    r = translate_tsql_expr("ISNULL(CONVERT(VARCHAR(10), [a]), N'isnull(x)')", "spark")
    assert "left(CAST(a AS STRING), 10)" in r.sql  # varchar(10) keeps 10 characters
    # the literal containing 'isnull(' survives untouched (V5 fixture,
    # regression/basic_test/views.sql:96)
    assert "'isnull(x)'" in r.sql
    assert not r.unsure


def test_translate_dateadd_charindex_space():
    r = translate_tsql_expr("DATEADD(day, 2, [d]) ", "spark")
    assert r.sql == "timestampadd(DAY, 2, d)"
    assert translate_tsql_expr("DATEADD(day, 2, [d]) ", "pg").sql == "(d + 2 * INTERVAL '1 day')"
    r2 = translate_tsql_expr("charindex('-', [s], 3)", "spark")
    assert r2.sql == "locate('-', s, 3)"
    assert translate_tsql_expr("charindex('-', [s])", "pg").sql == "strpos(s, '-')"
    # PostgreSQL's strpos has no start position
    assert translate_tsql_expr("charindex('-', [s], 3)", "pg").unsure
    for dialect in ("spark", "pg"):
        assert translate_tsql_expr("SPACE(5)", dialect).sql == "repeat(' ', 5)"


def test_translate_string_concat():
    for dialect in ("spark", "pg"):
        assert translate_tsql_expr("[a] + '|' + [b]", dialect).sql == "a || '|' || b"


def test_translate_unknown_function_marks_unsure():
    for dialect in ("spark", "pg"):
        r = translate_tsql_expr("my_weird_udf([x])", dialect)
        assert r.unsure
        assert "my_weird_udf" in r.sql  # left intact, not guessed
        assert any("my_weird_udf" in n for n in r.notes)


def test_rendered_datediff_is_not_rewritten_again():
    # a rendering that names a T-SQL function would be matched again
    for dialect in ("spark", "pg"):
        r = translate_tsql_expr("CONVERT(varchar, DATEDIFF(day, [a], [b]))", dialect)
        assert not r.unsure, r.notes
        assert "datediff(" not in r.sql.lower()


def test_translate_executes_on_spark(spark):
    r = translate_tsql_expr("ISNULL(NULLIF('a','a'), 'fallback') + SPACE(1) + 'z'", "spark")
    assert not r.unsure
    assert spark.sql(f"SELECT {r.sql} AS v").collect()[0].v == "fallback z"
