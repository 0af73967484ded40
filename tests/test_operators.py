"""Unit tests for the core dataflow operators (SURVEY.md §2.A)."""

from __future__ import annotations

import re
import threading

from pyspark.sql import Row
from pyspark.sql import functions as F

from sqlserver2pgsql_spark.operators.cleanse import cleanse_strings
from sqlserver2pgsql_spark.operators.canonicalize import canonicalize
from sqlserver2pgsql_spark.operators.constraints import (
    check_violations,
    fk_violations,
    pk_violations,
    unique_violations,
)
from sqlserver2pgsql_spark.operators.diff import (
    DIFF_FLAG_COL,
    FLAG_CHANGED,
    FLAG_DELETED,
    FLAG_IDENTICAL,
    FLAG_NEW,
    diff,
)
from sqlserver2pgsql_spark.operators.merge import apply_diff, merge_sql
from sqlserver2pgsql_spark.session import scoped_conf


def test_cleanse_strips_nul_bytes(spark):
    df = spark.createDataFrame(
        [Row(id=1, a="he\x00llo", b=10), Row(id=2, a=None, b=20), Row(id=3, a="", b=30)]
    )
    out = {r.id: r.a for r in cleanse_strings(df).collect()}
    assert out[1] == "hello"
    assert out[2] is None
    assert out[3] == ""  # empty string preserved, NOT nulled (Kettle contract :773-802)


def test_diff_flags_all_four_states(spark):
    src = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b2"), Row(k=3, v=None), Row(k=5, v="new")]
    )
    tgt = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v=""), Row(k=4, v="gone")]
    )
    d = {r.k: r[DIFF_FLAG_COL] for r in diff(src, tgt, ["k"]).collect()}
    assert d == {
        1: FLAG_IDENTICAL,
        2: FLAG_CHANGED,
        3: FLAG_CHANGED,  # NULL vs '' must differ — the reference refuses to
        # run without this guarantee (sqlserver2pgsql.pl:773-802)
        4: FLAG_DELETED,
        5: FLAG_NEW,
    }


def test_diff_key_only_table(spark):
    # the PK covers every column (a link table): nothing to compare, so two
    # present rows are identical
    src = spark.createDataFrame([Row(a=1, b=1), Row(a=1, b=2), Row(a=3, b=None)])
    tgt = spark.createDataFrame([Row(a=1, b=1), Row(a=2, b=2), Row(a=3, b=None)])
    d = diff(src, tgt, ["a", "b"])
    assert d.columns == ["a", "b", DIFF_FLAG_COL]
    assert sorted((r.a, r.b, r[DIFF_FLAG_COL]) for r in d.collect()) == sorted([
        (1, 1, FLAG_IDENTICAL), (1, 2, FLAG_NEW), (2, 2, FLAG_DELETED),
        (3, None, FLAG_IDENTICAL),
    ])


def test_diff_and_cleanse_quote_bracketed_names(spark):
    schema = "`Order Date` string, `a.b` int, `we``ird` string"
    src = spark.createDataFrame([("d1\x00", 1, "x"), ("d2", 2, "y"), ("d4", 4, "z")], schema)
    tgt = spark.createDataFrame([("d1", 1, "x"), ("d2", 2, "changed"), ("d3", 3, "w")],
                                schema)
    clean = cleanse_strings(src)
    assert clean.columns == ["Order Date", "a.b", "we`ird"]
    d = diff(clean, tgt, ["a.b"])
    assert d.columns == ["a.b", "Order Date", "we`ird", DIFF_FLAG_COL]  # keys first
    assert sorted(tuple(r) for r in d.collect()) == [
        (1, "d1", "x", FLAG_IDENTICAL), (2, "d2", "y", FLAG_CHANGED),
        (3, "d3", "w", FLAG_DELETED), (4, "d4", "z", FLAG_NEW),
    ]


def test_cleanse_pattern_ignores_escaped_string_literals(spark):
    # each character reaches Spark as hex, not as a SQL string literal, so a
    # session that reads literals without escape processing strips the
    # same characters; a backslash, which the two modes read differently in
    # a literal, shows the difference
    df = spark.createDataFrame([Row(a="x\\ny\rz\x00")])
    for flag in ("true", "false"):
        with scoped_conf(spark, {"spark.sql.parser.escapedStringLiterals": flag}):
            assert cleanse_strings(df, "\\\\").first().a == "xny\rz\x00"
            assert cleanse_strings(df, "\r").first().a == "x\\nyz\x00"
            assert cleanse_strings(df).first().a == "x\\ny\rz"


#: (chars, input, expected): every character of ``chars`` is stripped
#: literally, and nothing else
_CLEANSE_CASES = [
    ("\x00", "\x00abc", "abc"),
    ("\x00", "abc\x00", "abc"),
    ("\x00", "a\x00\x00\x00b\x00\x00", "ab"),
    ("\x00", "\x00\x00", ""),
    ("\x00", "é\x00ü", "éü"),
    ("\x00", "\x00日本", "日本"),
    ("\x00", "no nul", "no nul"),
    ("\x00", None, None),
    ("\x00", "", ""),
    (".", "a.b*c\\d", "ab*c\\d"),
    ("*", "a.b*c\\d", "a.bc\\d"),
    ("\\", "a.b*c\\d", "a.b*cd"),
    (".*\\", "a.b*c\\d\x00", "abcd\x00"),
    ("\x00\r", "\r\x00a\r\n\x00", "a\n"),
]


def test_cleanse_strips_each_char_literally(spark):
    schema = "id int, `[Order Date]` string, s string, n bigint, raw binary"
    rows = [(i, inp, inp, i * 10, bytearray(b"\x00.")) for i, (_, inp, _) in
            enumerate(_CLEANSE_CASES)]
    df = spark.createDataFrame(rows, schema)
    for chars in dict.fromkeys(c for c, _, _ in _CLEANSE_CASES):
        out = cleanse_strings(df, chars)
        assert out.schema == df.schema
        got = {r.id: r for r in out.collect()}
        for i, (c, inp, want) in enumerate(_CLEANSE_CASES):
            r = got[i]
            # non-string columns keep their values, NUL included
            assert (r.n, bytes(r.raw)) == (i * 10, b"\x00."), (chars, inp)
            if c == chars:
                assert r["[Order Date]"] == r.s == want, (chars, inp)


def test_cleanse_empty_chars_strips_nothing(spark):
    df = spark.createDataFrame([Row(a="x\x00", n=1)])
    out = cleanse_strings(df, "")
    assert out.schema == df.schema and out.collect() == df.collect()
    assert "replace" not in out._jdf.queryExecution().optimizedPlan().toString()


def test_cleanse_plan_is_one_byte_level_replace_per_column_and_char(spark):
    # replace is UTF8String.replace on the bytes; regexp_replace would
    # decode every value and run a java.util.regex.Matcher over it
    df = spark.createDataFrame([(1, "a", "b", 1.0)], "id int, a string, `b c` string, x double")
    for chars, per_col in (("\x00", 1), ("\x00\r", 2), ("\x00\x00", 1)):
        plan = cleanse_strings(df, chars)._jdf.queryExecution().optimizedPlan().toString()
        assert "regexp" not in plan.lower(), plan
        assert len(re.findall(r"\breplace\(", plan)) == 2 * per_col, plan


def _round_trips(build) -> int:
    from py4j.clientserver import ClientServerConnection

    calls = 0
    real = ClientServerConnection.send_command
    me = threading.get_ident()

    def counted(self, command):
        nonlocal calls
        # py4j's finalizer thread sends the release of every freed JavaObject
        # proxy, whenever it wakes; those trips are not the build's
        if threading.get_ident() == me:
            calls += 1
        return real(self, command)

    ClientServerConnection.send_command = counted
    try:
        build()
    finally:
        ClientServerConnection.send_command = real
    return calls


def _wide(spark, n: int, shift: int = 0):
    return spark.range(3).selectExpr(
        "id AS k", *(f"CAST(id + {shift} AS STRING) AS c{i}" for i in range(n)))


def test_projection_build_cost_is_flat_per_column(spark):
    # diff and cleanse build their projections as SQL text: at most 2 py4j
    # round trips per extra column (the Column API spent about 100 per
    # column on diff and 60 on cleanse)
    narrow = (_wide(spark, 4), _wide(spark, 4, 1))
    wide = (_wide(spark, 40), _wide(spark, 40, 1))
    for build in (lambda s, t: diff(s, t, ["k"]),
                  lambda s, t: cleanse_strings(s)):
        small = _round_trips(lambda: build(*narrow))
        large = _round_trips(lambda: build(*wide))
        assert small > 0  # the counter sees the gateway's trips
        assert large - small <= 2 * 36, (small, large)


def test_apply_diff_reproduces_source(spark):
    src = spark.createDataFrame([Row(k=i, v=str(i)) for i in range(50)])
    tgt = spark.createDataFrame(
        [Row(k=i, v=str(i) if i % 7 else "stale") for i in range(10, 60)]
    )
    synced = apply_diff(diff(src, tgt, ["k"])).select("k", "v")
    assert sorted((r.k, r.v) for r in synced.collect()) == [(i, str(i)) for i in range(50)]


def test_merge_sql_shape():
    sql = merge_sql("tgt", "stg", ["id"], ["a", "b"])
    assert 'MERGE INTO tgt t USING stg s ON t."id" = s."id"' in sql
    assert 'THEN DELETE' in sql and 'UPDATE SET "a" = s."a", "b" = s."b"' in sql


def test_canonicalize_uuid_and_strings(spark):
    import datetime

    df = spark.createDataFrame(
        [Row(u="ABC-DEF", s="MiXeD", d=datetime.date(2020, 1, 2))]
    )
    row = canonicalize(df, uuid_cols={"u"}).collect()[0]
    assert row.u == "abc-def" and row.s == "MiXeD"
    srow = canonicalize(df, uuid_cols={"u"}, as_strings=True).collect()[0]
    assert srow.d == "2020-01-02"


def test_constraint_validators(spark):
    child = spark.createDataFrame(
        [Row(id=1, fk=10), Row(id=2, fk=99), Row(id=3, fk=None), Row(id=3, fk=10)]
    )
    parent = spark.createDataFrame([Row(pk=10), Row(pk=11)])
    assert [r.fk for r in fk_violations(child, ["fk"], parent, ["pk"]).collect()] == [99]
    assert [(r.id, r.n) for r in pk_violations(child, ["id"]).collect()] == [(3, 2)]
    dup = spark.createDataFrame([Row(u=1), Row(u=1), Row(u=None), Row(u=None)])
    assert [(r.u, r.n) for r in unique_violations(dup, ["u"]).collect()] == [(1, 2)]
    chk = spark.createDataFrame([Row(x=5), Row(x=-1), Row(x=None)])
    assert [r.x for r in check_violations(chk, "x >= 0").collect()] == [-1]
