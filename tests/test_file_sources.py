"""File source/sink tests: JSONL/CSV quarantine contract, partitioned
parquet sink + reader-side partition pruning (the §4 physical technique)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlserver2pgsql_spark.measure import plan_text
from sqlserver2pgsql_spark.sources.files import (
    read_csv,
    read_jsonl,
    write_partitioned,
)

_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def test_jsonl_quarantine_split(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "name": "a", "score": 0.5}\n'
        '{"id": 2, "name": "b", "score": 0.25}\n'
        "this is not json at all\n"
        '{"id": "NaNope", "name": "c", "score": 1.0}\n'
    )
    good, bad = read_jsonl(spark, str(p), _SCHEMA)
    assert sorted(r.id for r in good.collect()) == [1, 2]
    bad_rows = [r.raw_line for r in bad.collect()]
    assert len(bad_rows) == 2
    assert any("not json" in b for b in bad_rows)
    assert any("NaNope" in b for b in bad_rows)


def test_csv_quarantine_split(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,name,score\n1,a,0.5\n2,b,not_a_double\n3,c,1.25\n")
    good, bad = read_csv(spark, str(p), _SCHEMA)
    assert sorted(r.id for r in good.collect()) == [1, 3]
    assert [r.raw_line for r in bad.collect()] == ["2,b,not_a_double"]


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    from sqlserver2pgsql_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    out = str(tmp_path / "ev_parts")
    write_partitioned(ev, out, ["event_type"], sort_cols=["event_id"])

    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = plan_text(back)
    # the filter must become a PartitionFilter on the directory layout, not
    # a post-scan Filter over all partitions
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1][:200]
    exp = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == exp


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    from sqlserver2pgsql_spark.sources.files import read_orc, write_orc

    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) / 2) for i in range(100)], _SCHEMA
    )
    out = str(tmp_path / "t.orc")
    write_orc(df, out)
    back = read_orc(spark, out, _SCHEMA)
    assert back.count() == 100
    assert sorted(r.id for r in back.collect()) == list(range(100))
    # predicate pushdown reaches the ORC scan
    plan = plan_text(back.filter(F.col("id") > 50).select("id"))
    assert "PushedFilters" in plan and "id" in plan.split("PushedFilters")[1][:120]


def test_orc_partitioned_layout(spark, tmp_path):
    import os

    from sqlserver2pgsql_spark.sources.files import write_orc

    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd", 0.0) for i in range(20)], _SCHEMA
    )
    out = str(tmp_path / "p.orc")
    write_orc(df, out, partition_cols=["name"])
    assert sorted(
        d for d in os.listdir(out) if d.startswith("name=")
    ) == ["name=even", "name=odd"]


def test_text_lines_source(spark, tmp_path):
    from sqlserver2pgsql_spark.sources.files import read_text_lines

    p = tmp_path / "crawl.txt"
    p.write_text("hello world\n\n   \nsecond line\nhello world\n")
    rows = read_text_lines(spark, str(p)).collect()
    # blank/whitespace-only lines dropped; duplicate lines share a line_id
    assert len(rows) == 3
    by_line = {}
    for r in rows:
        by_line.setdefault(r.line, set()).add(r.line_id)
    assert set(by_line) == {"hello world", "second line"}
    assert all(len(ids) == 1 for ids in by_line.values())


def test_fixed_width_parse_and_quarantine(spark, tmp_path):
    from sqlserver2pgsql_spark.sources.files import read_fixed_width

    # spec: id (1-6), name (7-16), amount (17-24)
    spec = [("id", 1, 6, "bigint"), ("name", 7, 10, "string"), ("amount", 17, 8, "double")]

    def line(id_s, name, amount):
        return id_s.rjust(6, "0")[:6] + name.ljust(10)[:10] + amount.rjust(8)[:8]

    lines = [
        line("42", "Widget", "12.50"),     # good
        line("43", "Gadget", "3.25"),      # good (right-aligned amount)
        line("44", "NullAmt", "")[:18],    # short line -> quarantine
        "00004X" + "BadId".ljust(10) + "   99.99",  # id fails cast -> quarantine
        line("45", "Spaces", "7."),        # amount '7.' casts -> good
    ]
    p = tmp_path / "fw.txt"
    p.write_text("\n".join(lines) + "\n")
    good, quarantine = read_fixed_width(spark, str(p), spec)
    g = {r.id: r for r in good.collect()}
    q = [r.raw_line for r in quarantine.collect()]
    assert set(g) == {42, 43, 45}
    assert g[42].name == "Widget" and g[42].amount == 12.5
    assert g[43].amount == 3.25
    assert g[45].amount == 7.0
    assert len(q) == 2 and any("BadId" in x for x in q)


def test_fixed_width_empty_numeric_is_null_not_quarantined(spark, tmp_path):
    from sqlserver2pgsql_spark.sources.files import read_fixed_width

    spec = [("id", 1, 4, "bigint"), ("amount", 5, 6, "double")]
    p = tmp_path / "fw2.txt"
    p.write_text("0001      \n0002  3.14\n")
    good, quarantine = read_fixed_width(spark, str(p), spec, min_line_len=4)
    rows = {r.id: r.amount for r in good.collect()}
    assert rows == {1: None, 2: 3.14}
    assert quarantine.count() == 0


def test_load_table_reads_nanos_without_session_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) column loads truncated to microseconds through an
    explicit schema: the other columns keep their inferred types and the
    session conf is the same before and after."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sqlserver2pgsql_spark.sources.tables import load_table

    tbl = pa.table({
        "t_ns": pa.array([1_600_000_000_123_456_789, -1_999], pa.timestamp("ns")),
        "t_us": pa.array([1_700_000_000_000_001, 5], pa.timestamp("us")),
        "s": ["a", None],
    })
    pq.write_table(tbl, str(tmp_path / "nanos.parquet"))
    pq.write_table(tbl.drop(["t_ns"]), str(tmp_path / "rest.parquet"))
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)

    df = load_table(spark, str(tmp_path), "nanos")

    assert spark.conf.get(key, None) == before
    inferred = dict(spark.read.parquet(str(tmp_path / "rest.parquet")).dtypes)
    assert {c: t for c, t in df.dtypes if c != "t_ns"} == inferred
    got = df.select(F.unix_micros("t_ns").alias("us")).collect()
    # `div` truncates toward zero: -1999 ns -> -1 us
    assert sorted(r.us for r in got) == [-1, 1_600_000_000_123_456]


def test_load_table_reads_int96_like_spark(spark, tmp_path):
    """Legacy INT96 timestamps surface in arrow as ``timestamp[ns]`` like
    TIMESTAMP(NANOS) does, but Spark reads them natively: load_table gives
    what ``spark.read.parquet`` gives."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sqlserver2pgsql_spark.sources.tables import load_table

    tbl = pa.table({
        "t": pa.array([datetime.datetime(2020, 1, 2, 3, 4, 5, 678901), None],
                      pa.timestamp("ns")),
        "k": [1, 2],
    })
    pq.write_table(tbl, str(tmp_path / "int96.parquet"),
                   use_deprecated_int96_timestamps=True)

    df = load_table(spark, str(tmp_path), "int96")
    plain = spark.read.parquet(str(tmp_path / "int96.parquet"))

    assert df.dtypes == plain.dtypes
    assert sorted(df.collect(), key=lambda r: r.k) == sorted(plain.collect(), key=lambda r: r.k)
