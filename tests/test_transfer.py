"""M3 tests: JDBC option/SQL builders and the parquet-backed full-load +
incremental orchestration end-to-end."""

from __future__ import annotations

import datetime
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from sqlserver2pgsql_spark.catalog.model import Column, Table, UniqueConstraint
from sqlserver2pgsql_spark.ddl import parse_dump, parse_text
from sqlserver2pgsql_spark.operators.cleanse import cleanse_strings
from sqlserver2pgsql_spark.operators.diff import diff
from sqlserver2pgsql_spark.operators.merge import apply_diff
from sqlserver2pgsql_spark.operators.sqltext import ident
from sqlserver2pgsql_spark.plans import (
    Orchestrator,
    ParquetStore,
    TableTransfer,
    build_transfer_plans,
    format_report,
)
from sqlserver2pgsql_spark.plans import transfer
from sqlserver2pgsql_spark.sources.jdbc import (
    JdbcConfig,
    MSSQL_DRIVER,
    PG_DRIVER,
    mssql_scan_sql,
    partitioned_read_spec,
    pg_scan_sql,
    reader_options,
    writer_options,
)

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "ssms_sample.sql")

_DDL = """
CREATE TABLE [dbo].[items](
    [id] [int] NOT NULL,
    [uid] [uniqueidentifier] NOT NULL,
    [name] [nvarchar](50) NULL,
    [born] [date] NULL,
    [blob] [varbinary](max) NULL,
 CONSTRAINT [pk_items] PRIMARY KEY CLUSTERED ([id] ASC)
) ON [PRIMARY]
GO
CREATE TABLE [dbo].[nopk](
    [a] [int] NULL,
    [b] [nvarchar](10) NULL
) ON [PRIMARY]
GO
"""


@pytest.fixture(scope="module")
def catalog():
    return parse_text(_DDL)


def test_mssql_scan_sql_coercions(catalog):
    t = catalog.schemas["public"].tables["items"]
    sql = mssql_scan_sql(t)
    assert sql.startswith("SELECT ")
    assert "lower([uid])" in sql  # uuid canonicalization (:446)
    assert "convert(varchar(50), [born], 120)" in sql  # date (:451)
    assert sql.endswith("WITH(NOLOCK)")  # dirty reads (:3666)
    assert "SELECT *" not in sql  # explicit projection (:984-1001)


def test_pg_scan_sql_matches_canonical_forms(catalog):
    t = catalog.schemas["public"].tables["items"]
    sql = pg_scan_sql("public", t)
    assert 'lower(cast("uid" as varchar))' in sql  # (:471)
    assert """to_char("born", 'YYYY-MM-DD')""" in sql  # (:472)
    assert sql.endswith(' FROM "public"."items"')


def test_scan_sql_quotes_bracketed_names():
    # [dbo].[Sales Orders] of the SSMS fixture: spaces, a dot and ]] in names
    t = parse_dump(FIXTURE).schemas["public"].tables["sales_orders"]
    assert t.orig_name == "Sales Orders"
    assert mssql_scan_sql(t) == (
        "SELECT [Order Id], [Order Date], [Ship.Mode], [Odd]]Name] "
        "FROM [dbo].[Sales Orders] WITH(NOLOCK)"
    )
    assert pg_scan_sql("public", t) == (
        'SELECT "order_id", "order_date", "ship.mode", "odd]name" '
        'FROM "public"."sales_orders"'
    )


def test_partitioned_read_heuristic(catalog):
    items = catalog.schemas["public"].tables["items"]
    assert items.has_lobs  # varbinary(max)
    spec = partitioned_read_spec(items)
    assert spec == {"partitionColumn": "id", "numPartitions": "8"}
    nopk = catalog.schemas["public"].tables["nopk"]
    assert partitioned_read_spec(nopk) is None  # no PK → no parallel scan

    # composite-PK table → excluded (single int PK required, :949-963)
    t = Table(name="x", orig_schema="dbo")
    t.columns["a"] = Column("a", "a", "int", spark_type="int", nullable=False, position=1)
    t.has_lobs = True
    t.primary_key = UniqueConstraint(name=None, cols=["a", "b"], is_primary=True)
    assert partitioned_read_spec(t) is None


def test_reader_writer_options(catalog):
    t = catalog.schemas["public"].tables["items"]
    cfg = JdbcConfig("jdbc:sqlserver://h:1433;db=x", "u", "p", MSSQL_DRIVER)
    ropts = reader_options(t, cfg)
    assert "dbtable" in ropts and ropts["partitionColumn"] == "id"  # LOB path
    pg = JdbcConfig("jdbc:postgresql://h/db", "u", "p", PG_DRIVER)
    wopts = writer_options(pg, "public.items")
    assert wopts["batchsize"] == "10000"
    assert wopts["numPartitions"] == "8"  # reference write parallelism (:166)
    assert "reWriteBatchedInserts=true" in wopts["url"]  # (:3470)
    assert wopts["sessionInitStatement"] == "SET synchronous_commit TO off"  # (:3479)


def test_full_load_and_incremental_orchestration(spark, catalog, tmp_path):
    src_store = ParquetStore(spark, str(tmp_path / "src"))
    tgt_store = ParquetStore(spark, str(tmp_path / "tgt"))

    rows = [
        Row(id=i, uid=f"UUID-{i}", name=f"n{i}\x00", born=None, blob=None)
        for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, schema="id int, uid string, name string, born date, blob binary"
    )
    src_store.write(df, "public", "items")
    src_store.write(
        spark.createDataFrame([Row(a=1, b="x")], schema="a int, b string"),
        "public",
        "nopk",
    )

    hooks_ran = []
    orch = Orchestrator(
        src_store,
        tgt_store,
        before_hooks=[lambda: hooks_ran.append("before")],
        after_hooks=[lambda: hooks_ran.append("after")],
    )

    # full load
    plans = build_transfer_plans(catalog)
    assert [p.mode for p in plans] == ["full", "full"]
    metrics = orch.run(plans)
    assert hooks_ran == ["before", "after"]
    assert {m.table: m.rows for m in metrics} == {"items": 100, "nopk": 1}
    # cleanse ran: NUL bytes stripped (A5)
    assert tgt_store.read("public", "items").filter("name LIKE '%\x00%'").count() == 0

    # drift the source, then incremental sync
    drifted = df.filter("id % 7 != 0").unionByName(
        spark.createDataFrame(
            [Row(id=1000, uid="NEW", name="new", born=None, blob=None)],
            schema=df.schema,
        )
    )
    src_store.write(drifted, "public", "items")
    plans2 = build_transfer_plans(catalog, incremental=True)
    assert {p.table.name: p.mode for p in plans2} == {
        "items": "incremental",
        "nopk": "full",  # PK-less → full reload (:1163-1166)
    }
    m2 = orch.run(plans2)
    synced = tgt_store.read("public", "items")
    assert synced.count() == drifted.count()
    assert synced.filter("id = 1000").count() == 1  # insert applied
    assert synced.filter("id = 7").count() == 0  # delete applied

    report = format_report(m2)
    assert "rows/sec" in report and "public.items" in report


_ITEMS = "id int, uid string, name string, born date, blob binary"


def _items(spark, ids):
    return spark.createDataFrame(
        [Row(id=i, uid=f"u{i}", name=f"n{i}", born=None, blob=None) for i in ids],
        schema=_ITEMS,
    )


def _stores(spark, tmp_path):
    return (ParquetStore(spark, str(tmp_path / "src")),
            ParquetStore(spark, str(tmp_path / "tgt")))


def _written(store, table):
    return pq.read_table(store.path("public", table)).num_rows


def test_rows_are_the_written_rows(spark, catalog, tmp_path):
    # TransferMetrics.rows comes from an observation on the write; it must
    # equal the rows in the files the write left, in every mode
    src, tgt = _stores(spark, tmp_path)
    src.write(_items(spark, range(50)), "public", "items")
    src.write(spark.createDataFrame([], schema="a int, b string"), "public", "nopk")
    orch = Orchestrator(src, tgt)

    full = orch.run(build_transfer_plans(catalog))  # full load; nopk empty
    assert {m.table: m.rows for m in full} == {"items": 50, "nopk": 0}
    for m in full:
        assert m.rows == _written(tgt, m.table)

    src.write(_items(spark, range(10, 70)), "public", "items")  # drift
    synced = orch.run(build_transfer_plans(catalog, incremental=True))
    assert [m.mode for m in synced] == ["incremental", "full"]
    assert {m.table: m.rows for m in synced} == {"items": 60, "nopk": 0}
    for m in synced:
        assert m.rows == _written(tgt, m.table)

    src.write(spark.createDataFrame([Row(a=i, b="x") for i in range(7)],
                                    schema="a int, b string"), "public", "nopk")
    both = Orchestrator(src, tgt, max_workers=2).run(
        build_transfer_plans(catalog, incremental=True))
    assert {m.table: m.rows for m in both} == {"items": 60, "nopk": 7}
    for m in both:
        assert m.rows == _written(tgt, m.table)


def _cost(spark, orch, plan) -> tuple[int, int, int]:
    """Spark jobs, stages and shuffle bytes (read plus written) of one
    transfer, from the status tracker and the status store behind it."""
    sc = spark.sparkContext
    group = f"transfer-{uuid.uuid4().hex}"
    sc.setJobGroup(group, plan.table.name)
    try:
        orch.run([plan])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # stage metrics are posted async
    store = sc._jsc.sc().statusStore()
    shuffle = sum(d.shuffleReadBytes() + d.shuffleWriteBytes()
                  for d in map(store.lastStageAttempt, stages))
    return len(jobs), len(stages), shuffle


def test_transfer_job_budget(spark, catalog, tmp_path):
    # measured on Spark 4.1: a table costs its write job alone in either
    # mode, one stage with no shuffle. An incremental PK table writes the
    # cleansed source, the target's post-merge state, so neither reads
    # the target nor joins it (the diff and merge cost 3 jobs, 5 stages
    # and a shuffle of both sides). Store reads take their schema from the
    # parquet footer, so no read runs a schema-inference job; a re-read of
    # the target to count its rows would add jobs too.
    src, tgt = _stores(spark, tmp_path)
    src.write(_items(spark, range(40)), "public", "items")
    src.write(spark.createDataFrame([Row(a=1, b="x")], schema="a int, b string"),
              "public", "nopk")
    orch = Orchestrator(src, tgt)
    orch.run(build_transfer_plans(catalog))
    src.write(_items(spark, range(5, 45)), "public", "items")
    plans = {p.table.name: p for p in build_transfer_plans(catalog, incremental=True)}
    assert plans["items"].mode == "incremental"
    assert _cost(spark, orch, plans["items"]) == (1, 1, 0)
    assert _cost(spark, orch, plans["nopk"]) == (1, 1, 0)


def test_incremental_sync_does_not_read_the_target(spark, catalog, tmp_path, monkeypatch):
    src, tgt = _stores(spark, tmp_path)
    src.write(_items(spark, range(20)), "public", "items")
    orch = Orchestrator(src, tgt)
    (plan,) = [p for p in build_transfer_plans(catalog, incremental=True)
               if p.table.name == "items"]
    orch.run([plan])  # the first sync finds no target
    src.write(_items(spark, range(10, 30)), "public", "items")

    def read(*_):
        raise AssertionError("the target was read")

    monkeypatch.setattr(tgt, "read", read)
    (m,) = orch.run([plan])
    assert m.mode == "incremental" and m.rows == 20 == _written(tgt, "items")
    ids = pq.read_table(tgt.path("public", "items"), columns=["id"]).column("id")
    assert sorted(ids.to_pylist()) == list(range(10, 30))


def _plan(table: str, cols: list[str], pk: list[str], mode: str) -> TableTransfer:
    t = Table(name=table, orig_schema="dbo")
    for i, c in enumerate(cols, 1):
        t.columns[c] = Column(c, c, "nvarchar", position=i)
    t.primary_key = UniqueConstraint(name=None, cols=pk, is_primary=True)
    return TableTransfer(schema="public", table=t, mode=mode)


def _rows(store, table):
    return sorted(tuple(r) for r in store.read("public", table).collect())


def test_key_only_table_syncs(spark, tmp_path):
    # a many-to-many link table: the PK covers every column, so the diff
    # has nothing to compare and rows are either kept, new or deleted
    src, tgt = _stores(spark, tmp_path)
    link = "a int, b int"
    src.write(spark.createDataFrame([(i, i % 3) for i in range(12)], link), "public", "link")
    orch = Orchestrator(src, tgt)
    (full,) = orch.run([_plan("link", ["a", "b"], ["a", "b"], "full")])
    assert full.rows == 12
    drifted = [(i, i % 3) for i in range(4, 15)] + [(0, 2)]
    src.write(spark.createDataFrame(drifted, link), "public", "link")
    (inc,) = orch.run([_plan("link", ["a", "b"], ["a", "b"], "incremental")])
    assert inc.mode == "incremental" and inc.rows == len(drifted)
    assert _rows(tgt, "link") == sorted(drifted)


def test_bracket_quoted_names_round_trip(spark, tmp_path):
    # SQL Server names in brackets may hold spaces, dots and backticks;
    # cleanse, diff and the synced projection must quote every one
    cols = ["Order Date", "a.b", "we`ird", "id"]
    schema = "`Order Date` string, `a.b` string, `we``ird` int, id int"
    src, tgt = _stores(spark, tmp_path)
    first = [(f"d{i}\x00", f"x{i}", i * 2, i) for i in range(10)]
    src.write(spark.createDataFrame(first, schema), "public", "odd")
    orch = Orchestrator(src, tgt)
    (full,) = orch.run([_plan("odd", cols, ["id", "a.b"], "full")])
    assert full.rows == 10
    assert tgt.read("public", "odd").columns == cols
    assert _rows(tgt, "odd") == sorted((f"d{i}", f"x{i}", i * 2, i) for i in range(10))

    second = [(f"d{i}", f"x{i}", i * 2 + (i == 3), i) for i in range(2, 12)]
    src.write(spark.createDataFrame(second, schema), "public", "odd")
    (inc,) = orch.run([_plan("odd", cols, ["id", "a.b"], "incremental")])
    assert inc.mode == "incremental" and inc.rows == 10
    assert tgt.read("public", "odd").columns == cols
    assert _rows(tgt, "odd") == sorted(second)


#: table shapes of the sync property: (name, type) columns and the key
_SHAPES = {
    "nullable values": ([("id", "int"), ("name", "string"), ("qty", "int")], ["id"]),
    "key only": ([("a", "int"), ("b", "int")], ["a", "b"]),
    "multi-column key": ([("k1", "int"), ("k2", "string"), ("v", "string")], ["k1", "k2"]),
    "bracket-quoted names": (
        [("Order Id", "int"), ("a.b", "string"), ("we`ird", "int")], ["Order Id", "a.b"]),
}
_KEY = {"int": st.integers(0, 5), "string": st.sampled_from(["p", "q", "r s"])}
_VALUE = {"int": st.none() | st.integers(0, 2),
          "string": st.none() | st.sampled_from(["", "x", "x\x00", "\x00y"])}


@st.composite
def _table(draw, cols, keys):
    """Rows with unique keys over a small key space, so two drawn tables
    share keys with equal, different and NULL values."""
    key = st.tuples(*(_KEY[t] for n, t in cols if n in keys))
    value = st.tuples(*(_VALUE[t] for n, t in cols if n not in keys))
    rows = []
    for k, v in draw(st.dictionaries(key, value, max_size=8)).items():
        ks, vs = iter(k), iter(v)
        rows.append(tuple(next(ks) if n in keys else next(vs) for n, _ in cols))
    return rows


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize("shape", list(_SHAPES))
@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_sync_writes_the_merged_state(spark, tmp_path_factory, shape, data):
    # the synced target is the post-merge state the diff and merge compute
    # against the target, whatever the drift: rows kept, changed, added and
    # deleted, NULL values, a key over every column, quoted names
    cols, keys = _SHAPES[shape]
    names = [n for n, _ in cols]
    ddl = ", ".join(f"{ident(n)} {t}" for n, t in cols)
    src, tgt = _stores(spark, tmp_path_factory.mktemp("sync"))
    src.write(spark.createDataFrame(data.draw(_table(cols, keys)), ddl), "public", "t")
    tgt.write(spark.createDataFrame(data.draw(_table(cols, keys)), ddl), "public", "t")
    merged = apply_diff(diff(cleanse_strings(src.read("public", "t")),
                             tgt.read("public", "t"), keys))
    expected = _sorted_rows(merged.selectExpr(*map(ident, names)))
    (m,) = Orchestrator(src, tgt).run([_plan("t", names, keys, "incremental")])
    assert m.rows == len(expected)
    assert tgt.read("public", "t").columns == names
    assert _sorted_rows(tgt.read("public", "t")) == expected


def test_nanosecond_timestamps_sync(spark, tmp_path):
    # pyarrow's default timestamp[ns] is INT64 TIMESTAMP(NANOS), which
    # Spark's reader rejects; the store reads it as microsecond timestamps
    src, tgt = _stores(spark, tmp_path)
    path = src.path("public", "ev")
    os.makedirs(os.path.dirname(path))

    def put(ids, shift):
        ts = [datetime.datetime(2024, 1, 1, 0, 0, i % 60, 250 * i) for i in ids]
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int32()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "v": [f"v{i + shift}" for i in ids],
        }), path)
        return sorted((i, t, f"v{i + shift}") for i, t in zip(ids, ts))

    orch = Orchestrator(src, tgt)
    first = put(list(range(10)), 0)
    (full,) = orch.run([_plan("ev", ["id", "ts", "v"], ["id"], "full")])
    assert full.rows == 10 and _rows(tgt, "ev") == first
    second = put(list(range(5, 15)), 1)
    (inc,) = orch.run([_plan("ev", ["id", "ts", "v"], ["id"], "incremental")])
    assert inc.mode == "incremental" and inc.rows == 10
    assert _rows(tgt, "ev") == second


def test_swap_cut_between_steps_keeps_the_target(spark, catalog, tmp_path, monkeypatch):
    src, tgt = _stores(spark, tmp_path)
    src.write(_items(spark, range(30)), "public", "items")
    src.write(spark.createDataFrame([Row(a=1, b="x")], schema="a int, b string"),
              "public", "nopk")
    orch = Orchestrator(src, tgt)
    orch.run(build_transfer_plans(catalog))
    final = tgt.path("public", "items")
    real_replace = os.replace

    def cut(a, b):  # the rename of the new copy into place fails
        if a == final + ".tmp":
            raise OSError("cut between move-aside and swap")
        real_replace(a, b)

    src.write(_items(spark, range(100, 120)), "public", "items")
    plan = [p for p in build_transfer_plans(catalog) if p.table.name == "items"]
    monkeypatch.setattr(transfer.os, "replace", cut)
    with pytest.raises(OSError, match="cut between"):
        orch.run(plan)
    monkeypatch.undo()
    assert not os.path.exists(final)  # the old copy sits aside
    # the old rows are intact and come back
    tgt.recover("public", "items")
    old = tgt.read("public", "items")
    assert sorted(r.id for r in old.select("id").collect()) == list(range(30))

    # cut again, then the next run repairs and succeeds
    monkeypatch.setattr(transfer.os, "replace", cut)
    with pytest.raises(OSError, match="cut between"):
        orch.run(plan)
    monkeypatch.undo()
    (m,) = orch.run(plan)
    assert m.rows == 20 == _written(tgt, "items")
    assert sorted(r.id for r in tgt.read("public", "items").select("id").collect()) \
        == list(range(100, 120))
    assert not os.path.exists(final + ".old")


def test_datetimeoffset_same_string_contract():
    # identical instants must render the SAME string on both scan sides, or
    # the incremental diff flags every datetimeoffset row as changed
    cat = parse_text(
        "CREATE TABLE [dbo].[t](\n"
        "  [id] [int] NOT NULL,\n"
        "  [at] [datetimeoffset](7) NULL,\n"
        " CONSTRAINT [pk_t] PRIMARY KEY ([id])\n"
        ")\nGO\n"
    )
    t = cat.schemas["public"].tables["t"]
    ms = mssql_scan_sql(t)
    pg = pg_scan_sql("public", t)
    # MSSQL: UTC-normalized, microsecond precision, literal '+00' suffix
    assert "switchoffset([at], '+00:00')" in ms
    assert "datetime2(6)" in ms and "+ '+00'" in ms
    # PG: same shape — UTC, .US (6-digit), '+00'
    assert "AT TIME ZONE 'UTC'" in pg and "HH24:MI:SS.US+00" in pg
