"""Footer schemas (sources.footer) against Spark's own schema inference.

``footer_schema(path)`` must equal ``spark.read.parquet(path).schema`` on
every file the engine reads: pyarrow-written files across the parquet type
matrix, Spark-written tables (with Spark's recorded schema in the footer),
and the fixtures. Reading a store table through it runs no Spark job.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from sqlserver2pgsql_spark.plans import ParquetStore
from sqlserver2pgsql_spark.sources.footer import first_data_file, footer_schema
from sqlserver2pgsql_spark.sources.tables import TABLE_NAMES, load_table
from tests.conftest import SF_DIR

_TS = [dt.datetime(2020, 1, 1, 1, 2, 3, 4), None]

_ARROW = {
    "naive_us": pa.array(_TS, pa.timestamp("us")),
    "naive_ms": pa.array(_TS, pa.timestamp("ms")),
    "tz_us": pa.array(_TS, pa.timestamp("us", tz="UTC")),
    "tz_ms": pa.array(_TS, pa.timestamp("ms", tz="Europe/Paris")),
    "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(10, 2)),
    "dec5": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(5, 2)),
    "dec30": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(30, 2)),
    "bin": pa.array([b"a", None], pa.binary()),
    "fixed_bin": pa.array([b"ab", None], pa.binary(2)),
    "lst": pa.array([[1, 2], None], pa.list_(pa.int32())),
    "st": pa.array([{"x": 1, "y": "a"}, None],
                   pa.struct([("x", pa.int64()), ("y", pa.string())])),
    "mp": pa.array([[("a", 1)], None], pa.map_(pa.string(), pa.int32())),
    "nested": pa.array([[{"x": [1]}], None],
                       pa.list_(pa.struct([("x", pa.list_(pa.int16()))]))),
    "date": pa.array([dt.date(2020, 1, 1), None], pa.date32()),
    "date64": pa.array([dt.date(2020, 1, 1), None], pa.date64()),
    "u8": pa.array([1, None], pa.uint8()),
    "u16": pa.array([1, None], pa.uint16()),
    "u32": pa.array([1, None], pa.uint32()),
    "u64": pa.array([1, None], pa.uint64()),
    "i8": pa.array([1, None], pa.int8()),
    "i16": pa.array([1, None], pa.int16()),
    "f32": pa.array([1.0, None], pa.float32()),
    "flag": pa.array([True, None]),
    "s": pa.array(["x", None]),
    "large_s": pa.array(["x", None], pa.large_string()),
    "dict_s": pa.array(["a", None]).dictionary_encode(),
    "dur": pa.array([1, None], pa.duration("us")),
    "required": pa.array([1, 2], pa.int64()),
    "Order Date": pa.array([1, None], pa.int32()),
    "a.b": pa.array([1, None], pa.int32()),
    "we`ird": pa.array([1, None], pa.int32()),
}


def _arrow_table() -> pa.Table:
    schema = pa.schema([pa.field(k, v.type, nullable=k != "required")
                        for k, v in _ARROW.items()])
    return pa.table(_ARROW, schema=schema)


def _same_as_spark(spark, path: str) -> None:
    want = spark.read.parquet(path).schema
    got = footer_schema(path)
    assert [f.name for f in got] == [f.name for f in want]
    for g, w in zip(got, want):
        assert g == w, (g, w)
    assert got == want


@pytest.fixture(scope="module")
def files(tmp_path_factory):
    root = tmp_path_factory.mktemp("footers")
    t = _arrow_table()
    out = {}
    out["file"] = str(root / "plain.parquet")
    pq.write_table(t, out["file"])
    out["format_1_0"] = str(root / "v1.parquet")
    pq.write_table(t, out["format_1_0"], version="1.0")
    # a directory as Spark lays one out: hidden and underscore files are
    # skipped; the first sorted data file carries the schema
    d = root / "dir.parquet"
    d.mkdir()
    pq.write_table(t, str(d / "part-00000.parquet"))
    pq.write_table(t.select(["s"]), str(d / "part-00001.parquet"))
    (d / "_SUCCESS").write_text("")
    (d / ".part-00000.parquet.crc").write_text("")
    out["directory"] = str(d)
    out["int96"] = str(root / "int96.parquet")
    pq.write_table(
        pa.table({"naive": pa.array(_TS, pa.timestamp("ns")),
                  "tz": pa.array(_TS, pa.timestamp("ns", tz="UTC"))}),
        out["int96"], use_deprecated_int96_timestamps=True,
    )
    return out


@pytest.mark.parametrize("case", ["file", "format_1_0", "directory", "int96"])
def test_pyarrow_files_match_spark_inference(spark, files, case):
    _same_as_spark(spark, files[case])


def test_int96_and_unsigned_follow_spark_rules(files):
    assert footer_schema(files["int96"]) == T.StructType([
        T.StructField("naive", T.TimestampType()), T.StructField("tz", T.TimestampType()),
    ])
    types = {f.name: f.dataType for f in footer_schema(files["file"])}
    assert types["u8"] == T.ShortType()
    assert types["u16"] == T.IntegerType()
    assert types["u32"] == T.LongType()
    assert types["u64"] == T.DecimalType(20, 0)
    assert types["naive_us"] == T.TimestampNTZType()
    assert types["tz_us"] == T.TimestampType()


def test_first_data_file_skips_hidden_and_underscore_names(files):
    assert first_data_file(files["directory"]).endswith("part-00000.parquet")
    assert first_data_file(files["file"]) == files["file"]


def test_spark_written_tables_match(spark, tmp_path):
    full = str(tmp_path / "full.parquet")
    spark.createDataFrame(
        [(1, "a", dt.datetime(2020, 1, 1), dt.date(2020, 1, 1), decimal.Decimal("1.5"),
          [1], {"k": 1.0}, (1, "x"))],
        "id int not null, s string, ts timestamp, d date, dec decimal(12,3), "
        "arr array<int>, m map<string,double>, st struct<a:int not null,b:string>",
    ).write.parquet(full)
    empty = str(tmp_path / "empty.parquet")
    spark.createDataFrame([], "id int not null, `Order Date` string").write.parquet(empty)
    ntz = str(tmp_path / "ntz.parquet")
    spark.sql("SELECT timestamp_ntz'2020-01-01 00:00:00' AS ntz, 1Y AS b, "
              "CAST(1 AS SMALLINT) AS sh").write.parquet(ntz)
    for path in (full, empty, ntz):
        _same_as_spark(spark, path)
    assert spark.read.parquet(empty).count() == 0


def test_nanos_timestamps_are_rejected_like_spark(spark, tmp_path):
    root = tmp_path / "public"
    root.mkdir()
    path = root / "nanos.parquet"
    pq.write_table(pa.table({"id": [1], "t": pa.array([1], pa.timestamp("ns"))}),
                   str(path))
    with pytest.raises(AnalysisException):
        spark.read.parquet(str(path)).schema
    with pytest.raises(TypeError, match="Illegal Parquet type"):
        footer_schema(str(path))
    assert footer_schema(str(path), nanos_as_long=True)["t"].dataType == T.LongType()
    # the store reads them as microsecond timestamps, as load_table does
    assert ParquetStore(spark, str(tmp_path)).read("public", "nanos").schema["t"].dataType \
        == T.TimestampType()


#: the fixtures at sf0.001 and sf0.01, next to the test scale factor
_SF_ROOT = os.path.dirname(os.path.abspath(SF_DIR))
_FIXTURES = sorted(p for sf in ("sf0.001", "sf0.01")
                   for p in glob.glob(os.path.join(_SF_ROOT, sf, "*.parquet")))


@pytest.mark.skipif(not _FIXTURES, reason="fixtures absent")
@pytest.mark.parametrize("path", _FIXTURES,
                         ids=[os.path.relpath(p, _SF_ROOT) for p in _FIXTURES])
def test_fixtures_match(spark, path):
    _same_as_spark(spark, path)
    # load_table reads through the footer; no fixture has NANOS columns,
    # so its schema is the inferred one
    sf_dir, name = os.path.split(path)
    assert name[: -len(".parquet")] in TABLE_NAMES
    assert load_table(spark, sf_dir, name[: -len(".parquet")]).schema \
        == spark.read.parquet(path).schema


def _jobs_in(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"footer-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "footer")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_store_read_runs_no_job(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path))
    store.write(spark.createDataFrame([(1, "x")], "id int, s string"), "public", "t")
    path = store.path("public", "t")
    # the counter sees schema inference when it happens
    assert _jobs_in(spark, lambda: spark.read.parquet(path)) >= 1
    assert _jobs_in(spark, lambda: store.read("public", "t")) == 0
    # the footer is read on every call: a rewrite with a new schema shows
    store.write(spark.createDataFrame([(1, 2.5)], "id int, v double"), "public", "t")
    assert store.read("public", "t").columns == ["id", "v"]
