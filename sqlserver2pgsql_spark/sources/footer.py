"""Parquet schemas from the file footer, read on the driver.

``spark.read.parquet(path)`` infers the schema with a Spark job that reads
footers on the executors — one job per call, before any row moves. The
reference never probes a table to learn its columns: it generates each
transfer from a schema it already holds (generate_kettle,
sqlserver2pgsql.pl:925-1352). Parquet files describe themselves, so the
driver reads the same footer Spark would (pyarrow, a few KB) and hands the
schema to ``spark.read.schema(...)``, which runs no job.

Which footer: with ``mergeSchema`` off (the session default) Spark takes
the schema of one data file — the first name that starts with neither
``_`` nor ``.``. A file written by Spark carries the schema Spark recorded
under ``org.apache.spark.sql.parquet.row.metadata``; any other file is
mapped from its parquet column types the way Spark's
``ParquetToSparkSchemaConverter`` maps them (defaults for
``int96AsTimestamp``, ``binaryAsString`` and ``inferTimestampNTZ``).
A read relation is always nullable, so every field, element and map value
comes back nullable, as ``spark.read.parquet(path).schema`` reports it.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

_NULLABLE_KEYS = ("nullable", "containsNull", "valueContainsNull")

#: (bit width, signed) of an annotated integer -> Spark type. Unsigned
#: ints widen to the next signed type; UINT64 becomes DECIMAL(20, 0).
_INTS = {
    (8, True): T.ByteType(), (16, True): T.ShortType(),
    (32, True): T.IntegerType(), (64, True): T.LongType(),
    (8, False): T.ShortType(), (16, False): T.IntegerType(),
    (32, False): T.LongType(), (64, False): T.DecimalType(20, 0),
}

_PLAIN = {
    "BOOLEAN": T.BooleanType(), "INT32": T.IntegerType(), "INT64": T.LongType(),
    "INT96": T.TimestampType(), "FLOAT": T.FloatType(), "DOUBLE": T.DoubleType(),
    "BYTE_ARRAY": T.BinaryType(), "FIXED_LEN_BYTE_ARRAY": T.BinaryType(),
}


def first_data_file(path: str) -> str:
    """The file whose footer Spark reads for ``path``: the path itself, or
    the first sorted data file of the directory."""
    if os.path.isfile(path):
        return path
    names = sorted(
        n for n in os.listdir(path)
        if not n.startswith(("_", ".")) and os.path.isfile(os.path.join(path, n))
    )
    if not names:
        raise FileNotFoundError(f"no parquet data file in {path}")
    return os.path.join(path, names[0])


def footer_schema(path: str, nanos_as_long: bool = False) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` would infer, without its job.

    TIMESTAMP(NANOS) columns raise, as Spark's inference does, unless
    ``nanos_as_long`` reads them as their INT64 nanosecond values (Spark's
    ``spark.sql.legacy.parquet.nanosAsLong``)."""
    return metadata_schema(pq.read_metadata(first_data_file(path)), nanos_as_long)


def metadata_schema(meta: pq.FileMetaData, nanos_as_long: bool = False) -> T.StructType:
    """``footer_schema`` of a footer already read."""
    recorded = (meta.metadata or {}).get(SPARK_ROW_METADATA)
    if recorded is not None:
        return T.StructType.fromJson(_nullable(json.loads(recorded)))
    leaves = iter(meta.schema.column(i) for i in range(len(meta.schema)))
    return T.StructType([
        T.StructField(f.name, _spark_type(f.type, leaves, nanos_as_long))
        for f in meta.schema.to_arrow_schema()
    ])


def _nullable(node):
    """Spark's ``asNullable`` on a schema's JSON form; field metadata is
    left as written."""
    if isinstance(node, list):
        return [_nullable(v) for v in node]
    if not isinstance(node, dict):
        return node
    return {k: True if k in _NULLABLE_KEYS else v if k == "metadata" else _nullable(v)
            for k, v in node.items()}


def _spark_type(at: pa.DataType, leaves, nanos_as_long: bool) -> T.DataType:
    """Arrow gives the nesting; each leaf's type comes from its parquet
    column, taken in the same depth-first order."""
    if pa.types.is_struct(at):
        return T.StructType([T.StructField(f.name, _spark_type(f.type, leaves, nanos_as_long))
                             for f in at])
    if pa.types.is_map(at):
        key = _spark_type(at.key_type, leaves, nanos_as_long)
        return T.MapType(key, _spark_type(at.item_type, leaves, nanos_as_long))
    if (pa.types.is_list(at) or pa.types.is_large_list(at)
            or pa.types.is_fixed_size_list(at)):
        return T.ArrayType(_spark_type(at.value_type, leaves, nanos_as_long))
    return _leaf_type(next(leaves), nanos_as_long)


def _leaf_type(col: pq.ColumnSchema, nanos_as_long: bool) -> T.DataType:
    physical = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "None":
        return _PLAIN[physical]
    if kind == "Int":
        return _INTS[(logical["bitWidth"], logical["isSigned"])]
    if kind == "Decimal":
        return T.DecimalType(col.precision, col.scale)
    if kind == "Date":
        return T.DateType()
    if kind in ("String", "Enum", "JSON"):
        return T.StringType()
    if kind == "BSON":
        return T.BinaryType()
    if kind == "Timestamp":
        if logical["timeUnit"] == "nanoseconds":
            if nanos_as_long:
                return T.LongType()
        elif logical["isAdjustedToUTC"]:
            return T.TimestampType()
        else:
            return T.TimestampNTZType()
    raise TypeError(
        f"Illegal Parquet type: {physical} ({col.logical_type}) in column {col.path}"
    )
