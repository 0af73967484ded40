"""JDBC scan/sink builders — A1/A2/A6 and the physical knobs of §4.

The reference generates Kettle TableInput/TableOutput steps with hand-built
SQL (projection + per-type coercion, WITH(NOLOCK)) and fixed parallelism
defaults (read 1 / write 8, commit 100). Spark-first equivalents:

- scan: ``spark.read.jdbc`` with an explicit projection query (never
  SELECT * — the reference's own rule, :984-1001) carrying the scan-side
  coercions (:442-484) so both sides of a diff canonicalize identically.
- partitioned scan: the reference's heuristic (table has LOBs ∧ single
  int PK, :949-963) becomes partitionColumn/lowerBound/upperBound/
  numPartitions. Range-partitioned rather than modulo — same disjoint-cover
  contract, but range predicates are sargable on the PK index while
  ``pk % N`` forces a full scan per reader.
- sink: batched appends with ``batchsize`` (default 10k vs Kettle's 100 —
  JDBC batching is the bottleneck at scale), writer parallelism via
  ``numPartitions``, durability tradeoff via sessionInitStatement
  ``SET synchronous_commit TO off`` (:3479) and reWriteBatchedInserts
  (:3470).

No database is reachable in this container — everything here is option/SQL
construction, unit-tested; the DataFrame calls are thin and standard.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..catalog.identifiers import mssql_quote, pg_quote
from ..catalog.model import Column, Table

MSSQL_DRIVER = "com.microsoft.sqlserver.jdbc.SQLServerDriver"
PG_DRIVER = "org.postgresql.Driver"


@dataclass
class JdbcConfig:
    url: str
    user: str
    password: str
    driver: str
    properties: dict[str, str] = field(default_factory=dict)

    def base_options(self) -> dict[str, str]:
        return {
            "url": self.url,
            "user": self.user,
            "password": self.password,
            "driver": self.driver,
            **self.properties,
        }


def mssql_cast_expr(col: Column) -> str:
    """Scan-side canonicalization on SQL Server (reference sql_convert_column,
    :442-460): uuid lower-cased, date/datetimeoffset rendered to fixed styles,
    xml guarded against the driver's empty-document bug."""
    name = mssql_quote(col.orig_name)
    t = col.type_name
    if t == "uniqueidentifier":
        return f"lower({name}) AS {name}"
    if t == "date":
        return f"convert(varchar(50), {name}, 120) AS {name}"
    if t == "datetimeoffset":
        # normalize to UTC and microsecond precision so the rendered string
        # equals pg_cast_expr's 'YYYY-MM-DD HH24:MI:SS.US+00' — style 121 on
        # datetime2(6) is 'yyyy-mm-dd hh:mi:ss.ffffff', then a literal '+00'.
        # (raw style 121 on datetimeoffset keeps the original offset and a
        # 7-digit fraction, which fabricates diffs for identical instants)
        return (
            f"convert(varchar(50), cast(switchoffset({name}, '+00:00') as datetime2(6)), 121)"
            f" + '+00' AS {name}"
        )
    if t == "xml":
        return f"case when datalength({name}) > 5 then {name} else null end AS {name}"
    return name


def pg_cast_expr(col: Column) -> str:
    """Read-back canonicalization on PostgreSQL for the incremental diff
    (reference postgres_convert_column, :467-484) — must render the *same
    strings* as mssql_cast_expr or the diff fabricates changed rows."""
    name = pg_quote(col.name)
    t = col.type_name
    if t == "uniqueidentifier":
        return f"lower(cast({name} as varchar)) AS {name}"
    if t == "date":
        return f"to_char({name}, 'YYYY-MM-DD') AS {name}"
    if t == "datetimeoffset":
        return (
            f"to_char({name} AT TIME ZONE 'UTC', 'YYYY-MM-DD HH24:MI:SS.US+00') "
            f"AS {name}"
        )
    return name


def mssql_scan_sql(table: Table, nolock: bool = True) -> str:
    """Projection scan with dirty-read hint (reference :3666: the generated
    TableInput SQL, WITH(NOLOCK) to avoid blocking the live source). The
    source table and columns go by their SQL Server names, bracketed."""
    cols = ", ".join(
        mssql_cast_expr(c) for c in table.ordered_columns() if c.computed_expr is None
    )
    hint = " WITH(NOLOCK)" if nolock else ""
    source = f"{mssql_quote(table.orig_schema)}.{mssql_quote(table.orig_name or table.name)}"
    return f"SELECT {cols} FROM {source}{hint}"


def pg_scan_sql(schema: str, table: Table) -> str:
    cols = ", ".join(
        pg_cast_expr(c) for c in table.ordered_columns() if c.computed_expr is None
    )
    return f"SELECT {cols} FROM {pg_quote(schema)}.{pg_quote(table.name)}"


#: Spark types whose ORDER BY is collation-independent — the A11 gate
#: (reference is_pk_sort_order_safe, :502-524: numeric/date/timestamp only;
#: string sort orders differ between MSSQL and PG collations)
_SORT_SAFE_TYPES = {"int", "smallint", "bigint", "float", "double", "date", "timestamp"}


def pk_sort_order_safe(table: Table) -> bool:
    """May this table's PK ordering be compared across systems? (A11,
    reference :502-524.) In Spark the diff join needs no sorted input, so
    this gate's surviving use is: only treat cross-system orderings (e.g.
    key-range incremental windows) as meaningful for these types."""
    if table.primary_key is None:
        return False
    for name in table.primary_key.cols:
        col = table.columns.get(name)
        if col is None:
            return False
        base = col.spark_type.split("(")[0]
        if base not in _SORT_SAFE_TYPES and not col.spark_type.startswith("decimal"):
            return False
    return True


def partitioned_read_spec(table: Table, num_partitions: int = 8) -> dict[str, str] | None:
    """The reference's parallel-scan gate (:949-963): only when the table has
    LOBs **and** a single integer PK. Returns Spark JDBC partitioning options
    (bounds must be filled from ``SELECT min(pk), max(pk)`` at run time)."""
    if not table.has_lobs or table.primary_key is None:
        return None
    if len(table.primary_key.cols) != 1:
        return None
    pk = table.primary_key.cols[0]
    col = table.columns.get(pk)
    if col is None or col.spark_type not in ("int", "bigint", "smallint"):
        return None
    return {
        "partitionColumn": pk,
        "numPartitions": str(num_partitions),
        # lowerBound/upperBound: caller fills from min/max(pk)
    }


def reader_options(
    table: Table,
    cfg: JdbcConfig,
    fetchsize: int = 10000,
    num_partitions: int = 8,
) -> dict[str, str]:
    opts = cfg.base_options()
    opts["query"] = mssql_scan_sql(table)
    opts["fetchsize"] = str(fetchsize)
    part = partitioned_read_spec(table, num_partitions)
    if part:
        # partitionColumn requires dbtable, not query — wrap the projection
        opts.pop("query")
        opts["dbtable"] = f"({mssql_scan_sql(table)}) scan_sub"
        opts.update(part)
    return opts


def writer_options(
    cfg: JdbcConfig,
    table_name: str,
    batchsize: int = 10000,
    num_partitions: int = 8,
    truncate: bool = True,
    synchronous_commit_off: bool = True,
) -> dict[str, str]:
    """A3+A6: truncate-and-append sink knobs. Parallelism = numPartitions
    (reference default 8 writers, :166); commit batching via batchsize
    (reference 100, :3693-3696 — far too small for Spark-scale writes);
    reWriteBatchedInserts (:3470) and synchronous_commit=off (:3479)."""
    opts = cfg.base_options()
    opts["dbtable"] = table_name
    opts["batchsize"] = str(batchsize)
    opts["numPartitions"] = str(num_partitions)
    opts["truncate"] = "true" if truncate else "false"
    opts["isolationLevel"] = "READ_COMMITTED"
    if cfg.driver == PG_DRIVER:
        url_extra = "reWriteBatchedInserts=true"
        opts["url"] = cfg.url + ("&" if "?" in cfg.url else "?") + url_extra
        if synchronous_commit_off:
            opts["sessionInitStatement"] = "SET synchronous_commit TO off"
    return opts
