"""The four workloads. Each is a closed loop: one client runs one operation
at a time, and a pass is the workload's fixed list of operations.

A workload provides:

- ``prepare()``: make the inputs from the seed (repeatable, timed for
  ``setup_s``);
- ``ops()``: the operations of one pass, as ``(name, fn, attrs)``;
  ``fn(span)`` runs the operation, opening spans with ``span`` (a no-op
  when untraced), and ``attrs`` annotate the operation's span;
- ``before_pass()``: untimed reset before a pass;
- ``check(name, result)``: untimed output check of one operation;
- ``check_once(names)``: untimed checks made once per run, after the
  warm-up passes and a ``before_pass()`` reset; returns the operations
  whose check failed, and every measured run of those counts as failed;
- ``trace_patches(tracer)``: attributes to wrap in spans while a traced
  pass runs;
- ``needs_spark`` and ``min_passes``: whether the run starts a Spark
  session, and how many passes it measures at least.
"""

from __future__ import annotations

import importlib.util
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from spans import spanning

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Workload:
    """Defaults of the workload protocol above."""

    needs_spark = True

    #: measured passes per run at least, however long they take: the median
    #: pass and the operation percentiles then always pool several passes
    min_passes = 2

    def __init__(self, seed: int, work: str, spark=None) -> None:
        self.seed, self.work, self.spark = seed, work, spark

    def before_pass(self) -> None:
        pass

    def check(self, name: str, result) -> bool:
        return True

    def check_once(self, names: list[str]) -> set[str]:
        return set()

    def trace_patches(self, tracer) -> list:
        return []


# --------------------------------------------------------------------------
# convert
# --------------------------------------------------------------------------

def _count_lines(text: str, *prefixes: str) -> int:
    return sum(1 for line in text.splitlines() if line.startswith(prefixes))


class Convert(Workload):
    """Schema translation: parse_text -> resolve_name_conflicts ->
    emit_before/after/unsure -> build_transfer_plans, one SSMS dump per
    operation. Runs no Spark."""

    needs_spark = False

    #: 100 operations, so ten samples lie beyond the 90th percentile
    min_passes = 5

    def prepare(self) -> None:
        self.dumps = gen.make_dumps(self.seed)

    def ops(self):
        from sqlserver2pgsql_spark.catalog.conflicts import resolve_name_conflicts
        from sqlserver2pgsql_spark.ddl import parse_text
        from sqlserver2pgsql_spark.ddl.emit_pg import emit_after, emit_before, emit_unsure
        from sqlserver2pgsql_spark.plans.transfer import build_transfer_plans

        def convert(text):
            def fn(span):
                with span("ddl.parse"):
                    cat = parse_text(text)
                with span("catalog.conflicts"):
                    renames = resolve_name_conflicts(cat)
                with span("ddl.emit"):
                    scripts = (emit_before(cat), emit_after(cat), emit_unsure(cat))
                with span("plans.build"):
                    plans = build_transfer_plans(cat, incremental=True)
                return cat, renames, scripts, plans
            return fn

        return [(f"dump{k:02d}", convert(text), {}) for k, (text, _) in enumerate(self.dumps)]

    def check(self, name: str, result) -> bool:
        m = self.dumps[int(name[4:])][1]
        return convert_matches(m, *result)


def convert_matches(m: dict, cat, renames, scripts, plans) -> bool:
    """Catalog and emitted-statement counts equal the dump's manifest."""
    before, after, unsure = scripts
    tables = [t for _, t in cat.all_tables()]
    got = dict(
        tables=len(tables),
        views=sum(len(s.views) for s in cat.schemas.values()),
        pks=sum(t.primary_key is not None for t in tables),
        fks=sum(len(t.foreign_keys) for t in tables),
        checks=sum(len(t.checks) for t in tables),
        indexes=sum(len(t.indexes) for t in tables),
        renames=len(renames),
        sequences=sum(len(s.sequences) for s in cat.schemas.values()),
        stmt_tables=_count_lines(before, "CREATE TABLE "),
        stmt_sequences=_count_lines(before, "CREATE SEQUENCE "),
        stmt_schemas=_count_lines(before, "CREATE SCHEMA "),
        stmt_pks=after.count(" PRIMARY KEY ("),
        stmt_fks=after.count(" FOREIGN KEY ("),
        stmt_indexes=_count_lines(after, "CREATE INDEX ", "CREATE UNIQUE INDEX "),
        stmt_partial=_count_lines(unsure, "CREATE INDEX ", "CREATE UNIQUE INDEX "),
        stmt_checks=unsure.count(" CHECK ("),
        stmt_views=_count_lines(unsure, "CREATE VIEW "),
        stmt_defaults=(after + unsure).count(" SET DEFAULT "),
        plans=len(plans),
        incremental=sum(p.mode == "incremental" for p in plans),
    )
    want = dict(
        tables=m["tables"], views=m["views"], pks=m["pks"], fks=m["fks"],
        checks=m["checks"], indexes=m["indexes"] + m["partial_indexes"],
        renames=m["renames"], sequences=m["identities"],
        stmt_tables=m["tables"], stmt_sequences=m["identities"],
        stmt_schemas=m["schemas"], stmt_pks=m["pks"], stmt_fks=m["fks"],
        stmt_indexes=m["indexes"], stmt_partial=m["partial_indexes"],
        stmt_checks=m["checks"], stmt_views=m["views"],
        stmt_defaults=m["defaults"] + m["identities"],
        plans=m["tables"], incremental=m["pks"],
    )
    return got == want


# --------------------------------------------------------------------------
# load and sync
# --------------------------------------------------------------------------

def _cleanse(tbl: pa.Table) -> pa.Table:
    """The expected effect of the cleanse step: NUL bytes stripped from
    every string column, nothing else touched."""
    cols = [pc.replace_substring(c, "\x00", "") if pa.types.is_string(c.type) else c
            for c in tbl.columns]
    return pa.table(cols, names=tbl.column_names)


def digest(tbl: pa.Table) -> tuple[int, int]:
    """Row count and an order-insensitive hash (sum of row hashes mod 2^64),
    independent of column order and of the timestamp unit on disk."""
    cols = {}
    for name in sorted(tbl.column_names):
        c = tbl.column(name)
        if pa.types.is_timestamp(c.type):
            c = pc.cast(c, pa.timestamp("us", tz=c.type.tz)).cast(pa.int64())
        elif pa.types.is_decimal(c.type):
            c = c.cast(pa.string())
        elif pa.types.is_binary(c.type):
            c = pa.array([None if b is None else b.hex() for b in c.to_pylist()], pa.string())
        cols[name] = c
    df = pa.table(cols).to_pandas()
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


#: tables at or above this row count are timed as ``transfer.large_table_s``
LARGE_ROWS = 5_000


class Load(Workload):
    """Full load (Orchestrator, full mode) of the generated database into a
    ParquetStore, one table per operation."""

    incremental = False

    def __init__(self, seed: int, work: str, spark=None) -> None:
        super().__init__(seed, work, spark)
        self.src_root = os.path.join(work, "source")
        self.tgt_root = os.path.join(work, "target")
        self.loaded_root = os.path.join(work, "loaded")

    def _write_store(self, root: str, tables: dict[str, pa.Table]) -> None:
        """A ParquetStore: one directory per table, as Spark writes them."""
        shutil.rmtree(root, ignore_errors=True)
        for name, tbl in tables.items():
            path = os.path.join(root, "public", f"{name}.parquet")
            os.makedirs(path)
            pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))

    def _source_tables(self, original: dict[str, pd.DataFrame]) -> dict[str, pd.DataFrame]:
        return original

    def prepare(self) -> None:
        from sqlserver2pgsql_spark.ddl import parse_text
        from sqlserver2pgsql_spark.plans.transfer import (
            Orchestrator, ParquetStore, build_transfer_plans)

        original = gen.database(self.seed)
        source = {k: gen.to_arrow(v) for k, v in self._source_tables(original).items()}
        self._write_store(self.src_root, source)
        if self.incremental:
            # the loaded state every sync pass starts from
            self._write_store(self.loaded_root,
                              {k: _cleanse(gen.to_arrow(v)) for k, v in original.items()})
        self.expected = {k: digest(_cleanse(v)) for k, v in source.items()}
        self.rows = {k: v.num_rows for k, v in source.items()}
        catalog = parse_text(gen.database_ddl(original))
        self.plans = {p.table.name: p
                      for p in build_transfer_plans(catalog, incremental=self.incremental)}
        self.orch = Orchestrator(ParquetStore(self.spark, self.src_root),
                                 ParquetStore(self.spark, self.tgt_root), max_workers=1)

    def before_pass(self) -> None:
        shutil.rmtree(self.tgt_root, ignore_errors=True)
        if self.incremental:
            shutil.copytree(self.loaded_root, self.tgt_root)

    def ops(self):
        def transfer(plan):
            return lambda span: self.orch.run([plan])
        return [(name, transfer(plan),
                 {"size": "large" if self.rows[name] >= LARGE_ROWS else "small"})
                for name, plan in self.plans.items()]

    def check(self, name: str, result) -> bool:
        target = pq.read_table(os.path.join(self.tgt_root, "public", f"{name}.parquet"))
        return result[0].rows == self.expected[name][0] and digest(target) == self.expected[name]

    def trace_patches(self, tracer):
        from pyspark.sql.readwriter import DataFrameWriter

        import sqlserver2pgsql_spark.plans.transfer as transfer

        DataFrame = type(self.spark.range(0))  # the session's concrete class
        return [
            (transfer, "cleanse_strings", spanning(tracer, "operators.cleanse.build")),
            (transfer, "diff", spanning(tracer, "operators.diff.build")),
            (transfer, "apply_diff", spanning(tracer, "operators.merge.build")),
            (DataFrameWriter, "parquet", spanning(tracer, "sink.write")),
            (DataFrame, "count", spanning(tracer, "transfer.verify_count")),
        ]


class Sync(Load):
    """Incremental sync of the loaded database after a seeded drift: diff +
    merge per PK table, full reload of PK-less tables. The target is reset
    to the loaded state, untimed, before every pass."""

    incremental = True

    def _source_tables(self, original):
        drifted, self.flags = gen.drift(self.seed, original)
        return drifted

    def check_once(self, names: list[str]) -> set[str]:
        """Diff flag counts of the drifted source against the loaded target
        equal the seeded drift, for every PK table; one Spark job."""
        from functools import reduce

        from pyspark.sql import functions as F

        from sqlserver2pgsql_spark.operators.cleanse import cleanse_strings
        from sqlserver2pgsql_spark.operators.diff import DIFF_FLAG_COL, diff_counts

        checked = [n for n in names if n in self.flags]
        parts = [diff_counts(cleanse_strings(self.orch.source.read("public", n)),
                             self.orch.target.read("public", n),
                             self.plans[n].table.primary_key.cols)
                 .withColumn("tbl", F.lit(n)) for n in checked]
        got: dict[str, dict] = {n: {} for n in checked}
        for r in reduce(lambda a, b: a.unionByName(b), parts).collect():
            got[r["tbl"]][r[DIFF_FLAG_COL]] = r["n"]
        return {n for n in checked if got[n] != self.flags[n]}


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

#: registered queries the workload runs, one operation each
QUERY_SET = (
    "q01_pricing_summary", "q06_incremental_diff", "q07_incremental_apply",
    "q12_tsql_scalars", "q15_pk_validation", "q59_skew_join",
    "q99_pmi_collocations", "q250_knn_loo_eval",
)


def _load_check_correctness():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(REPO, "scripts", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def results_match(spark_df: pd.DataFrame, oracle_df: pd.DataFrame, norm) -> bool:
    """``scripts/check_correctness.py``'s comparison: columns by name,
    no float-vs-int divergence, same row count, exact values. ``norm`` is
    that script's ``_normalize``."""
    s, o = norm(spark_df), norm(oracle_df)
    if list(s.columns) != list(o.columns) or len(s) != len(o):
        return False
    for c in s.columns:
        fs, fo = pd.api.types.is_float_dtype(s[c]), pd.api.types.is_float_dtype(o[c])
        is_, io = pd.api.types.is_integer_dtype(s[c]), pd.api.types.is_integer_dtype(o[c])
        if (fs and io) or (is_ and fo):
            return False
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


class Queries(Workload):
    """A fixed list of registered queries on generated TPC-H-shaped tables,
    each executed to the noop sink. Each result is checked once per run
    against its DuckDB oracle, after the warm-up pass."""

    def __init__(self, seed: int, work: str, spark=None) -> None:
        super().__init__(seed, work, spark)
        self.data = os.path.join(work, "qdata")

    def prepare(self) -> None:
        import __spark_entry__ as entry

        shutil.rmtree(self.data, ignore_errors=True)
        os.makedirs(self.data)
        for name, df in gen.tpch_tables(self.seed, gen.SMALL).items():
            pq.write_table(gen.to_arrow(df), os.path.join(self.data, f"{name}.parquet"))
        registered = entry.queries()
        self.fns = {n: registered[n] for n in QUERY_SET}
        self.oracles = entry.oracle_sql()
        self.normalize = _load_check_correctness()._normalize

    def ops(self):
        def run(fn):
            def op(span):
                with span("queries.build"):
                    df = fn(self.spark, self.data)
                with span("queries.exec"):
                    df.write.format("noop").mode("overwrite").save()
            return op
        return [(n, run(fn), {}) for n, fn in self.fns.items()]

    def check_once(self, names: list[str]) -> set[str]:
        import duckdb

        from sqlserver2pgsql_spark.sources.tables import TABLE_NAMES

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data}/{t}.parquet')")
            bad = set()
            for n in names:
                try:
                    ok = results_match(self.fns[n](self.spark, self.data).toPandas(),
                                       con.execute(self.oracles[n]).fetchdf(), self.normalize)
                except Exception:  # noqa: BLE001 -- a query that fails its check
                    ok = False
                if not ok:
                    bad.add(n)
            return bad
        finally:
            con.close()


WORKLOADS = {"convert": Convert, "load": Load, "sync": Sync, "queries": Queries}
