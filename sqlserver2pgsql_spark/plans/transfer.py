"""Per-table transfer plans + job orchestrator (A12/A13, B19/B20).

The reference's generate_kettle (:925-1352) emits one Kettle transformation
per table and chains them in a job: START → init SQL → per-table transfer
(alphabetical) → end SQL. Here a plan is a small dataclass and the
orchestrator is driver-side Python:

- plan selection mirrors the reference (:1163-1166): PK present →
  incremental (diff+merge) is *possible*; no PK → full reload only.
- both modes write scan → cleanse (A5) to the file target. The cleanse
  strips NUL from every string column with Spark's byte-level ``replace``
  (operators.cleanse), on every table. The merge,
  ``apply_diff(diff(src, tgt, keys))``, keeps exactly the source's rows
  with their source-side values, so a rewritten target's post-merge state
  is the cleansed source: no target read, no diff join, one Spark job.
  Intended differences: the target takes the source's schema (the merge
  widened each column to the common type, and failed on a column the
  target lacked), and a target with duplicate keys no longer duplicates
  source rows. Diff (A9) and merge (A10) are the in-place path: a JDBC
  target applies a staged diff with ``operators.merge.merge_sql``.
- hooks = the init/teardown SQL slots (A13; cast install / trigger disable
  have no Spark-side meaning, but sinks may need session SQL).
- metrics mirror kettle_report.pl (B20): per-table duration + rows/sec,
  sorted by duration descending. Like kettle_report's step log, the row
  count comes from the write itself (a ``DataFrame.observe`` on the
  written frame), not from reading the target back.
- the target table is swapped in crash-safe: the old copy is moved
  aside, the new one renamed into place, then the old copy deleted; a
  run interrupted between the steps is repaired by the next one.
- nothing is paid per table before rows move. Like generate_kettle,
  which builds each transformation from a schema it already holds, a
  store read takes its schema from the parquet footer on the driver
  (sources.footer) instead of a schema-inference Spark job, and the
  cleanse projection is SQL text in one ``selectExpr`` — about one py4j
  round trip per column where the Column API spends 60-100.

Stores are pluggable: ParquetStore for local fixtures/tests, JDBC via
sources.jdbc options for real databases.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog.model import Catalog, Table
from ..operators.cleanse import cleanse_strings
from ..sources.tables import read_parquet

# not called here; perfbench's traced runs wrap these two names in spans
from ..operators.diff import diff  # noqa: F401
from ..operators.merge import apply_diff  # noqa: F401


class ParquetStore:
    """A directory of `{schema}/{table}.parquet` acting as a database —
    the local stand-in for a JDBC endpoint."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, schema: str, table: str) -> str:
        return os.path.join(self.root, schema, f"{table}.parquet")

    def read(self, schema: str, table: str) -> DataFrame:
        """The table, with the schema its footer records: no Spark job
        (``sources.tables.read_parquet``). The footer is read on every
        call, so a rewritten table is never read with a stale schema."""
        return read_parquet(self.spark, self.path(schema, table))

    def write(self, df: DataFrame, schema: str, table: str, mode: str = "overwrite") -> None:
        df.write.mode(mode).parquet(self.path(schema, table))

    def exists(self, schema: str, table: str) -> bool:
        return os.path.exists(self.path(schema, table))

    def swap_in(self, schema: str, table: str, new: str) -> None:
        """Make the directory ``new`` the table: move the old copy aside,
        rename ``new`` into place, then delete the old copy. At every
        point one complete copy exists on disk; ``recover`` finishes or
        undoes a swap that was cut between the steps."""
        final = self.path(schema, table)
        aside = final + ".old"
        if os.path.exists(final):
            os.replace(final, aside)
        os.replace(new, final)
        shutil.rmtree(aside, ignore_errors=True)

    def recover(self, schema: str, table: str) -> None:
        """Repair a cut ``swap_in``: an aside copy with no table is put
        back; an aside copy next to the table is the old one, deleted."""
        final = self.path(schema, table)
        aside = final + ".old"
        if not os.path.exists(aside):
            return
        if os.path.exists(final):
            shutil.rmtree(aside)
        else:
            os.replace(aside, final)


@dataclass
class TableTransfer:
    schema: str
    table: Table
    mode: str  # 'full' | 'incremental'


@dataclass
class TransferMetrics:
    """One table's transfer. ``rows`` is the number of rows written,
    counted by an observation on the write itself (as kettle_report.pl
    takes it from the transfer step's log), never by re-reading the
    target."""

    schema: str
    table: str
    mode: str
    rows: int
    seconds: float

    @property
    def rows_per_sec(self) -> float:
        return self.rows / self.seconds if self.seconds > 0 else float("inf")


def build_transfer_plans(catalog: Catalog, incremental: bool = False) -> list[TableTransfer]:
    """One plan per table, alphabetical like the reference's job chain
    (:1199-1245). incremental=True requests diff-sync where a PK exists;
    PK-less tables fall back to full reload (:1163-1166)."""
    plans = []
    for sname, table in catalog.all_tables():
        mode = "incremental" if incremental and table.primary_key else "full"
        plans.append(TableTransfer(schema=sname, table=table, mode=mode))
    return plans


class Orchestrator:
    """Sequential per-table job runner with before/after hooks (A12/A13).

    Sequential by default like the reference's job chain; per-table work is
    already cluster-parallel inside Spark, so driver-side concurrency only
    helps when tables are tiny — ``max_workers>1`` enables it for that case.
    """

    def __init__(
        self,
        source: ParquetStore,
        target: ParquetStore,
        before_hooks: list[Callable[[], None]] | None = None,
        after_hooks: list[Callable[[], None]] | None = None,
        max_workers: int = 1,
    ):
        self.source = source
        self.target = target
        self.before_hooks = before_hooks or []
        self.after_hooks = after_hooks or []
        self.max_workers = max_workers

    def _run_one(self, plan: TableTransfer) -> TransferMetrics:
        t0 = time.time()
        s, tname = plan.schema, plan.table.name
        self.target.recover(s, tname)
        # either mode writes the post-merge state: the cleansed source. The
        # cleanse (A5, the only row-level transform) runs on every table:
        # PostgreSQL text cannot store NUL
        out = cleanse_strings(self.source.read(s, tname))
        # the row count rides the write as one CollectMetrics node: no
        # extra job, and no re-read of the target
        obs = Observation()
        out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
        # write via a temp path then swap, so a failed write leaves the
        # old copy in place
        tmp = self.target.path(s, tname) + ".tmp"
        out.write.mode("overwrite").parquet(tmp)
        self.target.swap_in(s, tname, tmp)
        return TransferMetrics(
            schema=s, table=tname, mode=plan.mode, rows=obs.get["rows"],
            seconds=time.time() - t0,
        )

    def run(self, plans: list[TableTransfer]) -> list[TransferMetrics]:
        for hook in self.before_hooks:
            hook()
        metrics: list[TransferMetrics] = []
        if self.max_workers <= 1:
            for plan in plans:
                metrics.append(self._run_one(plan))
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=self.max_workers) as ex:
                metrics = list(ex.map(self._run_one, plans))
        for hook in self.after_hooks:
            hook()
        return metrics


def format_report(metrics: list[TransferMetrics]) -> str:
    """kettle_report.pl-format summary (B20, kettle_report.pl:63-67):
    per-table duration and rows/sec, sorted by duration descending."""
    lines = ["table                                    mode         rows   duration(s)   rows/sec"]
    for m in sorted(metrics, key=lambda m: -m.seconds):
        lines.append(
            f"{m.schema + '.' + m.table:<40} {m.mode:<11} {m.rows:>7} "
            f"{m.seconds:>12.2f} {m.rows_per_sec:>10.0f}"
        )
    total_rows = sum(m.rows for m in metrics)
    total_sec = sum(m.seconds for m in metrics)
    lines.append(f"TOTAL: {total_rows} rows in {total_sec:.2f}s")
    return "\n".join(lines)
