"""SparkSession factory tuned for this engine.

Local mode is a correctness harness only; the configs below are chosen so the
same code is right on a 1000-executor cluster:

- AQE on (runtime coalesce + skew-join handling replaces hand-tuned
  partition counts at 100 TB).
- shuffle.partitions sized to cores locally; on a cluster AQE coalesces from
  a high initial number, so code never depends on the exact value.
- session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-invariant.
- Arrow enabled for the pandas-UDF slow path.

Library code outside this module changes a session conf only through
``scoped_conf``, so the caller's session is left as it was found.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "sqlserver2pgsql_spark", conf: dict[str, str] | None = None
) -> SparkSession:
    """This engine's local session; ``conf`` adds settings on top (e.g. the
    event log a stage profile reads)."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"))
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/spark_graft_derby")
    )
    for key, value in (conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply this engine's session-level settings to an externally created
    SparkSession (the driver hands us one in ``__spark_entry__.entry``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    except Exception:
        pass  # immutable on some deployments; AQE default-on in Spark 4
    return spark


# One lock for every scoped window in the process: windows on one thread
# nest, windows from two threads run one after the other.
_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set ``conf`` on the session for the ``with`` body, then put back each
    key's prior value (``unset`` for a key that had none).

    The window is held under a process-wide reentrant lock, so a nested
    window on one thread restores level by level and two threads' windows
    never interleave: every restore puts back the value from before its
    window. Work started on the session without a window still sees the
    window's values while it is open."""
    with _CONF_LOCK:
        saved: dict[str, str | None] = {}
        try:
            for key, value in conf.items():
                old = spark.conf.get(key, None)
                spark.conf.set(key, value)
                saved[key] = old
            yield
        finally:
            for key, value in saved.items():
                if value is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, value)
