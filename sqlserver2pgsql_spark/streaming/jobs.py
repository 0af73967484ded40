"""Structured Streaming re-expressions (M8).

The reference has no streaming — its "incremental" mode is batch diff-sync
(SURVEY.md §2.4). Two streaming surfaces make that continuous:

- windowed/sessionized aggregations with watermarks over the events table
  (late-data handling the batch reference cannot express), and
- ``foreach_batch_upsert``: the A10 merge-apply sink as a streaming
  ``foreachBatch`` — each micro-batch of changed rows is MERGEd into the
  target (Delta MERGE / JDBC MERGE on a cluster; parquet rewrite here).

File-source streams over the driver's parquet fixtures give deterministic
local smoke runs (memory sink + processAllAvailable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import scoped_conf


def event_stream_schema() -> T.StructType:
    """events.parquet schema; ts is TIMESTAMP_NTZ (the fixture's physical
    type is parquet timestamp[us] without the UTC flag)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the fixture is a single parquet FILE; the streaming file source wants a
    # directory, so stream the sf dir filtered to that file
    raw = (
        spark.readStream.schema(event_stream_schema())
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # watermarks require TIMESTAMP (ltz); the window bounds are cast back to
    # NTZ on output so downstream sees the same wall-clock either way
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event type with a watermark bounding
    state for late data."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulation (deterministic), DOUBLE emitted (matches
            # the oracle's float64 rendering)
            F.sum(F.col("value").cast("decimal(38,8)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionized_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (inactivity gap) per user — the streaming analog of
    the batch lag/cumsum sessionizer (queries q28)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def enriched_window_agg(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    seg_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static join + windowed aggregation: each micro-batch of events
    is enriched against a broadcast static dimension (no state, no stream-side
    shuffle for the join), then aggregated per (window, segment) under a
    watermark. The canonical 'enrich the firehose with a dim table' shape —
    the static side is re-broadcast per batch, so dim updates between
    batches are picked up."""
    joined = events.join(F.broadcast(dim), events[stream_key] == dim[dim_key])
    return (
        joined.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col(seg_col).alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,8)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "segment",
            "n",
            "sum_value",
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running totals carried in explicit group state across
    micro-batches (the escape hatch for operators Spark's built-in
    stateful aggregations can't express).

    Determinism contract: the money column is accumulated as integer cents
    (``floor(value*100)``) — float summation order varies with partition
    arrival order, integer summation doesn't, so the emitted totals are
    bit-stable and SQL-checkable. State is one (n, cents) pair per user:
    O(#users) state, watermark-free because the state never grows per
    event."""
    import pandas as pd  # noqa: PLC0415 — Arrow path only
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            import numpy as np

            n += len(pdf)
            cents += int(np.floor(pdf["value"].to_numpy() * 100).astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_cents long",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# A state store instance is kept PER shuffle partition of a stateful
# stream, so the width tracks state cardinality (#keys / #windows), not the
# batch-side core count: 32 stores for 150 users triple the wall time
# locally (measured 9.5s -> 3.4s on the stream-stream join at 8). On a
# cluster, size to keys/throughput; the width is fixed for the life of a
# checkpoint.
_STATE_PARTITIONS = 8


def run_stream_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "complete",
    final_no_data_batch: bool = False,
) -> None:
    """Drive a streaming aggregation to completion synchronously against a
    memory sink (local smoke pattern — one batch over a file source), with
    ``_STATE_PARTITIONS`` state stores.

    SESSION-EXCLUSIVE during ``start()`` only: a stateful stream's shuffle
    width can only come from the session conf — Spark has no per-query
    override for it. ``start()`` clones the session for the stream, and the
    stream reads its shuffle width and no-data-batch setting from that
    clone, so the ``session.scoped_conf`` window (under the shared conf
    lock) covers ``start()`` alone; ``processAllAvailable()`` runs after the
    caller's values are back."""
    # skip the trailing NO-DATA micro-batch by default: for an availableNow
    # drain it only advances the watermark and evicts state after the last
    # data batch — stream-stream inner joins and dropDuplicates emit in
    # append on arrival, the applyInPandasWithState operators emit in
    # update during data batches, and complete-mode aggregations re-emit
    # the same table, so for those sinks it is a whole micro-batch of
    # state-store commits bought for nothing (measured q64: 2.1 -> 1.5 s,
    # identical output). The shapes that genuinely emit from it are
    # watermark-evicting APPEND-mode aggregations (q396: the final
    # watermark's eviction IS the no-data batch) and OUTER stream-stream
    # joins (their NULL rows surface on final eviction) — such callers
    # pass ``final_no_data_batch=True``.
    no_data = str(final_no_data_batch).lower()
    conf = {"spark.sql.shuffle.partitions": str(_STATE_PARTITIONS),
            "spark.sql.streaming.noDataMicroBatches.enabled": no_data}
    with scoped_conf(df.sparkSession, conf):
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
    q.processAllAvailable()
    q.stop()


def foreach_batch_upsert(store, schema: str, table: str, keys: list[str]):
    """A10 as a streaming sink: upsert each micro-batch into the target by
    key (insert new, update changed; deletes don't exist in an append-only
    change feed). On Delta this is MERGE INTO; on parquet, rewrite-by-union.
    Exactly-once across retries comes from the idempotence of the MERGE.
    Each batch is staged, then swapped in with the store's crash-safe
    ``swap_in``; ``recover`` first repairs a swap an earlier batch left cut."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        store.recover(schema, table)
        batch = batch_df.dropDuplicates(keys)
        if store.exists(schema, table):
            tgt = store.read(schema, table)
            keep = tgt.join(batch.select(*keys), on=keys, how="left_anti")
            out = keep.unionByName(batch.select(tgt.columns))
        else:
            out = batch
        # stage-then-swap: never overwrite the file we are reading from
        tmp = store.path(schema, table) + f".epoch{epoch_id}"
        out.write.mode("overwrite").parquet(tmp)
        store.swap_in(schema, table, tmp)

    return apply


def streaming_mg_candidates(
    events: DataFrame, key_col: str, capacity: int, buckets: int = 16
) -> DataFrame:
    """Streaming Misra-Gries frequent-item summaries via
    ``applyInPandasWithState``: the stream is split into ``buckets`` hash
    groups, each group carries an MG counter table (≤ ``capacity`` entries)
    in explicit state across micro-batches, and every batch emits the
    group's current survivor set in update mode.

    Superset guarantee (the property the batch verify pass relies on): an
    item's counter only decreases via the MG charge, bounded per bucket by
    n_bucket/(capacity+1) — so any item with bucket frequency above that
    survives IN THE FINAL state. Since a memory-sink union over update-mode
    emissions can only ADD earlier snapshots, the union of all emitted rows
    is a superset of the final survivors, hence still a superset of the true
    heavy hitters. Exact counting of the candidates afterwards makes the
    end-to-end result exact — the classic streaming-sketch + batch-verify
    (lambda) split, with O(buckets · capacity) total state."""
    import pandas as pd  # noqa: PLC0415 — Arrow path only
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            keys, counts = state.get
            counters = dict(zip(keys, counts))
        else:
            counters = {}
        for pdf in pdf_iter:
            for v, c in pdf["__mg_key"].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > capacity:
                cs = sorted(counters.values())
                cut = cs[len(counters) - capacity - 1]
                counters = {v: c - cut for v, c in counters.items() if c > cut}
        state.update((list(counters.keys()), [int(c) for c in counters.values()]))
        yield pd.DataFrame({"value": list(counters.keys())})

    keyed = events.select(
        F.col(key_col).cast("string").alias("__mg_key"),
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(buckets)).alias(
            "__bucket"
        ),
    )
    return keyed.groupBy("__bucket").applyInPandasWithState(
        update,
        outputStructType="value string",
        stateStructType="keys array<string>, counts array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
