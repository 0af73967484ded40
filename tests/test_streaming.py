"""M8 streaming tests: windowed agg ≡ batch equivalent, session windows,
foreachBatch upsert sink."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sqlserver2pgsql_spark.plans import ParquetStore, transfer
from sqlserver2pgsql_spark.sources.tables import load_table
from sqlserver2pgsql_spark.streaming import (
    foreach_batch_upsert,
    run_stream_to_memory,
    sessionized_stream,
    stream_events,
    windowed_event_agg,
)
from tests.conftest import SF_DIR


def test_stream_windowed_agg_matches_batch(spark):
    stream = windowed_event_agg(stream_events(spark, SF_DIR))
    run_stream_to_memory(stream, "win_out")
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM win_out").collect()
    }

    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,8)")).cast("double").alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    exp = {
        (r.window_start, r.event_type): (r.n, r.sum_value) for r in batch.collect()
    }
    assert got == exp and len(got) > 0


def test_sessionized_stream_runs(spark):
    stream = sessionized_stream(stream_events(spark, SF_DIR))
    run_stream_to_memory(stream, "sess_out")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert rows
    assert all(r.session_end > r.session_start and r.n_events >= 1 for r in rows)


def test_foreach_batch_upsert(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path))
    store.write(
        spark.createDataFrame(
            [Row(k=1, v="old"), Row(k=2, v="keep")], schema="k int, v string"
        ),
        "public",
        "t",
    )
    upsert = foreach_batch_upsert(store, "public", "t", keys=["k"])
    batch = spark.createDataFrame(
        [Row(k=1, v="new"), Row(k=3, v="ins")], schema="k int, v string"
    )
    upsert(batch, epoch_id=0)
    got = {r.k: r.v for r in store.read("public", "t").collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}
    # idempotent retry (same epoch re-applied)
    upsert(batch, epoch_id=0)
    assert {r.k: r.v for r in store.read("public", "t").collect()} == got


def test_foreach_batch_upsert_survives_a_cut_swap(spark, tmp_path, monkeypatch):
    store = ParquetStore(spark, str(tmp_path))
    schema = "k int, v string"
    store.write(spark.createDataFrame([(1, "old"), (2, "keep")], schema), "public", "t")
    upsert = foreach_batch_upsert(store, "public", "t", keys=["k"])
    batch = spark.createDataFrame([(1, "new"), (3, "ins")], schema)
    final = store.path("public", "t")
    real_replace = os.replace

    def cut(a, b):  # the rename of the staged batch into place fails
        if a == final + ".epoch0":
            raise OSError("cut between move-aside and swap")
        real_replace(a, b)

    monkeypatch.setattr(transfer.os, "replace", cut)
    with pytest.raises(OSError, match="cut between"):
        upsert(batch, epoch_id=0)
    monkeypatch.undo()
    assert not os.path.exists(final)  # the old copy sits aside, not deleted
    # the retried batch puts the old copy back, then applies
    upsert(batch, epoch_id=0)
    assert {r.k: r.v for r in store.read("public", "t").collect()} == \
        {1: "new", 2: "keep", 3: "ins"}
    assert not os.path.exists(final + ".old")


def test_stateful_user_totals_matches_batch(spark):
    """applyInPandasWithState carries per-user (n, cents) state; with the
    file source drained via availableNow the final emission must equal the
    batch aggregate (integer-cents accumulation is order-free)."""
    from sqlserver2pgsql_spark.streaming.jobs import stateful_user_totals

    stream = stateful_user_totals(stream_events(spark, SF_DIR))
    run_stream_to_memory(stream, "stateful_out", output_mode="update")
    got = {
        r.user_id: (r.n_events, r.total_cents)
        for r in spark.sql("SELECT * FROM stateful_out").collect()
    }
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    exp = {r.user_id: (r.n, r.cents) for r in batch.collect()}
    assert got == exp


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark late-data semantics, observed and pinned: Spark applies
    the late-row filter with a ONE-BATCH LAG — the watermark advanced by
    batch N's data takes effect for filtering in batch N+2 (batch N+1
    still runs under the pre-N watermark; its progress REPORTS the new
    value but does not filter with it). Three files forced into three
    batches via maxFilesPerTrigger=1 + mtime ordering: the first late row
    (batch 1) is admitted, the second (batch 2) is dropped with
    numRowsDroppedByWatermark=1. Production monitoring must therefore
    treat the drop metric as lagging, and idempotent sinks — not the
    watermark — are the real guard for the first late batch."""
    import json
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()
    on_time = [
        {"event_id": i, "ts": f"2024-01-01T10:{30 + i}:00.000Z", "user_id": 1,
         "event_type": "click", "value": 1.0}
        for i in range(3)
    ]
    late1 = [{"event_id": 99, "ts": "2024-01-01T09:00:00.000Z", "user_id": 1,
              "event_type": "click", "value": 1.0}]
    late2 = [{"event_id": 98, "ts": "2024-01-01T08:00:00.000Z", "user_id": 1,
              "event_type": "click", "value": 1.0}]
    files = [(src / "a.jsonl", on_time, 100), (src / "b.jsonl", late1, 50),
             (src / "c.jsonl", late2, 0)]
    now = time.time()
    for path, rows, age in files:
        path.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(path, (now - age, now - age))

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    dedup = stream.withWatermark("ts", "10 minutes").dropDuplicates(
        ["event_id", "ts"]
    )
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_drop_test")
        .start()
    )
    q.processAllAvailable()
    progress = list(q.recentProgress)
    q.stop()
    assert [p["batchId"] for p in progress] == [0, 1, 2], progress
    drops = [
        sum(op.get("numRowsDroppedByWatermark", 0)
            for op in p["stateOperators"])
        for p in progress
    ]
    # batch 1: watermark 10:22 is REPORTED but not yet filtering (lag);
    # batch 2: the same watermark now drops the older row
    assert progress[1]["eventTime"]["watermark"] == "2024-01-01T10:22:00.000Z"
    assert drops == [0, 0, 1], drops
    ids = {r[0] for r in spark.sql("SELECT event_id FROM wm_drop_test").collect()}
    assert 98 not in ids and 99 in ids, ids


def test_checkpoint_restart_recovers_state(spark, tmp_path):
    """The operational contract for production streams: stop a stateful
    query, deliver more data, restart with the SAME checkpoint — state
    must recover (counts continue) and already-processed files must not
    replay. A fresh query name reading the same source from a FRESH
    checkpoint would instead recount from zero; the recovered totals
    prove the state store round-trip."""
    import json
    import os
    import time

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    batch1 = [
        {"user_id": 1, "value": 1.0}, {"user_id": 1, "value": 2.0},
        {"user_id": 2, "value": 5.0},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(r) for r in batch1))
    schema = "user_id long, value double"

    def start():
        stream = spark.readStream.schema(schema).json(str(src))
        agg = stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )
        return (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("ckpt_restart_test")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    first = {
        r.user_id: (r.n, r.cents)
        for r in spark.sql("SELECT * FROM ckpt_restart_test").collect()
    }
    q.stop()
    assert first == {1: (2, 300), 2: (1, 500)}, first

    batch2 = [{"user_id": 1, "value": 4.0}, {"user_id": 3, "value": 7.0}]
    f2 = src / "b.jsonl"
    f2.write_text("\n".join(json.dumps(r) for r in batch2))
    os.utime(f2, (time.time() + 1, time.time() + 1))

    q2 = start()
    q2.processAllAvailable()
    second = {
        r.user_id: (r.n, r.cents)
        for r in spark.sql("SELECT * FROM ckpt_restart_test").collect()
    }
    q2.stop()
    # user 1 continued from recovered state; user 3 is new; user 2 untouched
    assert second == {1: (3, 700), 2: (1, 500), 3: (1, 700)}, second


def test_outer_stream_join_withholds_unevicted_tail(spark):
    """PINS Spark's left-outer stream-stream join emission contract under
    availableNow: matched rows equal the batch join exactly, but a NULL
    (no-match) row is emitted ONLY once the final watermark passes the
    click's join-window end — clicks whose state survives stream
    termination never surface. Expected withheld set is derived from the
    batch side with wm = min(max event time per input) - delay: a null
    row requires click_ts + 30min < wm. Anyone porting a batch left join
    to streaming must know the tail is silently open — this test fails
    loudly if an engine upgrade changes the eviction timing."""
    from pyspark.sql import functions as F

    from sqlserver2pgsql_spark.streaming.jobs import (
        run_stream_to_memory,
        stream_events,
    )

    sf = SF_DIR
    delay = "10 minutes"

    def sides(reader):
        c = (
            reader.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
            )
        )
        p = (
            reader.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("purchase_ts"),
            )
        )
        return c, p

    cond = lambda: (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        )
    )
    sc, sp = sides(stream_events(spark, sf))
    j = sc.withWatermark("click_ts", delay).join(
        sp.withWatermark("purchase_ts", delay), cond(), "left_outer"
    )
    # OUTER stream joins emit their NULL rows from the final watermark's
    # eviction, which runs in the trailing no-data batch — like q396's
    # append aggregation, this pin needs that batch kept
    run_stream_to_memory(
        j, "loj_pin", output_mode="append", final_no_data_batch=True
    )
    got = spark.sql("select * from loj_pin")

    ev = spark.read.parquet(f"{sf}/events.parquet")
    bc, bp = sides(ev)
    batch = bc.join(bp, cond(), "left_outer")

    # matched rows: exact equality
    gm = got.filter(F.col("purchase_id").isNotNull())
    bm = batch.filter(F.col("purchase_id").isNotNull())
    assert gm.count() == bm.count()
    assert gm.exceptAll(bm).isEmpty() and bm.exceptAll(gm).isEmpty()

    # null rows: batch nulls whose join window closed before the final
    # watermark (min over inputs of max event time, minus the delay)
    wm_row = (
        bc.agg(F.max("click_ts").alias("mc"))
        .crossJoin(bp.agg(F.max("purchase_ts").alias("mp")))
        .select(
            (F.least("mc", "mp") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
        )
    )
    expected_nulls = (
        batch.filter(F.col("purchase_id").isNull())
        .crossJoin(wm_row)
        .filter(F.col("click_ts") + F.expr("INTERVAL 30 MINUTES") < F.col("wm"))
        .select("click_id")
    )
    got_nulls = got.filter(F.col("purchase_id").isNull()).select("click_id")
    assert got_nulls.exceptAll(expected_nulls).isEmpty()
    assert expected_nulls.exceptAll(got_nulls).isEmpty()
