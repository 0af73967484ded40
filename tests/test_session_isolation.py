"""Library code leaves the caller's session as it found it: every conf
change goes through ``session.scoped_conf``, whose windows nest on one
thread, run one after the other across threads, and put back each key's
prior value."""

from __future__ import annotations

import re
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from sqlserver2pgsql_spark.compare import mismatch
from sqlserver2pgsql_spark.session import scoped_conf, tune_session
from sqlserver2pgsql_spark.streaming import (
    run_stream_to_memory,
    stream_events,
    windowed_event_agg,
)
from tests.conftest import REPO, SF_DIR

AQE = "spark.sql.adaptive.enabled"
WIDTH = "spark.sql.shuffle.partitions"
# set by no code in this repo, so unset in the test session
UNSET = "spark.sql.autoBroadcastJoinThreshold"

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


def _conf(spark) -> dict[str, str]:
    return dict(spark.conf.getAll)


def _run(spark, name):
    return _QUERIES[name](spark, SF_DIR).toPandas()


def _misses(duck, got) -> dict[str, str]:
    """Each query's mismatch against its oracle, for the queries that miss."""
    errs = {n: mismatch(pdf, duck.execute(_ORACLES[n]).fetchdf()) for n, pdf in got.items()}
    return {n: err for n, err in errs.items() if err is not None}


def test_windows_from_two_threads_run_one_after_the_other(spark):
    before = _conf(spark)
    a_open, a_close, b_open = threading.Event(), threading.Event(), threading.Event()

    def window_a():
        with scoped_conf(spark, {AQE: "false"}):
            a_open.set()
            a_close.wait(60)

    def window_b():
        a_open.wait(60)
        with scoped_conf(spark, {AQE: "false"}):
            b_open.set()

    threads = [threading.Thread(target=window_a), threading.Thread(target=window_b)]
    for t in threads:
        t.start()
    try:
        assert a_open.wait(60)
        assert not b_open.wait(1.0), "B's window opened inside A's"
        assert spark.conf.get(AQE) == "false"
    finally:
        a_close.set()
        for t in threads:
            t.join(60)
    assert b_open.is_set()
    assert _conf(spark) == before


def test_unlocked_save_restore_overlap_leaves_the_window_value():
    """The order two unlocked save/set/restore windows could run in on one
    session (A enters, B enters, A exits, B exits): B saved A's value and
    puts it back last, so the session keeps it for good."""
    conf = {AQE: "true"}
    a_saved, conf[AQE] = conf[AQE], "false"
    b_saved, conf[AQE] = conf[AQE], "false"
    conf[AQE] = a_saved
    conf[AQE] = b_saved
    assert conf[AQE] == "false"


def test_nested_windows_restore_level_by_level(spark):
    width = spark.conf.get(WIDTH)
    assert spark.conf.get(UNSET, None) is None
    with scoped_conf(spark, {WIDTH: "7", UNSET: "-1"}):
        with scoped_conf(spark, {WIDTH: "5", UNSET: "1MB"}):
            assert (spark.conf.get(WIDTH), spark.conf.get(UNSET)) == ("5", "1MB")
        assert (spark.conf.get(WIDTH), spark.conf.get(UNSET)) == ("7", "-1")
    assert spark.conf.get(WIDTH) == width
    assert spark.conf.get(UNSET, None) is None


def test_a_failed_set_restores_the_keys_already_set(spark):
    before = _conf(spark)
    # a static conf cannot change at runtime
    with pytest.raises(Exception, match="spark.sql.warehouse.dir"):
        with scoped_conf(spark, {WIDTH: "3", "spark.sql.warehouse.dir": "/nowhere"}):
            pass
    assert _conf(spark) == before


def test_concurrent_queries_on_one_session_stay_exact(spark, duck):
    # two min-label loops (each with an AQE-off window) and the star loop,
    # which runs under the caller's AQE setting
    names = ("q51_dedup_clusters", "q188_entity_resolution", "q90_dedup_clusters_star")
    before = _conf(spark)
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        got = dict(zip(names, pool.map(lambda n: _run(spark, n), names)))
    assert _conf(spark) == before
    misses = _misses(duck, got)
    assert not misses, misses


def test_stream_window_covers_start_only(spark, monkeypatch):
    from pyspark.sql.streaming.query import StreamingQuery

    seen = {}
    drain = StreamingQuery.processAllAvailable

    def recording(query):
        seen["width"] = spark.conf.get(WIDTH)
        drain(query)
        seen["progress"] = query.recentProgress

    monkeypatch.setattr(StreamingQuery, "processAllAvailable", recording)
    with scoped_conf(spark, {WIDTH: "3"}):
        run_stream_to_memory(
            windowed_event_agg(stream_events(spark, SF_DIR)), "isolation_out"
        )
        assert spark.conf.get(WIDTH) == "3"
    assert seen["width"] == "3"
    ops = [op for p in seen["progress"] for op in p.stateOperators]
    assert ops and all(op.numShufflePartitions == 8 for op in ops)


#: the perfbench query set, a min-label loop and a stream
FOREIGN_SESSION_QUERIES = (
    "q01_pricing_summary", "q06_incremental_diff", "q07_incremental_apply",
    "q12_tsql_scalars", "q15_pk_validation", "q59_skew_join",
    "q99_pmi_collocations", "q250_knn_loo_eval",
    "q51_dedup_clusters", "q32_stream_window_agg",
)


def test_queries_exact_in_a_foreign_session(spark, duck):
    """A foreign session as ``entry`` may get it: another timezone, a wide
    default shuffle and AQE off, then ``tune_session`` as ``entry`` calls
    it; the queries then run with AQE held off, as on a deployment where it
    cannot be switched on."""
    before = _conf(spark)
    foreign = {
        "spark.sql.session.timeZone": "America/Los_Angeles",
        WIDTH: "200",
        AQE: "false",
    }
    with scoped_conf(spark, foreign):
        tune_session(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        with scoped_conf(spark, {AQE: "false"}):
            got = {n: _run(spark, n) for n in FOREIGN_SESSION_QUERIES}
    misses = _misses(duck, got)
    assert not misses, misses
    assert _conf(spark) == before


def test_only_the_session_module_writes_session_conf():
    pkg = Path(REPO) / "sqlserver2pgsql_spark"
    writes = re.compile(r"conf\.(set|unset)\(")
    offenders = [
        f"{path.relative_to(REPO)}:{lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "session.py"
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if writes.search(line)
    ]
    assert not offenders, f"session conf written outside session.scoped_conf: {offenders}"
