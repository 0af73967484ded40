from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sqlserver2pgsql_spark.compare import duck_views, mismatch
from sqlserver2pgsql_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    yield duck_views(SF_DIR)


PG_BIN = "/usr/local/bin"
SOCK_PORT = 54329


def _run(cmd: list[str], **kw) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, capture_output=True, text=True, timeout=120, **kw)


@pytest.fixture(scope="session")
def pg():
    """A private PostgreSQL 15 server, run as ``nobody`` (postgres refuses
    root) on a unix socket under /tmp; yields ``psql(sql=… | file=…, db=…,
    stop=…)``. Skips when the binaries or ``su`` are missing."""
    if not (os.path.exists(f"{PG_BIN}/initdb") and shutil.which("psql") and shutil.which("su")):
        pytest.skip("no PostgreSQL binaries in environment")
    base = tempfile.mkdtemp(prefix="spark_graft_livepg_")
    data = os.path.join(base, "data")
    sock = os.path.join(base, "sock")
    os.makedirs(data)
    os.makedirs(sock)
    shutil.chown(base, user="nobody")
    shutil.chown(data, user="nobody")
    shutil.chown(sock, user="nobody")
    init = _run(
        ["su", "-s", "/bin/sh", "nobody", "-c",
         f"{PG_BIN}/initdb -D {data} -U pg --no-sync -A trust"],
        cwd="/tmp",
    )
    if init.returncode != 0:
        pytest.skip(f"initdb failed: {init.stderr[-200:]}")
    start = _run(
        ["su", "-s", "/bin/sh", "nobody", "-c",
         f"{PG_BIN}/pg_ctl -D {data} -l {data}/log -o "
         f"'-k {sock} -p {SOCK_PORT} -c listen_addresses= -F' start"],
        cwd="/tmp",
    )
    if start.returncode != 0:
        pytest.skip(f"pg_ctl start failed: {start.stderr[-200:]}")

    def psql(sql: str | None = None, file: str | None = None, db: str = "postgres",
             stop: bool = True):
        cmd = ["psql", "-h", sock, "-p", str(SOCK_PORT), "-U", "pg", "-d", db,
               "-v", f"ON_ERROR_STOP={int(stop)}", "-qAt"]
        if file:
            cmd += ["-f", file]
        else:
            cmd += ["-c", sql]
        return _run(cmd, cwd="/tmp")

    yield psql
    _run(
        ["su", "-s", "/bin/sh", "nobody", "-c",
         f"{PG_BIN}/pg_ctl -D {data} -m immediate stop"],
        cwd="/tmp",
    )
    shutil.rmtree(base, ignore_errors=True)


@pytest.fixture
def loop_rounds(monkeypatch):
    """Round counts of every ``fixed_point`` loop the graph engines run
    during the test, in call order (the engines return labels only)."""
    from sqlserver2pgsql_spark.operators import graph, loop

    seen: list[int] = []

    def recording(*args, **kwargs):
        state, rounds = loop.fixed_point(*args, **kwargs)
        seen.append(rounds)
        return state, rounds

    monkeypatch.setattr(graph, "fixed_point", recording)
    return seen


def assert_matches_oracle(spark_df, duck_con, oracle_sql: str):
    err = mismatch(spark_df.toPandas(), duck_con.execute(oracle_sql).fetchdf())
    assert err is None, err
