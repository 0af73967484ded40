from __future__ import annotations

import os
import sys

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
