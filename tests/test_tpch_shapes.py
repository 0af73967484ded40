"""Plan audits for the classic TPC-H 22 completion (q196-q204): the scale
claims in each docstring must be visible in the physical plan — broadcast
dims, hashable equi-joins despite residual disjunctions, semi-join
compilation of IN subqueries, and zero Python evaluation anywhere."""

from __future__ import annotations

from sqlserver2pgsql_spark import queries_r4 as QR
from sqlserver2pgsql_spark.measure import plan_text
from sqlserver2pgsql_spark.session import scoped_conf
from tests.conftest import SF_DIR


def test_q196_min_cost_join_back_broadcasts(spark):
    """Q2 shape: the per-part min joins back via broadcast; dims broadcast;
    no window over the eligible set."""
    plan = plan_text(QR.q196_min_cost_supplier(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q197_market_share_single_big_shuffle(spark):
    """Q8 shape: every dimension broadcasts — the only SortMergeJoin/
    ShuffledHashJoin permitted is lineitem->orders."""
    plan = plan_text(QR.q197_national_market_share(spark, SF_DIR))
    n_shuffle_joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert n_shuffle_joins <= 1, plan
    assert plan.count("BroadcastHashJoin") >= 5, plan


def test_q203_disjunction_stays_hash_join(spark):
    """Q19 shape: the OR-of-ANDs must ride the partkey equi-join as a
    residual — never a nested-loop fallback."""
    plan = plan_text(QR.q203_disjunctive_revenue(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # Catalyst decomposes the OR into per-side implied predicates: the brand
    # disjunction reaches the part scan and the quantity bands reach the
    # lineitem scan (some PushedFilters section carries each)
    pushed = [s[:600] for s in plan.split("PushedFilters")[1:]]
    assert any("p_brand" in s for s in pushed), plan
    assert any("l_quantity" in s for s in pushed), plan


def test_q204_in_subquery_compiles_to_semi(spark):
    """Q20 shape: the supplier IN (...) chain compiles to LEFT SEMI, and
    the PROMO part filter pushes into the part scan."""
    plan = plan_text(QR.q204_part_promotion_suppliers(spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q200_left_join_preserves_zero_customers(spark, tmp_path):
    """Q13 shape: the priority exclusion must sit in the join predicate,
    not a post-join filter. The fixture has no order-less customers at
    sf0.001, so synthesize the two cases that distinguish the join-
    predicate placement: a customer with NO orders and one whose ONLY
    order is 1-URGENT — both must land in the c_count=0 bucket."""
    import pandas as pd

    # single-file parquet, matching the fixture layout the loader sniffs
    pd.DataFrame({"c_custkey": [1, 2, 3], "c_name": list("abc")}).to_parquet(
        tmp_path / "customer.parquet"
    )
    pd.DataFrame(
        {
            "o_orderkey": [10, 11, 12],
            "o_custkey": [1, 3, 3],
            "o_orderpriority": ["1-URGENT", "3-MEDIUM", "1-URGENT"],
        }
    ).to_parquet(tmp_path / "orders.parquet")
    pdf = QR.q200_customer_order_distribution(spark, str(tmp_path)).toPandas()
    dist = dict(zip(pdf["c_count"], pdf["custdist"]))
    assert dist == {0: 2, 1: 1}, dist


def test_q201_scalar_max_is_broadcast(spark):
    """Q15 shape: the scalar max joins via a 1-row broadcast, and the tie
    comparison happens in DECIMAL space (no double equality)."""
    plan = plan_text(QR.q201_top_supplier(spark, SF_DIR))
    assert "Broadcast" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q210_orc_filter_pushdown(spark, tmp_path):
    """The ORC read-back path must push the date predicate into the ORC
    scan (stripe-statistics pruning at scale)."""
    from pyspark.sql import functions as F
    from sqlserver2pgsql_spark.sources.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem").select("l_shipdate", "l_quantity")
    out = str(tmp_path / "orc")
    li.write.orc(out)
    back = spark.read.orc(out).filter(F.col("l_shipdate") >= "1997-01-01")
    plan = plan_text(back)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200], plan


def test_q216_minimax_equals_literal_pav(spark):
    """The minimax closed form both engines share must equal the literal
    pool-adjacent-violators algorithm — run PAV in numpy on the same
    (group, ordered-y) sequences and compare every fitted value."""
    import numpy as np

    from sqlserver2pgsql_spark import queries_r4 as QR4

    pdf = QR4.q216_isotonic_calibration(spark, SF_DIR).toPandas()

    def pav(y):
        # stack of pools: (sum, count)
        pools = []
        for v in y:
            pools.append([float(v), 1])
            while len(pools) > 1 and (
                pools[-2][0] / pools[-2][1] >= pools[-1][0] / pools[-1][1]
            ):
                s, c = pools.pop()
                pools[-1][0] += s
                pools[-1][1] += c
        out = []
        for s, c in pools:
            out.extend([s / c] * c)
        return out

    for g, grp in pdf.groupby("event_type"):
        grp = grp.sort_values("rn")
        expect = np.round(pav(grp["y"].tolist()), 9)
        got = grp["fitted"].to_numpy()
        assert np.allclose(got, expect, atol=1e-9), g


def test_runtime_bloom_filter_join_injection(spark):
    """Runtime bloom-filter join (SPARK-32268): with a selective build
    side, Spark injects a bloom filter from the filtered dims into the
    big fact scan — the runtime semi-join pushdown that prunes shuffle
    input at 100 TB. Local fixtures sit under the default 10 GB
    application-side threshold, so the test lowers it to prove the
    session supports the rewrite; production keeps the default."""
    from pyspark.sql import functions as F
    from sqlserver2pgsql_spark.sources.tables import load_table

    with scoped_conf(spark, {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }):
        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderstatus")
            .count()
        )
        plan = plan_text(j)
        assert "might_contain" in plan.lower(), plan[:2000]


def test_aqe_skew_join_split(spark):
    """AQE skew-join (SPARK-29544): a hot key concentrating ~90% of the
    probe side must be detected at runtime and split into subpartitions —
    the executed adaptive plan carries SortMergeJoin(skew=true). This is
    the runtime complement to the explicit salting operator (q59): AQE
    handles skew discovered mid-job, salting handles skew known upfront.
    Thresholds are lowered so fixture-scale bytes trigger the detector;
    production keeps the defaults."""
    from pyspark.sql import functions as F

    with scoped_conf(spark, {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }):
        left = spark.range(200000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").groupBy().agg(F.count(F.lit(1)).alias("n"))
        j.collect()  # AQE marks skew only in the EXECUTED plan
        plan = plan_text(j)
        assert "skew=true" in plan, plan[:2000]


def test_blocked_pav_equals_direct_minimax(spark):
    """The blocked PAV operator (the documented scale path for q216) must
    reproduce the direct O(n^2) minimax solution exactly — block size 32
    forces multiple blocks and cross-block pool merges on this data."""
    from pyspark.sql import functions as F

    from sqlserver2pgsql_spark import queries_r4 as QR4
    from sqlserver2pgsql_spark.operators.isotonic import isotonic_fit
    from sqlserver2pgsql_spark.sources.tables import load_table

    direct = (
        QR4.q216_isotonic_calibration(spark, SF_DIR)
        .select("event_type", "rn", "fitted")
        .toPandas()
        .sort_values(["event_type", "rn"], ignore_index=True)
    )
    ev = load_table(spark, SF_DIR, "events").filter(F.col("user_id") < 12)
    blocked = (
        isotonic_fit(
            ev, "event_type", ["value", "event_id"],
            (F.col("event_id") % 2), block=32,
        )
        .select("event_type", "rn", F.round("fitted", 9).alias("fitted"))
        .toPandas()
        .sort_values(["event_type", "rn"], ignore_index=True)
    )
    assert len(direct) == len(blocked) and len(direct) > 0
    assert (direct["fitted"] == blocked["fitted"]).all(), (
        direct.compare(blocked).head()
    )


def test_blocked_pav_monotone_and_mean_preserving(spark):
    """PAV invariants on the blocked operator: fitted is non-decreasing
    within each group, and the fitted sum equals the y sum (pool means
    preserve mass)."""
    from pyspark.sql import functions as F

    from sqlserver2pgsql_spark.operators.isotonic import isotonic_fit
    from sqlserver2pgsql_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    pdf = (
        isotonic_fit(ev, "event_type", ["ts", "event_id"],
                     (F.col("user_id") % 3), block=64)
        .toPandas()
        .sort_values(["event_type", "rn"], ignore_index=True)
    )
    for g, grp in pdf.groupby("event_type"):
        assert (grp["fitted"].diff().dropna() >= -1e-12).all(), g
        assert abs(grp["fitted"].sum() - grp["y"].sum()) < 1e-6, g


def test_observe_inflight_metrics(spark):
    """Spark's Observation API: in-flight metrics collected during a
    normal action — the zero-extra-pass audit hook (row counts, null
    counts, sums piggyback on the job instead of a second scan). The
    observed values must equal a direct aggregate."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from sqlserver2pgsql_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    obs = Observation("audit")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        F.count(F.when(F.col("event_type").isNull(), 1)).alias("null_types"),
    )
    sink_rows = observed.filter(F.col("event_type") == "purchase").count()
    direct = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
    ).collect()[0]
    got = obs.get
    assert got["n"] == direct["n"] and got["cents"] == direct["cents"]
    assert got["null_types"] == 0
    assert 0 < sink_rows < got["n"]


def test_blocked_pav_property_random_sequences(spark):
    """Hypothesis-style property sweep (deterministic seeds): random
    y-sequences and block sizes — blocked PAV must equal the literal
    numpy pool-adjacent-violators on every one, including block=1
    (every row its own block) and block >= n (single block)."""
    import random as _random

    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F
    from sqlserver2pgsql_spark.operators.isotonic import isotonic_fit

    def pav(y):
        pools = []
        for v in y:
            pools.append([float(v), 1])
            while len(pools) > 1 and (
                pools[-2][0] / pools[-2][1] >= pools[-1][0] / pools[-1][1]
            ):
                s, c = pools.pop()
                pools[-1][0] += s
                pools[-1][1] += c
        out = []
        for s, c in pools:
            out.extend([s / c] * c)
        return out

    for seed in range(6):
        rng = _random.Random(seed)
        n = rng.randrange(5, 60)
        ys = [rng.randrange(0, 4) for _ in range(n)]
        block = rng.choice([1, 3, 8, n, n + 10])
        pdf = pd.DataFrame(
            {"g": ["a"] * n, "ord": list(range(n)), "y": ys}
        )
        df = spark.createDataFrame(pdf)
        got = (
            isotonic_fit(df, "g", ["ord"], F.col("y"), block=block)
            .toPandas()
            .sort_values("rn", ignore_index=True)["fitted"]
            .to_numpy()
        )
        expect = np.array(pav(ys))
        assert np.allclose(got, expect, atol=1e-12), (seed, block, ys)
