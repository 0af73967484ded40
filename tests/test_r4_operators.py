"""Round-4 operator tests: SCD2/CDC semantics, fixed-point PageRank
determinism, bloom-filter guarantees, cross-corpus MinHash recall, and the
physical-plan audits for the new queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlserver2pgsql_spark import queries_r4 as QR
from sqlserver2pgsql_spark.measure import plan_text
from sqlserver2pgsql_spark.operators.bloom import bloom_build, bloom_probe
from sqlserver2pgsql_spark.operators.graph import PR_SCALE, pagerank_fixed_point
from sqlserver2pgsql_spark.operators.scd import cdc_apply_latest, scd2_history
from tests.conftest import SF_DIR


# --- SCD2 / CDC -------------------------------------------------------------


def test_scd2_collapses_unchanged_and_versions_changes(spark):
    log = spark.createDataFrame(
        [
            (1, 10, 1, "a"),
            (1, 20, 2, "a"),  # unchanged — collapses into the first version
            (1, 30, 3, "b"),  # new version
            (1, 40, 4, "a"),  # back to 'a' — THIRD version (not merged)
            (2, 10, 5, "x"),
        ],
        "k int, ts int, seq int, v string",
    )
    out = scd2_history(log, ["k"], "ts", ["v"], order_cols=["seq"])
    rows = {(r.k, r.valid_from): r for r in out.collect()}
    assert len(rows) == 4
    assert rows[(1, 10)].v == "a" and rows[(1, 10)].valid_to == 30
    assert rows[(1, 30)].v == "b" and rows[(1, 30)].valid_to == 40
    assert rows[(1, 40)].v == "a" and rows[(1, 40)].is_current
    assert rows[(2, 10)].is_current


def test_scd2_reload_idempotent(spark):
    """Appending an identical snapshot must not mint new versions."""
    log = spark.createDataFrame(
        [(1, 10, 1, "a"), (1, 20, 2, "a")], "k int, ts int, seq int, v string"
    )
    assert scd2_history(log, ["k"], "ts", ["v"], order_cols=["seq"]).count() == 1


def test_cdc_latest_wins_and_delete_drops(spark):
    log = spark.createDataFrame(
        [
            (1, 10, "I", "v1"),
            (1, 20, "U", "v2"),  # winner for key 1
            (2, 10, "I", "v1"),
            (2, 30, "D", None),  # trailing delete — key 2 gone
            (3, 10, "D", None),
            (3, 20, "I", "v9"),  # re-insert after delete — key 3 lives
        ],
        "k int, ts int, op string, payload string",
    )
    out = {r.k: r.payload for r in cdc_apply_latest(log, ["k"], ["ts"]).collect()}
    assert out == {1: "v2", 3: "v9"}


# --- fixed-point PageRank ---------------------------------------------------


def test_pagerank_partitioning_invariant(spark):
    """BIGINT fixed-point makes the result identical under any input
    partitioning — the property float PageRank lacks."""
    edges = [(i, (i * 7) % 23) for i in range(23)] + [(i, (i + 1) % 23) for i in range(23)]
    df1 = spark.createDataFrame(edges, "src long, dst long")
    df2 = df1.repartition(17)
    r1 = {r.node: r.rank_fp for r in pagerank_fixed_point(df1, iterations=3).collect()}
    r2 = {r.node: r.rank_fp for r in pagerank_fixed_point(df2, iterations=3).collect()}
    assert r1 == r2
    # mass is conserved up to the documented floor-loss bound
    total = sum(r1.values())
    assert total <= PR_SCALE
    assert total >= PR_SCALE - len(r1) * 3 * 200  # N * iters * slack


def test_pagerank_sink_gets_teleport_only(spark):
    # b has no out-edges (dangling); c receives nothing
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    r = {x.node: x.rank_fp for x in pagerank_fixed_point(df, iterations=1).collect()}
    base = PR_SCALE // 2
    teleport = (100 - 85) * base // 100
    assert r[1] == teleport  # no in-edges
    assert r[2] == teleport + 85 * base // 100  # full share of node 1


# --- bloom ------------------------------------------------------------------


def test_bloom_no_false_negatives(spark):
    items = spark.createDataFrame([(f"item{i}",) for i in range(200)], "s string")
    bits = bloom_build(items, "s")
    probed = bloom_probe(items, "s", bits)
    assert probed.filter(~F.col("bloom_hit")).count() == 0


def test_bloom_rejects_most_non_members(spark):
    items = spark.createDataFrame([(f"item{i}",) for i in range(200)], "s string")
    bits = bloom_build(items, "s")
    other = spark.createDataFrame([(f"other{i}",) for i in range(200)], "s string")
    hits = bloom_probe(other, "s", bits).filter(F.col("bloom_hit")).count()
    # m=65536, k=3, n=200 → expected FP rate ~ (k*n/m)^k ≈ 1e-6
    assert hits <= 2


# --- cross-corpus minhash ---------------------------------------------------


def test_minhash_join_matches_exact_jaccard(spark, duck):
    got = (
        QR.q101_crosscorpus_minhash(spark, SF_DIR)
        .select("id1", "id2")
        .collect()
    )
    exact = duck.execute(
        f"""
        WITH batch AS ({QR._BATCH_SQL}),
        pb AS (SELECT doc_id, unnest({QR._SHINGLES3}) AS shingle FROM documents),
        pq AS (SELECT doc_id, unnest({QR._SHINGLES3}) AS shingle FROM batch),
        s1 AS (SELECT doc_id, count(*) n FROM pb GROUP BY 1),
        s2 AS (SELECT doc_id, count(*) n FROM pq GROUP BY 1),
        i AS (SELECT a.doc_id id1, b.doc_id id2, count(*) ni
              FROM pb a JOIN pq b USING (shingle) GROUP BY 1, 2)
        SELECT id1, id2 FROM i, s1, s2
        WHERE s1.doc_id = id1 AND s2.doc_id = id2
          AND CAST(ni AS DOUBLE) / (s1.n + s2.n - ni) >= 0.6
        """
    ).fetchall()
    assert sorted((r.id1, r.id2) for r in got) == sorted(exact)


# --- plan audits ------------------------------------------------------------


def test_q99_broadcasts_unigram_vocab(spark):
    plan = plan_text(QR.q99_pmi_collocations(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-100, no global sort


def test_q103_broadcasts_centroids(spark):
    plan = plan_text(QR.q103_kmeans_assign(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q105_bloom_probe_is_broadcast_semi(spark):
    plan = plan_text(QR.q105_bloom_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_q106_histogram_single_agg_no_join(spark):
    plan = plan_text(QR.q106_price_histogram(spark, SF_DIR))
    assert "Join" not in plan
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "o_totalprice" in read_schema and "o_custkey" not in read_schema


def test_q97_single_window_shuffle(spark):
    plan = plan_text(QR.q97_scd2_history(spark, SF_DIR))
    assert "Join" not in plan  # pure window pipeline
