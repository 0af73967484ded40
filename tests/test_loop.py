"""The fixed-point driver (operators/loop.py) and the engines built on it:
the round cap raises instead of returning an unconverged state, the two
connected-component engines agree, and PageRank equals an independent
pure-Python integer recurrence in both its global and seeded modes."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from sqlserver2pgsql_spark.operators import dedup as D
from sqlserver2pgsql_spark.operators.graph import (
    PR_SCALE,
    connected_components,
    connected_components_star,
    pagerank_fixed_point,
)
from sqlserver2pgsql_spark.operators.loop import closure, fixed_point
from sqlserver2pgsql_spark.queries_llm import _neardup_corpus
from tests.conftest import SF_DIR


def test_fixed_point_counts_rounds_and_raises_at_cap(spark):
    def halve(df):
        return df.select((F.col("x") / 2).cast("long").alias("x"))

    def same(new, old):
        return new.first().x == old.first().x

    start = spark.createDataFrame([(100,)], "x long")
    out, rounds = fixed_point(start, halve, same, max_rounds=10)
    # 100 50 25 12 6 3 1 0 0: the eighth round repeats the seventh
    assert (out.first().x, rounds) == (0, 8)
    with pytest.raises(RuntimeError, match="not converged after 7 rounds"):
        fixed_point(start, halve, same, max_rounds=7)


def test_closure_is_the_union_of_every_level(spark):
    seed = spark.createDataFrame([(13,), (40,)], "n long")

    def step(df):
        return df.filter(F.col("n") > 1).select((F.col("n") / 3).cast("long").alias("n"))

    got = sorted(r.n for r in closure(seed, step, max_rounds=8).collect())
    assert got == sorted([13, 4, 1, 40, 13, 4, 1])
    with pytest.raises(RuntimeError):
        closure(seed, step, max_rounds=3)


def test_chain_beyond_the_minlabel_cap(spark, loop_rounds):
    """A 120-node path needs ~119 propagation steps: min-label raises at its
    25-step cap instead of returning partial labels; the star engine, whose
    rounds grow with log^2 n, finds the one component."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(119)], "id1 long, id2 long")
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components(edges)
    labels = connected_components_star(edges)
    assert labels.count() == 120
    assert [r.cluster_id for r in labels.select("cluster_id").distinct().collect()] == [0]
    assert loop_rounds[-1] <= 12


def test_cc_engines_agree_on_the_q51_pair_graph(spark, loop_rounds):
    """Side by side on the near-dup pair graph q51 clusters: identical
    labels; the round counts are the numbers that decide whether both
    engines must stay (printed with -s)."""
    corpus = _neardup_corpus(spark, SF_DIR)
    pairs = D.ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.6)
    pairs = pairs.select("id1", "id2").localCheckpoint()
    want = sorted(map(tuple, connected_components(pairs).collect()))
    star = connected_components_star(pairs, assume_distinct=True)
    assert want and sorted(map(tuple, star.collect())) == want
    r_min, r_star = loop_rounds
    print(f"q51 pair graph: {len(want)} nodes, min-label {r_min} double rounds, "
          f"star {r_star} rounds")


def _reference_pagerank(edges, iterations, damping_pct=85, seeds=None):
    """The fixed-point recurrence in plain Python integers: floor-divided
    contributions, teleport share (100-d)*base//100 on seeds only."""
    edges = set(edges)
    nodes = {n for e in edges for n in e}
    seed_set = nodes if seeds is None else set(seeds) & nodes
    base = PR_SCALE // len(seed_set)
    teleport = (100 - damping_pct) * base // 100
    deg = Counter(s for s, _ in edges)
    rank = {n: base if n in seed_set else 0 for n in nodes}
    for _ in range(iterations):
        in_sum = defaultdict(int)
        for s, d in edges:
            in_sum[d] += rank[s] // deg[s]
        rank = {
            n: (teleport if n in seed_set else 0) + damping_pct * in_sum[n] // 100
            for n in nodes
        }
    return rank


#: 14 nodes: a cycle with chords and two self-loops (0, 6), a dangling node
#: (40), a node with no in-edges (50), and a duplicate edge the engine drops
_PR_EDGES = (
    [(i, (i + 1) % 12) for i in range(12)]
    + [(i, (i * 5) % 12) for i in range(0, 12, 2)]
    + [(3, 40), (50, 3), (50, 7), (50, 7)]
)


@pytest.mark.parametrize("iterations", [1, 5])
def test_pagerank_matches_integer_reference(spark, iterations):
    df = spark.createDataFrame(_PR_EDGES, "src long, dst long").repartition(3)
    seeds = spark.createDataFrame([(3,), (11,), (999,)], "node long")

    def ranks(**kw):
        pr = pagerank_fixed_point(df, iterations=iterations, **kw)
        return {r.node: r.rank_fp for r in pr.collect()}

    glob = ranks()
    assert glob == _reference_pagerank(_PR_EDGES, iterations)
    assert ranks(seeds=seeds) == _reference_pagerank(_PR_EDGES, iterations, seeds=[3, 11, 999])
    every = spark.createDataFrame([(n,) for n in glob], "node long")
    assert ranks(seeds=every) == glob
    with pytest.raises(ValueError):
        ranks(seeds=spark.createDataFrame([(999,)], "node long"))
