"""Connected components over a pair graph — dedup *clustering* — and
exact fixed-point PageRank.

Pair generators (exact Jaccard, MinHash LSH, SimHash, embedding near-dup)
emit edges; curation needs the transitive closure: one keeper per duplicate
CLUSTER. Two interchangeable engines with one contract: both return
``(node, cluster_id=min node id of the component)``, and both raise once
``max_iter`` is reached without convergence, so unconverged labels never
leave this module.

- ``connected_components`` — iterative min-label propagation. Rounds ~
  graph diameter; ideal for near-dup graphs (tiny, shallow components).
- ``connected_components_star`` — alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SOCC'14). Rounds ~ O(log^2 n) regardless of diameter; the scale path
  when LSH buckets chain into long paths.

Both loops run on ``loop.fixed_point``, which owns the per-round rules
(lazy checkpoint, one convergence probe, the round cap); each engine
brings its own probe. Every iteration is a bounded number of shuffles over
the EDGE list (≪ corpus for near-dup graphs), sized explicitly via
``repartition``; the only driver-side values are per-round scalar counts.

SESSION-EXCLUSIVE while ``connected_components`` loops: its driver
actions run with ``spark.sql.adaptive.enabled`` switched off in the
SESSION conf — Spark has no per-query override for it. Every exchange in
the loop is explicitly sized (repartition + shuffle_hash hints), so AQE
has no decision left to improve, but it re-plans and re-materializes every
query stage of every per-round action: with it on, the loop runs about
twice the jobs. The window is a ``session.scoped_conf``: it holds the
shared conf lock for the (synchronous) loop, so two loops on one session
run one after the other and the caller's value is back afterwards. A
query started on the session mid-loop without a window of its own still
runs without AQE. The other loops in this module write no session conf.

Min-label loop shape (r7, guide §2.4/§5): a checkpoint erases output
partitioning (loop.py), so the loop (a) folds the "own label" term into the
message join via SELF-LOOP edges, so each iterate is consumed exactly ONCE
(a second reference would re-derive the whole step subtree) and no
left-outer join + coalesce is needed, and (b) re-establishes partitioning
with ONE explicit repartition per checkpointed input per round; the second
step of a double round rides the first step's aggregation partitioning,
and identical repartition subtrees in one action are deduped by
ReuseExchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import scoped_conf
from .loop import fixed_point


def _edge_partitions(n_edges: int) -> int:
    """Shuffle width for an edge-list loop: ~500k edges per partition,
    capped; 32 partitions over hundreds of edges is pure scheduling
    overhead, while 1e9 edges get ~2000."""
    return max(1, min(n_edges // 500_000 + 1, 2048))


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 25,
) -> DataFrame:
    """(node, cluster_id) for every node in ``edges``; cluster_id is the
    component's minimum node id — deterministic, and exactly what a
    min-keeper dedup policy wants.

    Min-label propagation: every node starts labeled with itself; each step
    every node takes the min of its own and its neighbors' labels; stop when
    a round changes nothing. ``max_iter`` steps is a diameter bound, far
    above any near-dup component's; a graph that needs more raises.

    One step is ONE message join + ONE aggregation: the symmetric edge
    list is augmented with a self-loop per node, so ``min(labels of
    neighbors ∪ self)`` is a plain groupBy over the join output —
    algebraically identical to the old join + left-outer + coalesce
    formulation, with the label frame consumed exactly once per step."""
    # checkpoint the projected edges BEFORE the symmetric union: the edge
    # input is typically an expensive pair-generation pipeline, and the
    # union's two branches would otherwise each evaluate it
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=False
    )
    # the count also materializes the checkpoint so the (expensive) pair
    # pipeline runs exactly once (under the caller's conf — AQE still
    # shapes the pair pipeline; only the loop below opts out)
    n_part = _edge_partitions(e.count())
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # node set: ONE exchange (hash on node, then dropDuplicates rides it)
    nodes = (
        sym.select(F.col("a").alias("node"))
        .repartition(n_part, "node")
        .dropDuplicates(["node"])
        .localCheckpoint(eager=False)
    )
    # self-loops make the message join deliver each node's OWN label along
    # with its neighbors' — the "min with own label" and the presence of
    # message-less nodes both come for free, and the label iterate is
    # referenced exactly once per step
    # pre-shuffle BEFORE the checkpoint: the partitioning metadata is lost
    # either way, but the checkpointed BLOCKS land in n_part partitions —
    # an unshuffled checkpoint stores one near-empty block per upstream
    # partition and every loop action then launches that many tiny tasks
    # just to re-read it (measured 33-task 0.24s map stages per round vs
    # 0.04s single-task ones)
    sym_sl = (
        sym.unionByName(
            nodes.select(F.col("node").alias("a"), F.col("node").alias("b"))
        )
        .repartition(n_part, "a")
        .localCheckpoint(eager=False)
    )
    labels = nodes.select("node", F.col("node").alias("cluster_id"))

    def _step(sym_p: DataFrame, lbl: DataFrame) -> DataFrame:
        """One min-label step over ``lbl`` (node, cluster_id, __old).
        ``sym_p`` is hash-partitioned on ``a`` at n_part; ``lbl`` must be
        hash-partitioned on ``node`` at n_part so the message join is
        co-partitioned (shuffled-hash, label side build — unique keys, no
        skew, bounded per-partition build). The output is hash-partitioned
        on node at n_part via the aggregation's explicit exchange, so the
        SECOND step of a double round rides with no label-side exchange."""
        msgs = sym_p.join(lbl.hint("shuffle_hash"), sym_p["a"] == lbl["node"]).select(
            F.col("b").alias("node"),
            F.col("cluster_id"),
            # only the self-loop row carries __old — exactly one per node
            F.when(sym_p["a"] == F.col("b"), lbl["__old"]).alias("__old"),
        )
        return (
            msgs.repartition(n_part, "node")
            .groupBy("node")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.max("__old").alias("__old"),
            )
        )

    def _double_step(lbl: DataFrame) -> DataFrame:
        # both loop inputs come from checkpoints (unknown partitioning):
        # ONE explicit repartition each per double round; step 2 reuses
        # step 1's sym_p exchange via ReuseExchange and rides step 1's
        # output partitioning on the label side
        sym_p = sym_sl.repartition(n_part, "a")
        cur = lbl.select(
            "node", "cluster_id", F.col("cluster_id").alias("__old")
        ).repartition(n_part, "node")
        return _step(sym_p, _step(sym_p, cur))

    def _unchanged(new: DataFrame, _old: DataFrame) -> bool:
        # a count, not isEmpty: it materializes every checkpoint partition
        return new.filter(F.col("cluster_id") != F.col("__old")).count() == 0

    # TWO propagation steps per driver round, ONE convergence probe: on the
    # shallow near-dup graphs this loop serves, the per-round driver action
    # costs more wall time than the tiny message aggregations it gates, so
    # halving the action count halves the fixed-point overhead. Labels only
    # ever decrease, so "no change across the double step" implies the
    # intermediate step was also a fixed point. Worst case one extra
    # (idempotent) propagation executes.
    with scoped_conf(labels.sparkSession, {"spark.sql.adaptive.enabled": "false"}):
        labels, _rounds = fixed_point(
            labels, _double_step, _unchanged, max_rounds=(max_iter + 1) // 2
        )
    return labels.drop("__old")


def connected_components_star(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 25,
    assume_distinct: bool = False,
) -> DataFrame:
    """Alternating large-star/small-star CC (Kiveris et al., SOCC'14) —
    the high-diameter scale path. Same output contract as
    ``connected_components``.

    large-star: every node hooks its LARGER neighbors onto the minimum of
    its closed neighborhood. small-star: every node hooks its smaller-or-
    equal neighbors (and itself) onto that minimum. Each round halves tall
    trees; converges in O(log^2 n) rounds on any graph. Per round: two
    groupBy + two join shuffles over the edge list plus a distinct — all
    sized to the edge count, no driver-side data. A graph that needs more
    than ``max_iter`` rounds raises. Pass
    ``assume_distinct=True`` when the caller's edge list already has no
    duplicate (src, dst) rows (every pair generator in this repo emits
    distinct pairs): the init dedup exchange and its extra
    checkpoint+count are skipped entirely.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()
    n_part = _edge_partitions(n_edges)

    def large_star(ed: DataFrame) -> DataFrame:
        sym = ed.unionByName(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        sym = sym.repartition(n_part, "u")
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least(F.col("__mn"), F.col("u")).alias("m"))
        )
        # NO dedup here: the output is one row per v>u input edge (never
        # more than the input edge count), duplicates only pass through the
        # next small_star's joins unchanged, and small_star ends in the
        # round's distinct anyway — the per-round large-star distinct was a
        # whole extra exchange (4 → 3 per round) buying nothing the next
        # distinct doesn't.
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins.hint("shuffle_hash"), "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(ed: DataFrame) -> DataFrame:
        # orient every edge toward its larger endpoint: key = max(u,v)
        d = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).repartition(n_part, "u")
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        hooked = d.join(mins.hint("shuffle_hash"), "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_hook = mins.select(F.col("u"), F.col("m").alias("v"))
        return (
            hooked.unionByName(self_hook)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    if assume_distinct:
        # the caller guarantees no duplicate (u, v) rows; e is the round-0
        # edge set as-is — no dedup exchange, no second checkpoint/count
        cur, n_cur = e, n_edges
    else:
        cur = e.select("u", "v").distinct().localCheckpoint(eager=False)
        n_cur = cur.count()

    def unchanged(new: DataFrame, old: DataFrame) -> bool:
        # convergence = edge set unchanged. Two-tier check: the count rules
        # out change in the common case; only equal counts pay an exact
        # check — and since both sides are deduplicated sets of EQUAL SIZE,
        # ONE anti-join direction suffices (|A|=|B| and A∖B=∅ ⟹ A=B).
        nonlocal n_cur
        n_old, n_cur = n_cur, new.count()
        return n_cur == n_old and new.join(old, ["u", "v"], "left_anti").isEmpty()

    # NOTE: the star loop KEEPS AQE (unlike the min-label loop): its
    # convergence anti-join and the per-round distinct rely on AQE's
    # runtime broadcast/coalesce decisions — measured q90 6.4 → 9.5 s and
    # q379 6.2 → 8.8 s with AQE scoped off here, so the job-count saving
    # is not worth it for this engine.
    cur, _rounds = fixed_point(
        cur, lambda ed: small_star(large_star(ed)), unchanged, max_rounds=max_iter
    )
    # at convergence edges form stars (child -> component min); roots label
    # themselves
    roots = cur.select(F.col("v").alias("node")).distinct().select(
        "node", F.col("node").alias("cluster_id")
    )
    children = cur.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    return children.unionByName(roots).distinct()


#: fixed-point scale for exact PageRank: ranks are BIGINTs in units of
#: 1e-12, so every operation is integer arithmetic — bit-identical on any
#: engine, any partitioning, any summation order.
PR_SCALE = 1_000_000_000_000


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Exact-arithmetic PageRank: a fixed number of power iterations with
    all ranks held as BIGINT fixed-point (units of 1/PR_SCALE).

    Floating-point PageRank is summation-order-dependent, so two runs (or
    two engines) disagree in the last ulps; integer fixed-point makes the
    iteration exactly reproducible — contributions are floor-divided
    (``rank div out_degree``), the damping mix is
    ``(100-d)*base div 100 + d*sum div 100``, and BIGINT addition is
    associative. The tiny mass lost to flooring is deleted, not
    redistributed (documented bias ≤ N*iterations/PR_SCALE).

    Teleport mass goes to the seed set, uniformly: ``base = PR_SCALE //
    |seeds ∩ nodes|``, and the initial ranks are ``base`` on seeds and 0
    elsewhere. ``seeds=None`` makes every node a seed (global PageRank);
    a ``seeds`` frame (column ``node``) gives personalized PageRank —
    ranks measure graph proximity to the seeds, the related-items query
    global teleport can't express. Seeds absent from the edge list are
    ignored; raises ``ValueError`` if none is left.

    Scale shape: per iteration one co-partitioned shuffled-hash join of
    ranks onto the edge list plus one groupBy(node) sum over the messages
    UNIONED with one zero row per node from the CONSTANT node frame. The
    zero row keeps rank rows for nodes with no in-edges and carries
    ``100 * teleport`` on seeds; messages carry ``d * (rank div deg)``. So
    the rank is one ``sum(c) div 100`` over (node, c) rows, exactly the mix
    above (the teleport term is a multiple of 100, so the floor division
    splits over it), and the rank iterate is consumed exactly once per
    iteration so the unmaterialized lineage stays linear.
    Dangling nodes keep only their teleport share (their mass is dropped —
    the standard sink-handling simplification, stated so the oracle
    matches).

    Returns (node, rank_fp BIGINT) for every node appearing as src or dst.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_part = _edge_partitions(e.count())
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .repartition(n_part, "node")
        .dropDuplicates(["node"])
        .localCheckpoint(eager=False)
    )
    if seeds is None:
        flagged = nodes.withColumn("is_seed", F.lit(True))
        n_seeds = nodes.count()
    else:
        seed_nodes = (
            seeds.select("node", F.lit(True).alias("is_seed"))
            .distinct()
            .join(nodes, "node")
            .localCheckpoint(eager=False)
        )
        n_seeds = seed_nodes.count()
        if n_seeds == 0:
            raise ValueError("pagerank_fixed_point: no seed intersects the graph")
        # the seed set is small by contract (a handful of query nodes), so
        # broadcast — the node side is never reshuffled for this join
        flagged = (
            nodes.join(F.broadcast(seed_nodes), "node", "left")
            .select("node", F.coalesce("is_seed", F.lit(False)).alias("is_seed"))
            .localCheckpoint(eager=False)
        )
    base = PR_SCALE // n_seeds
    teleport = (100 - damping_pct) * base // 100

    def on_seeds(v: int):
        return F.when(F.col("is_seed"), F.lit(v)).otherwise(F.lit(0)).cast("long")

    # fold out-degree into the edge list ONCE — the per-iteration join is
    # then ranks ⋈ edges only (deg rides e's explicit exchange)
    e_p = e.repartition(n_part, "s")
    deg = e_p.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    e_deg = e_p.join(deg.hint("shuffle_hash"), "s").localCheckpoint(eager=False)
    # ONE explicit post-checkpoint repartition, shared by every iteration's
    # join via ReuseExchange (the checkpoint erased the partitioning)
    e_deg_p = e_deg.repartition(n_part, "s")
    zero_rows = flagged.select("node", on_seeds(100 * teleport).alias("c"))
    ranks = flagged.select("node", on_seeds(base).alias("rank_fp"))
    for i in range(iterations):
        msgs = (
            e_deg_p.join(
                ranks.withColumnRenamed("node", "s")
                .repartition(n_part, "s")
                .hint("shuffle_hash"),
                "s",
            )
            .select(
                F.col("d").alias("node"),
                F.expr(f"{damping_pct} * (rank_fp div deg)").alias("c"),
            )
        )
        ranks = (
            msgs.unionByName(zero_rows)
            .repartition(n_part, "node")
            .groupBy("node")
            .agg(F.expr("sum(c) div 100").cast("long").alias("rank_fp"))
        )
        # each iterate is consumed exactly ONCE (by the next iteration's
        # join), so per-iteration checkpoints buy no reuse — they only cost
        # a cache write and an extra stage barrier each round. Lineage is
        # still truncated every 4th iteration (the q358 cadence) so plans
        # stay bounded for ANY requested iteration count.
        if (i + 1) % 4 == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks
