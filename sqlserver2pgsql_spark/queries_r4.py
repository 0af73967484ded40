"""Round-4 query surface: sync-engine history ops (SCD2, CDC apply),
corpus statistics (PMI collocations, histograms, weighted medians), exact
fixed-point graph ranking, cross-corpus incremental dedup, bloom-filter
decontamination, k-means E-step over embeddings, funnel analysis, and
streaming dedup.

Registered into the same driver-facing registry as queries.py /
queries_llm.py; every query is exact-oracle-gated (determinism notes per
query — the recurring tricks are BIGINT fixed-point for anything iterative
and single-IEEE-division for anything ratio-valued).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .operators import dedup as D
from .operators.asof import asof_join
from .operators.bloom import bloom_build, bloom_probe
from .operators.graph import pagerank_fixed_point
from .operators.loop import closure
from .operators.scd import cdc_apply_latest, scd2_history
from .queries import DEC, _t, register
from .sources.footer import footer_schema
from .sources.tables import spread

# ---------------------------------------------------------------------------
# Migration/sync history operators (the reference's incremental-mode domain)
# ---------------------------------------------------------------------------


@register(
    "q97_scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS prev_type,
             row_number() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    versions AS (
      SELECT user_id, ts, event_id, event_type FROM ordered
      WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           lead(ts) OVER w2 IS NULL AS is_current
    FROM versions
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, valid_from, event_type
    """,
)
def q97_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a change log (operators/scd.py):
    per-user event_type becomes a versioned attribute with
    valid_from/valid_to/is_current; consecutive unchanged states collapse.
    Extends the reference's point-in-time diff (sqlserver2pgsql.pl:
    4662-4689) to full history tracking. One window shuffle on the key."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    return scd2_history(
        ev, ["user_id"], "ts", ["event_type"], order_cols=["event_id"]
    ).orderBy("user_id", "valid_from", "event_type")


@register(
    "q98_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'signup' THEN 'I'
                  ELSE 'U' END AS op
      FROM events
    ),
    latest AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM log
    )
    SELECT user_id, ts, event_type, value
    FROM latest WHERE rn = 1 AND op <> 'D'
    ORDER BY user_id
    """,
)
def q98_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC op-log collapse (operators/scd.py:cdc_apply_latest): an I/U/D
    log derived from events is reduced to final state — latest op per key
    wins under the total (ts, event_id) order, trailing deletes drop the
    key. The streaming-free statement of what A10 merge-apply plus a change
    feed computes. One window shuffle, no joins."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .when(F.col("event_type") == "signup", F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return (
        cdc_apply_latest(ev, ["user_id"], ["ts", "event_id"])
        .select("user_id", "ts", "event_type", "value")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Corpus statistics
# ---------------------------------------------------------------------------


@register(
    "q99_pmi_collocations",
    oracle="""
    WITH toklists AS (
      SELECT string_split_regex(trim(text), '\\s+') AS l FROM documents
    ),
    bigrams AS (
      SELECT l[i] AS w1, l[i + 1] AS w2
      FROM toklists, LATERAL (SELECT unnest(range(1, len(l))) AS i) g
      WHERE len(l) >= 2
    ),
    uni AS (
      SELECT tok, count(*) AS n_tok FROM (
        SELECT unnest(l) AS tok FROM toklists) GROUP BY tok
    ),
    big AS (
      SELECT w1, w2, count(*) AS n_ab FROM bigrams GROUP BY w1, w2
    ),
    total AS (SELECT count(*) AS n_big FROM bigrams)
    SELECT w1, w2, n_ab,
           CAST(n_ab * (SELECT n_big FROM total) AS DOUBLE)
             / (ua.n_tok * ub.n_tok) AS lift
    FROM big JOIN uni ua ON big.w1 = ua.tok
             JOIN uni ub ON big.w2 = ub.tok
    WHERE n_ab >= 5
    ORDER BY lift DESC, w1, w2 LIMIT 100
    """,
)
def q99_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 bigram collocations by PMI lift over the documents corpus.
    PMI = log(lift) is monotone in lift = n_ab·N / (n_a·n_b), so the
    log is dropped: the BIGINT products are exact (< 2^53) and the single
    IEEE division makes the score engine-identical. Plan: one explode into
    bigrams, two hash aggs, two joins against the (small, broadcastable)
    unigram vocabulary, global top-k. At 100 TB the unigram table is the
    only broadcast and the bigram agg is the one big shuffle."""
    docs = _t(spark, sf_dir, "documents").select(
        F.split(F.trim(F.col("text")), r"\s+").alias("l")
    )
    bigrams = (
        docs.filter(F.size("l") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 1),
                    lambda i: F.struct(
                        F.element_at("l", i).alias("w1"),
                        F.element_at("l", i + 1).alias("w2"),
                    ),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .localCheckpoint(eager=False)
    )
    uni = (
        docs.select(F.explode("l").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    big = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    n_big = bigrams.count()
    ua = uni.select(F.col("tok").alias("w1"), F.col("n_tok").alias("na"))
    ub = uni.select(F.col("tok").alias("w2"), F.col("n_tok").alias("nb"))
    return (
        big.filter(F.col("n_ab") >= 5)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .select(
            "w1",
            "w2",
            "n_ab",
            ((F.col("n_ab") * F.lit(n_big)).cast("double")
             / (F.col("na") * F.col("nb"))).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Exact fixed-point PageRank
# ---------------------------------------------------------------------------


def _q100_oracle() -> str:
    from .operators.graph import PR_SCALE

    iter_cte = """
    it{i} AS (
      SELECT n.node,
             CAST({tp} + (85 * coalesce(sm.in_sum, 0)) // 100 AS BIGINT)
               AS rank_fp
      FROM nodes n LEFT JOIN (
        SELECT e.d AS node, sum(r.rank_fp // dg.deg) AS in_sum
        FROM e JOIN it{prev} r ON e.s = r.node JOIN deg dg ON e.s = dg.s
        GROUP BY e.d
      ) sm ON n.node = sm.node
    )"""
    # teleport constant mirrors pagerank_fixed_point: (15 * (SCALE // N)) // 100
    tp = f"(15 * ({PR_SCALE} // (SELECT n FROM params))) // 100"
    its = ",".join(
        iter_cte.format(i=i, prev=i - 1 if i > 1 else "0", tp=tp)
        for i in range(1, 4)
    )
    return f"""
    WITH e AS (
      SELECT DISTINCT l_partkey * 2 AS s, l_suppkey * 2 + 1 AS d FROM lineitem
      UNION
      SELECT DISTINCT l_suppkey * 2 + 1 AS s, l_partkey * 2 AS d FROM lineitem
    ),
    nodes AS (SELECT DISTINCT s AS node FROM e UNION SELECT DISTINCT d FROM e),
    params AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
    it0 AS (SELECT node, {PR_SCALE} // (SELECT n FROM params) AS rank_fp
            FROM nodes),
    {its}
    SELECT node, rank_fp FROM it3 ORDER BY node
    """


@register("q100_pagerank", oracle=_q100_oracle())
def q100_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-arithmetic PageRank (3 power iterations, d=0.85) over the
    symmetrized part↔supplier co-purchase graph from lineitem. Ranks are
    BIGINT fixed-point (units of 1e-12) so the iteration is bit-identical
    on any engine/partitioning — floating PageRank is summation-order-
    dependent and can never be exact-oracle-gated. Per iteration: one
    edge-list join + one groupBy(dst) sum, both repartitioned to the edge
    count (operators/graph.py:pagerank_fixed_point)."""
    li = _t(spark, sf_dir, "lineitem")
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"), (F.col("l_suppkey") * 2 + 1).alias("dst")
    )
    rev = li.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"), (F.col("l_partkey") * 2).alias("dst")
    )
    edges = fwd.unionByName(rev)
    return pagerank_fixed_point(edges, "src", "dst", iterations=3).orderBy("node")


# ---------------------------------------------------------------------------
# Cross-corpus incremental dedup
# ---------------------------------------------------------------------------

_BATCH_SQL = """
    SELECT doc_id + 10000 AS doc_id,
           array_to_string(l[1:len(l)-5], ' ') AS text
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
          FROM documents WHERE doc_id % 5 = 0)
"""


@register(
    "q101_crosscorpus_minhash",
    # exact cross-corpus Jaccard IS the oracle: LSH only generates
    # candidates, every emitted pair is exact-verified at the threshold
    oracle=f"""
    WITH batch AS ({_BATCH_SQL}),
    post_base AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(2, len(string_split_regex(trim(text),'\\s+')) - 1)),
               i -> array_to_string(string_split_regex(trim(text),'\\s+')[i:i+2], ' ')
             ))) AS shingle
      FROM documents
    ),
    post_batch AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(2, len(string_split_regex(trim(text),'\\s+')) - 1)),
               i -> array_to_string(string_split_regex(trim(text),'\\s+')[i:i+2], ' ')
             ))) AS shingle
      FROM batch
    ),
    sz1 AS (SELECT doc_id, count(*) AS n FROM post_base GROUP BY doc_id),
    sz2 AS (SELECT doc_id, count(*) AS n FROM post_batch GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_inter
      FROM post_base a JOIN post_batch b ON a.shingle = b.shingle
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id1, id2,
           CAST(n_inter AS DOUBLE) / CAST(s1.n + s2.n - n_inter AS DOUBLE)
             AS jaccard
    FROM inter JOIN sz1 s1 ON s1.doc_id = id1 JOIN sz2 s2 ON s2.doc_id = id2
    WHERE CAST(n_inter AS DOUBLE) / CAST(s1.n + s2.n - n_inter AS DOUBLE) >= 0.6
    ORDER BY id1, id2
    """,
)
def q101_crosscorpus_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a NEW batch (truncated near-dup docs) joined
    against the EXISTING corpus via cross-corpus MinHash-LSH
    (operators/dedup.py:minhash_join_pairs) — the shape where the corpus is
    100 TB and only the batch is small: the corpus side pays one signature
    pass and is never self-joined."""
    from .operators.text import tokens

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    batch = (
        base.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.array_join(F.slice(toks, 1, F.size(toks) - 5), " ").alias("text"),
        )
    )
    return D.minhash_join_pairs(
        base, batch, "doc_id", "text", n=3, num_hashes=64, bands=16,
        rows_per_band=4, threshold=0.6,
    ).orderBy("id1", "id2")

# ---------------------------------------------------------------------------
# Embedding centroids / k-means E-step (exact fixed-point)
# ---------------------------------------------------------------------------

#: fixed-point scale for embedding arithmetic: 2^20, so double→fixed is a
#: multiply by a power of two (EXACT in binary FP) plus a floor. Values are
#: offset by +1.0 first so every fixed value is positive — floor division
#: then agrees between Spark (`div`, truncates toward zero) and DuckDB
#: (`//`, floors), which differ on negatives.
EMB_SCALE = 1 << 20

_VFX_SQL = f"""
    vfx AS (
      SELECT vec_id, label, i AS pos,
             CAST(floor((CAST(embedding[i + 1] AS DOUBLE) + 1.0) * {EMB_SCALE})
                  AS BIGINT) AS v_fx
      FROM embeddings, LATERAL (SELECT unnest(range(0, 64)) AS i) g
    )
"""


def _vfx(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        "label",
        "pos",
        F.floor((F.col("v").cast("double") + F.lit(1.0)) * EMB_SCALE)
        .cast("long")
        .alias("v_fx"),
    )


@register(
    "q102_embedding_centroids",
    oracle=f"""
    WITH {_VFX_SQL}
    SELECT label, pos, count(*) AS n,
           CAST(sum(v_fx) AS BIGINT) AS sum_fx,
           CAST(sum(v_fx) AS DOUBLE) / (count(*) * {float(EMB_SCALE)}) - 1.0
             AS mean_val
    FROM vfx GROUP BY label, pos ORDER BY label, pos
    """,
)
def q102_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the k-means M-step) in long form
    (label, pos, mean). Sums are BIGINT fixed-point (EMB_SCALE) so they are
    summation-order-free — a float mean would differ between engines and
    between partitionings; the mean itself is ONE IEEE division at the end.
    Plan: posexplode + one hash agg (map-side partial) — no window, no
    join; at 100 TB this is a single shuffle of 64·n_labels partial sums
    per map task."""
    return (
        _vfx(spark, sf_dir)
        .groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v_fx").alias("sum_fx"))
        .select(
            "label",
            "pos",
            "n",
            "sum_fx",
            (F.col("sum_fx").cast("double") / (F.col("n") * F.lit(float(EMB_SCALE)))
             - F.lit(1.0)).alias("mean_val"),
        )
        .orderBy("label", "pos")
    )


@register(
    "q103_kmeans_assign",
    oracle=f"""
    WITH {_VFX_SQL},
    cent AS (
      SELECT label, pos, CAST(sum(v_fx) // count(*) AS BIGINT) AS c_fx
      FROM vfx GROUP BY label, pos
    ),
    dist AS (
      SELECT v.vec_id, v.label AS true_label, c.label AS cand,
             CAST(sum((v.v_fx - c.c_fx) * (v.v_fx - c.c_fx)) AS BIGINT) AS d2
      FROM vfx v JOIN cent c ON v.pos = c.pos
      GROUP BY v.vec_id, v.label, c.label
    ),
    best AS (
      SELECT vec_id, true_label, cand,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rn
      FROM dist
    )
    SELECT true_label, cand AS assigned_label, count(*) AS n
    FROM best WHERE rn = 1
    GROUP BY true_label, cand ORDER BY true_label, assigned_label
    """,
)
def q103_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means E-step, exactly: assign every vector to its nearest label
    centroid (squared L2 in BIGINT fixed-point — centroids are floor-mean
    fixed vectors, distances exact integers, argmin tie-broken by label)
    and emit the confusion matrix (true_label, assigned_label, n).
    Plan: centroids are one agg, then a broadcast join on pos fans each
    vector component out to the k candidates — per-vector cost k·dim rows,
    reduced by one (vec, cand) agg and one min_by; the corpus shuffles
    twice, the centroid table never exceeds k·dim rows."""
    vfx = _vfx(spark, sf_dir).localCheckpoint(eager=False)
    cent = (
        vfx.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(F.expr("sum(v_fx) div count(1)").cast("long").alias("c_fx"))
    )
    diff = F.col("v_fx") - F.col("c_fx")
    dist = (
        vfx.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(diff * diff).cast("long").alias("d2"))
    )
    w = W.partitionBy("vec_id").orderBy("d2", "clabel")
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(
            F.col("label").alias("true_label"),
            F.col("clabel").alias("assigned_label"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_label", "assigned_label")
    )


# ---------------------------------------------------------------------------
# Funnel analysis
# ---------------------------------------------------------------------------


@register(
    "q104_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t_signup FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t_view
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'view' AND e.ts > s1.t_signup GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s2.t_view GROUP BY e.user_id
    ),
    s4 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s3 ON s3.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s3.t_click GROUP BY e.user_id
    )
    SELECT s1.user_id AS user_id, t_signup, t_view, t_click, t_purchase,
           1 + (t_view IS NOT NULL)::INT + (t_click IS NOT NULL)::INT
             + (t_purchase IS NOT NULL)::INT AS stage_reached
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
            LEFT JOIN s4 ON s1.user_id = s4.user_id
    ORDER BY user_id
    """,
)
def q104_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel (signup → view → click → purchase, each
    stage's first event strictly after the previous stage's): per-user
    stage timestamps + depth reached. Plan: the full event table is scanned
    once per stage with a type pushdown filter, and every join is against
    the per-user stage table (≤ one row per user — broadcast); no window
    over the raw events. At 100 TB the stage tables are the small sides by
    construction."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")

    def stage(etype: str, prev: DataFrame, prev_ts: str, out: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(F.broadcast(prev), "user_id")
            .filter(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    s2 = stage("view", s1, "t_signup", "t_view")
    s3 = stage("click", s2, "t_view", "t_click")
    s4 = stage("purchase", s3, "t_click", "t_purchase")
    depth = (
        F.lit(1)
        + F.col("t_view").isNotNull().cast("int")
        + F.col("t_click").isNotNull().cast("int")
        + F.col("t_purchase").isNotNull().cast("int")
    )
    return (
        s1.join(s2.select("user_id", "t_view"), "user_id", "left")
        .join(s3.select("user_id", "t_click"), "user_id", "left")
        .join(s4.select("user_id", "t_purchase"), "user_id", "left")
        .select(
            "user_id", "t_signup", "t_view", "t_click", "t_purchase",
            depth.alias("stage_reached"),
        )
        .orderBy("user_id")
    )

# ---------------------------------------------------------------------------
# Bloom-filter decontamination
# ---------------------------------------------------------------------------

#: 3-gram shingle list over tokenized text — DuckDB mirror of
#: operators/dedup.py:shingle_postings (list slices are INCLUSIVE in
#: DuckDB: l[i:i+2] is 3 elements)
_SHINGLES3 = """list_distinct(list_transform(
               range(1, greatest(2, len(string_split_regex(trim(text),'\\s+')) - 1)),
               i -> array_to_string(string_split_regex(trim(text),'\\s+')[i:i+2], ' ')
             ))"""


@register(
    "q105_bloom_decontaminate",
    oracle=f"""
    WITH bench AS (
      SELECT unnest({_SHINGLES3}) AS shingle
      FROM documents WHERE doc_id % 97 = 0
    ),
    bits AS (
      SELECT DISTINCT
             ('0x' || substr(md5(s.salt || ':' || shingle), 1, 15))::BIGINT
               % 65536 AS bit_pos
      FROM bench, (SELECT unnest(['0', '1', '2']) AS salt) s
    ),
    probe AS (
      SELECT doc_id, unnest({_SHINGLES3}) AS shingle FROM documents
    ),
    probe_pos AS (
      SELECT doc_id, shingle, s.salt,
             ('0x' || substr(md5(s.salt || ':' || shingle), 1, 15))::BIGINT
               % 65536 AS bit_pos
      FROM probe, (SELECT unnest(['0', '1', '2']) AS salt) s
    ),
    hits AS (
      SELECT doc_id, shingle
      FROM probe_pos SEMI JOIN bits USING (bit_pos)
      GROUP BY doc_id, shingle HAVING count(*) = 3
    )
    SELECT p.doc_id,
           count(*) AS n_shingles,
           count(h.shingle) AS n_bloom_hits,
           count(h.shingle) > 0 AS contaminated
    FROM probe p LEFT JOIN hits h
      ON p.doc_id = h.doc_id AND p.shingle = h.shingle
    GROUP BY p.doc_id ORDER BY p.doc_id
    """,
)
def q105_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/bloom.py): benchmark shingles
    (docs ≡ 0 mod 97) populate an m=2^16, k=3 salted-md5 bloom filter; every
    corpus shingle is probed and per-doc hit counts emitted. The filter is
    DETERMINISTIC for fixed (m, k, salt) — false positives included — so
    the oracle replays it exactly (portability contract in bloom.py).
    Plan: filter = distinct-positions table (≤ m rows) broadcast to a
    semi-join probe; the corpus side is one explode + two aggs, never
    joined against itself."""
    from .operators.dedup import shingle_postings

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    bits = bloom_build(
        shingle_postings(bench, "doc_id", "text", n=3).select("shingle").distinct(),
        "shingle",
    )
    probe = shingle_postings(docs, "doc_id", "text", n=3)
    probed = bloom_probe(probe, "shingle", bits)
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            (F.col("n_bloom_hits") > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Distribution statistics
# ---------------------------------------------------------------------------


@register(
    "q106_price_histogram",
    oracle="""
    SELECT CAST(least(floor(o_totalprice / 25000.0), 19) AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE) AS sum_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM orders GROUP BY bucket ORDER BY bucket
    """,
)
def q106_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (20 × 25k buckets, open-ended
    top): per-bucket count/sum/min/max. The bucket id is the same
    floor-divide expression on both engines (no width_bucket builtin —
    engines disagree on its edge semantics). One hash agg with map-side
    partials; the natural first pass of any numeric profiler at scale."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 25000.0), F.lit(19)).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("sum_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("bucket")
    )


@register(
    "q107_weighted_median_mode",
    oracle="""
    WITH modes AS (
      SELECT l_returnflag, l_quantity AS mode_qty, count(*) AS mode_n,
             row_number() OVER (
               PARTITION BY l_returnflag ORDER BY count(*) DESC, l_quantity
             ) AS rn
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    ordered AS (
      SELECT l_returnflag, l_extendedprice,
             sum(CAST(l_quantity AS DECIMAL(38,8))) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
             ) AS cum_w,
             sum(CAST(l_quantity AS DECIMAL(38,8))) OVER (
               PARTITION BY l_returnflag) AS total_w
      FROM lineitem
    ),
    wmed AS (
      SELECT l_returnflag, min(l_extendedprice) AS w_median_price
      FROM ordered WHERE cum_w * 2 >= total_w GROUP BY l_returnflag
    )
    SELECT m.l_returnflag AS returnflag, m.mode_qty, m.mode_n,
           w.w_median_price
    FROM modes m JOIN wmed w ON m.l_returnflag = w.l_returnflag
    WHERE m.rn = 1 ORDER BY returnflag
    """,
)
def q107_weighted_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order statistics the SQL standard lacks: per-returnflag MODE of
    quantity (most frequent value, smallest wins ties) and QUANTITY-WEIGHTED
    median of extended price (first price whose cumulative weight crosses
    half the total — weights accumulated as DECIMAL so the crossing point
    is exact). Two window shuffles on the group key + one broadcast-sized
    join of two 3-row aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    w_mode = W.partitionBy("l_returnflag").orderBy(
        F.col("mode_n").desc(), F.col("l_quantity")
    )
    modes = (
        li.groupBy("l_returnflag", "l_quantity")
        .agg(F.count(F.lit(1)).alias("mode_n"))
        .withColumn("rn", F.row_number().over(w_mode))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag", F.col("l_quantity").alias("mode_qty"), "mode_n"
        )
    )
    w_cum = (
        W.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    qty_dec = F.col("l_quantity").cast(DEC)
    ordered = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum(qty_dec)
        .over(
            W.partitionBy("l_returnflag").orderBy(
                "l_extendedprice", "l_orderkey", "l_linenumber"
            )
        )
        .alias("cum_w"),
        F.sum(qty_dec).over(W.partitionBy("l_returnflag")).alias("total_w"),
    )
    wmed = (
        ordered.filter(F.col("cum_w") * 2 >= F.col("total_w"))
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("w_median_price"))
    )
    return (
        modes.join(wmed, "l_returnflag")
        .select(
            F.col("l_returnflag").alias("returnflag"),
            "mode_qty",
            "mode_n",
            "w_median_price",
        )
        .orderBy("returnflag")
    )


# ---------------------------------------------------------------------------
# Streaming dedup
# ---------------------------------------------------------------------------


@register(
    "q108_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
)
def q108_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: first-seen (user_id, event_type) pairs via
    state-store dropDuplicates with a watermark bounding the key state —
    the streaming twin of exact dedup (q17). Output is the key set only,
    so which arrival won is irrelevant and the result is deterministic.
    State partitions are sized to key cardinality (see
    streaming/jobs.py:run_stream_to_memory)."""
    from .streaming import run_stream_to_memory, stream_events

    stream = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    run_stream_to_memory(stream, "q108_out", output_mode="append")
    return spark.sql(
        "SELECT user_id, event_type FROM q108_out ORDER BY user_id, event_type"
    )

# ---------------------------------------------------------------------------
# Temporal (point-in-time) join, incremental agg maintenance, checksums
# ---------------------------------------------------------------------------


@register(
    "q109_temporal_join",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS prev_type,
             row_number() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    versions AS (
      SELECT user_id, ts AS valid_from, event_id AS vid, event_type
      FROM ordered WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type
    ),
    purch AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
      SELECT p.event_id, p.user_id, p.ts, v.event_type AS prev_state,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY v.valid_from DESC, v.vid DESC) AS rn
      FROM purch p JOIN versions v
        ON v.user_id = p.user_id
       AND (v.valid_from < p.ts
            OR (v.valid_from = p.ts AND v.vid < p.event_id))
    )
    SELECT p.event_id, p.user_id, p.ts, m.prev_state
    FROM purch p LEFT JOIN (SELECT * FROM matched WHERE rn = 1) m
      ON p.event_id = m.event_id
    ORDER BY p.event_id
    """,
)
def q109_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each purchase event joined to the SCD2
    state (q97's versioned event_type dimension) valid STRICTLY BEFORE the
    event — 'what state was the user in when they purchased'. Plan: the
    contiguous-version dimension makes the interval join an AS-OF join
    (operators/asof.py) — one union + one window over (key, ts), no range
    cross product; the 100 TB shape for fact-to-dimension-history joins.
    The version id (event_id) breaks same-timestamp ties totally."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    versions = scd2_history(
        ev, ["user_id"], "ts", ["event_type"], order_cols=["event_id"]
    )
    # re-derive the version id for a total tie order (valid_from alone can
    # collide when two state changes share a timestamp)
    vdim = versions.select(
        "user_id",
        F.col("valid_from").alias("vts"),
        F.col("event_type").alias("prev_state"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        purch, vdim, on="user_id", left_ts="ts", right_ts="vts",
        right_cols=["prev_state"], strict=True,
    )
    return joined.select(
        "event_id", "user_id", "ts", F.col("prev_state_asof").alias("prev_state")
    ).orderBy("event_id")


@register(
    "q110_incremental_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q110_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the materialized per-(flag,status)
    totals are UPDATED from a change batch by merging PARTIAL aggregates —
    base partials ∪ delta partials → combine — never re-reading the base
    fact table. The oracle is the full recompute; equality holds because
    DECIMAL partials are exactly mergeable in any order (the property that
    makes incremental view maintenance sound). At 100 TB the delta pass is
    the only full-data work per refresh; the combine shuffles k·groups
    partial rows."""
    li = _t(spark, sf_dir, "lineitem")
    cutoff = "2023-09-01"
    keys = ["l_returnflag", "l_linestatus"]

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).alias("sum_price"),
        )

    base = partial(li.filter(F.col("l_shipdate") < cutoff))
    delta = partial(li.filter(F.col("l_shipdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_qty").cast("double").alias("sum_qty"),
            F.sum("sum_price").cast("double").alias("sum_price"),
        )
        .orderBy(*keys)
    )


_Q111_ROWHASH = (
    "('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' "
    "|| CAST(l_linenumber AS VARCHAR) || '|' "
    "|| CAST(l_extendedprice AS VARCHAR)), 1, 15))::BIGINT"
)


@register(
    "q111_checksum_compare",
    oracle=f"""
    WITH src AS (
      SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ),
    tgt AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_orderkey % 1000 = 7 THEN l_extendedprice + 1.0
                  ELSE l_extendedprice END AS l_extendedprice
      FROM lineitem WHERE l_orderkey % 997 <> 3
    ),
    s AS (
      SELECT l_orderkey % 64 AS bucket, count(*) AS n,
             bit_xor({_Q111_ROWHASH}) AS h
      FROM src GROUP BY 1
    ),
    t AS (
      SELECT l_orderkey % 64 AS bucket, count(*) AS n,
             bit_xor({_Q111_ROWHASH}) AS h
      FROM tgt GROUP BY 1
    )
    SELECT s.bucket AS bucket, s.n AS src_n, t.n AS tgt_n,
           s.h = t.h AS checksum_match
    FROM s JOIN t ON s.bucket = t.bucket
    WHERE s.n <> t.n OR s.h <> t.h
    ORDER BY bucket
    """,
)
def q111_checksum_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table verification — the 100 TB answer to 'did the
    migration copy everything?': per-bucket (pk-hash mod 64) row counts +
    order-free XOR checksums of a portable row hash, compared WITHOUT
    moving either table (the reference must re-read both sides to diff;
    A9's full-outer join at 100 TB is exactly what this avoids). Emits only
    the buckets that disagree — here the deterministic corruption
    (price+1 on 0.1% of keys, drop of 1/997 of keys) — after which a
    targeted per-bucket diff (q06) repairs just those buckets. XOR is
    associative/commutative, so the checksum is partitioning-invariant."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    tgt = li.filter(F.col("l_orderkey") % 997 != 3).select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            F.col("l_orderkey") % 1000 == 7, F.col("l_extendedprice") + 1.0
        ).otherwise(F.col("l_extendedprice")).alias("l_extendedprice"),
    )

    rowhash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                    F.col("l_extendedprice").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")

    def checksums(df: DataFrame) -> DataFrame:
        return df.groupBy((F.col("l_orderkey") % 64).alias("bucket")).agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(rowhash).alias("h")
        )

    s = checksums(li).select(
        "bucket", F.col("n").alias("src_n"), F.col("h").alias("src_h")
    )
    t = checksums(tgt).select(
        "bucket", F.col("n").alias("tgt_n"), F.col("h").alias("tgt_h")
    )
    return (
        s.join(t, "bucket")
        .filter(
            (F.col("src_n") != F.col("tgt_n")) | (F.col("src_h") != F.col("tgt_h"))
        )
        .select(
            "bucket",
            "src_n",
            "tgt_n",
            (F.col("src_h") == F.col("tgt_h")).alias("checksum_match"),
        )
        .orderBy("bucket")
    )

# ---------------------------------------------------------------------------
# LM-based quality scoring & cohort retention
# ---------------------------------------------------------------------------


@register(
    "q112_lm_quality",
    oracle="""
    WITH toklists AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
    ),
    pos_bigrams AS (
      SELECT doc_id, i AS pos, l[i] AS w1, l[i + 1] AS w2
      FROM toklists, LATERAL (SELECT unnest(range(1, len(l))) AS i) g
      WHERE len(l) >= 2
    ),
    uni AS (
      SELECT tok, count(*) AS n_tok
      FROM (SELECT unnest(l) AS tok FROM toklists) GROUP BY tok
    ),
    big AS (SELECT w1, w2, count(*) AS n_ab FROM pos_bigrams GROUP BY w1, w2),
    scored AS (
      SELECT pb.doc_id, pb.pos,
             CAST(b.n_ab AS DOUBLE) / u.n_tok AS p
      FROM pos_bigrams pb
      JOIN big b ON b.w1 = pb.w1 AND b.w2 = pb.w2
      JOIN uni u ON u.tok = pb.w1
    ),
    folded AS (
      SELECT doc_id, count(*) AS n_bigrams, min(p) AS min_p,
             list_reduce(list(p ORDER BY pos), (x, y) -> x + y) AS sum_p
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, sum_p / n_bigrams AS avg_p, min_p
    FROM folded ORDER BY doc_id
    """,
)
def q112_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring: a bigram LM is trained on the corpus
    (MLE conditional probabilities n_ab/n_a) and every document is scored
    by its mean and minimum bigram probability — low-probability text is
    'surprising' (garbled or off-distribution), the classic LM filter for
    training data. Determinism: each probability is one IEEE division, and
    the per-doc sum folds the probabilities IN POSITION ORDER (array_sort
    on (pos, p) + aggregate fold ≡ DuckDB list(p ORDER BY pos) +
    list_reduce), so the float accumulation sequence is engine-identical —
    a plain SUM() would be partitioning-dependent. Plan: one explode, two
    count aggs, two joins (unigram side broadcast), one per-doc agg."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("l")
    )
    pb = (
        docs.filter(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 1),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.element_at("l", i).alias("w1"),
                        F.element_at("l", i + 1).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.pos", "bg.w1", "bg.w2")
        .localCheckpoint(eager=False)
    )
    uni = (
        docs.select(F.explode("l").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    big = pb.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    scored = (
        pb.join(big, ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .select(
            "doc_id",
            "pos",
            (F.col("n_ab").cast("double") / F.col("n_tok")).alias("p"),
        )
    )
    folded = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.min("p").alias("min_p"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "p"))),
            F.lit(0.0),
            lambda acc, x: acc + x["p"],
        ).alias("sum_p"),
    )
    return folded.select(
        "doc_id",
        "n_bigrams",
        (F.col("sum_p") / F.col("n_bigrams")).alias("avg_p"),
        "min_p",
    ).orderBy("doc_id")


@register(
    "q113_novelty_score",
    oracle="""
    WITH toklists AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
    ),
    doc_bigrams AS (
      SELECT DISTINCT doc_id, l[i] || ' ' || l[i + 1] AS bg
      FROM toklists, LATERAL (SELECT unnest(range(1, len(l))) AS i) g
      WHERE len(l) >= 2
    ),
    df AS (SELECT bg, count(*) AS doc_freq FROM doc_bigrams GROUP BY bg)
    SELECT d.doc_id,
           count(*) AS n_distinct_bigrams,
           CAST(sum(CASE WHEN f.doc_freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST(sum(CASE WHEN f.doc_freq = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS novelty
    FROM doc_bigrams d JOIN df f ON f.bg = d.bg
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def q113_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty scoring for curation diversity: the share of a
    doc's distinct bigrams that occur in NO other document (corpus document
    frequency 1). High-novelty docs carry unique content worth keeping;
    near-zero novelty marks boilerplate — the inverse signal of
    decontamination overlap and the complement of TF-IDF (q53 ranks terms,
    this scores docs). Exact integers + one IEEE division. Plan: one
    distinct-explode, one df agg, one join back, one per-doc agg — two
    shuffles over the bigram postings, no self-join."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("l")
    )
    bigrams = (
        docs.filter(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("l") - 1),
                        lambda i: F.concat_ws(
                            " ", F.element_at("l", i), F.element_at("l", i + 1)
                        ),
                    )
                )
            ).alias("bg"),
        )
        .localCheckpoint(eager=False)
    )
    df_counts = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("doc_freq"))
    return (
        bigrams.join(df_counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
            F.sum((F.col("doc_freq") == 1).cast("long")).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_distinct_bigrams",
            "n_unique",
            (F.col("n_unique").cast("double") / F.col("n_distinct_bigrams")).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )

# ---------------------------------------------------------------------------
# Exact Lloyd k-means (2 iterations) & time-series interpolation
# ---------------------------------------------------------------------------


def _q114_oracle() -> str:
    assign = """
    dist{i} AS (
      SELECT v.vec_id, v.label AS true_label, c.cl AS cand,
             sum((v.v_fx - c.c_fx) * (v.v_fx - c.c_fx)) AS d2
      FROM vfx v JOIN cent{i} c ON v.pos = c.pos
      GROUP BY v.vec_id, v.label, c.cl
    ),
    assign{i} AS (
      SELECT vec_id, true_label, cand AS cl, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rn
      FROM dist{i}
    )"""
    recent = """
    cent{next} AS (
      SELECT a.cl, v.pos, CAST(sum(v.v_fx) // count(*) AS BIGINT) AS c_fx
      FROM vfx v JOIN (SELECT vec_id, cl FROM assign{i} WHERE rn = 1) a
        ON a.vec_id = v.vec_id
      GROUP BY a.cl, v.pos
    )"""
    return f"""
    WITH {_VFX_SQL},
    cent1 AS (
      SELECT label AS cl, pos, CAST(sum(v_fx) // count(*) AS BIGINT) AS c_fx
      FROM vfx GROUP BY label, pos
    ),
    {assign.format(i=1)},
    {recent.format(i=1, next=2)},
    {assign.format(i=2)}
    SELECT cl AS cluster, count(*) AS n_members,
           CAST(sum(d2) AS BIGINT) AS inertia_fx
    FROM assign2 WHERE rn = 1
    GROUP BY cl ORDER BY cluster
    """


@register("q114_kmeans_lloyd", oracle=_q114_oracle())
def q114_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full Lloyd iterations of k-means, EXACTLY: centroids start at
    the per-label means, then assign → recompute → reassign, all in BIGINT
    fixed-point (EMB_SCALE offsets, floor-mean centroids, integer squared
    distances). Per-cluster inertia is an exact BIGINT — iterative ML that
    is bit-identical across engines and partitionings, the same discipline
    as q100's PageRank. Plan per iteration: one broadcast join on pos
    (k·dim centroid rows) + one (vec, cand) agg + one argmin window; the
    vector table is the only large operand and is checkpointed once."""
    vfx = _vfx(spark, sf_dir).localCheckpoint(eager=False)

    def centroids(assign: DataFrame | None) -> DataFrame:
        if assign is None:
            src = vfx.select(F.col("label").alias("cl"), "pos", "v_fx")
        else:
            src = vfx.join(assign, "vec_id").select("cl", "pos", "v_fx")
        return src.groupBy("cl", "pos").agg(
            F.expr("sum(v_fx) div count(1)").cast("long").alias("c_fx")
        )

    def assign(cent: DataFrame) -> DataFrame:
        diff = F.col("v_fx") - F.col("c_fx")
        dist = (
            vfx.join(F.broadcast(cent), "pos")
            .groupBy("vec_id", "cl")
            .agg(F.sum(diff * diff).alias("d2"))
        )
        w = W.partitionBy("vec_id").orderBy("d2", "cl")
        return (
            dist.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cl", "d2")
        )

    a1 = assign(centroids(None)).localCheckpoint(eager=False)
    a2 = assign(centroids(a1.select("vec_id", "cl")))
    return (
        a2.groupBy(F.col("cl").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d2").cast("long").alias("inertia_fx"),
        )
        .orderBy("cluster")
    )


@register(
    "q115_linear_interpolate",
    oracle="""
    WITH pts AS (
      SELECT user_id, ts, event_id, value FROM events
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(
               date_trunc('hour', min(ts)), date_trunc('hour', max(ts)),
               INTERVAL 1 HOUR)) AS gts
      FROM pts GROUP BY user_id
    ),
    unioned AS (
      SELECT user_id, ts, 1 AS is_point, event_id, value FROM pts
      UNION ALL
      SELECT user_id, gts AS ts, 0 AS is_point, NULL, NULL FROM grid
    ),
    walled AS (
      SELECT user_id, ts, is_point, value,
             last_value(CASE WHEN is_point = 1 THEN value END IGNORE NULLS)
               OVER wb AS v1,
             last_value(CASE WHEN is_point = 1 THEN epoch_us(ts) END IGNORE NULLS)
               OVER wb AS t1,
             first_value(CASE WHEN is_point = 1 THEN value END IGNORE NULLS)
               OVER wf AS v2,
             first_value(CASE WHEN is_point = 1 THEN epoch_us(ts) END IGNORE NULLS)
               OVER wf AS t2
      FROM unioned
      WINDOW
        wb AS (PARTITION BY user_id
               ORDER BY ts, is_point DESC, coalesce(event_id, 9223372036854775807)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY user_id
               ORDER BY ts, is_point DESC, coalesce(event_id, 9223372036854775807)
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, ts AS grid_ts, v1 AS v_prev, v2 AS v_next,
           CASE WHEN t1 = epoch_us(ts) THEN v1
                WHEN t1 IS NULL OR t2 IS NULL THEN NULL
                ELSE v1 + (v2 - v1) * (CAST(epoch_us(ts) - t1 AS DOUBLE)
                                       / CAST(t2 - t1 AS DOUBLE)) END AS v_interp
    FROM walled WHERE is_point = 0
    ORDER BY user_id, grid_ts
    """,
)
def q115_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with linear interpolation: each user's value
    series sampled onto an hourly grid, every grid instant interpolated
    between its surrounding observations (exact-same lerp expression both
    engines; grid points outside the observed range stay NULL, a grid
    instant that hits an observation returns it exactly via the t1=ts
    guard). Plan: grid rows are generated from a per-user min/max agg
    (bounded by time span), unioned with the points, and both neighbor
    lookups ride ONE exchange on user_id: backward neighbor = running
    last() over the total order (ts, is_point DESC, event_id), forward
    neighbor = running last() over the EXACT REVERSE of that order — the
    same partitioning, so only a second in-partition sort, no second
    shuffle. The previous formulation used first() over a
    (currentRow, unboundedFollowing) frame: Spark evaluates shrinking
    frames by re-aggregating the rest of the partition for every row —
    O(rows²) per user (UnboundedFollowingWindowFunctionFrame), measured
    4.7-15.0 s vs 1.9-2.8 s for the reversed running frame at sf0.1 with
    identical output; no range join, no per-grid-point probe; the classic
    gap-fill shape for sensor data at scale."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    grid = (
        ev.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
            ).alias("ts"),
        )
    )
    big = F.lit(2**63 - 1)
    unioned = ev.select(
        "user_id", "ts", F.lit(1).alias("is_point"),
        F.col("event_id"), "value",
    ).unionByName(
        grid.select(
            "user_id", "ts", F.lit(0).alias("is_point"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    eus = (F.unix_micros(F.col("ts"))).cast("long")
    pt_val = F.when(F.col("is_point") == 1, F.col("value"))
    pt_ts = F.when(F.col("is_point") == 1, eus)
    order = [F.col("ts"), F.col("is_point").desc(), F.coalesce("event_id", big)]
    order_rev = [
        F.col("ts").desc(),
        F.col("is_point").asc(),
        F.coalesce("event_id", big).desc(),
    ]
    wb = (
        W.partitionBy("user_id").orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # running frame over the reversed total order ≡ (currentRow,
    # unboundedFollowing) over the forward order, without the shrinking
    # frame's per-row re-aggregation
    wf = (
        W.partitionBy("user_id").orderBy(*order_rev)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    walled = unioned.select(
        "user_id", "ts", "is_point",
        F.last(pt_val, ignorenulls=True).over(wb).alias("v1"),
        F.last(pt_ts, ignorenulls=True).over(wb).alias("t1"),
        F.last(pt_val, ignorenulls=True).over(wf).alias("v2"),
        F.last(pt_ts, ignorenulls=True).over(wf).alias("t2"),
    )
    frac = (eus - F.col("t1")).cast("double") / (F.col("t2") - F.col("t1")).cast("double")
    # points sort BEFORE their coincident grid instant under the single
    # order, so a grid row exactly on an observation has t1 == its own ts —
    # return the observation (checked FIRST: t2 may be null at the tail)
    interp = (
        F.when(F.col("t1") == eus, F.col("v1"))
        .when(F.col("t1").isNull() | F.col("t2").isNull(), F.lit(None).cast("double"))
        .otherwise(F.col("v1") + (F.col("v2") - F.col("v1")) * frac)
    )
    return (
        walled.filter(F.col("is_point") == 0)
        .select(
            "user_id",
            F.col("ts").alias("grid_ts"),
            F.col("v1").alias("v_prev"),
            F.col("v2").alias("v_next"),
            interp.alias("v_interp"),
        )
        # shuffle barrier before the presentation sort: the range
        # partitioner's sampling job re-executes the sort's map stage, and
        # without a barrier that map stage IS the expensive window work —
        # the round-robin exchange materializes it as shuffle files the
        # sampling re-reads instead of recomputing (measured 2x)
        .repartition(32)
        .orderBy("user_id", "grid_ts")
    )

# ---------------------------------------------------------------------------
# Prefix-filtered exact similarity join (PPJoin family)
# ---------------------------------------------------------------------------

from .queries_llm import _JACCARD_ORACLE_BODY, _neardup_corpus  # noqa: E402


@register(
    "q116_prefix_jaccard_pairs",
    # exact output contract == q18: prefix filtering only prunes candidates
    oracle=_JACCARD_ORACLE_BODY
    + """
    SELECT id1, id2, n_inter, n1, n2, jaccard
    FROM scored WHERE jaccard >= 0.6
    ORDER BY id1, id2
    """,
)
def q116_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING
    (operators/dedup.py:prefix_filter_jaccard_pairs) — same result set as
    q18's full posting self-join, but candidates are generated from each
    doc's rarest shingles only, collapsing the hot posting lists that make
    the naive self-join quadratic. The third exact-dedup engine next to
    the posting join (q18, verifier) and MinHash-LSH (q19, approximate
    candidates): this one is exact AND scale-shaped."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.prefix_filter_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.6)
    # shuffle barrier before the presentation sort: the range partitioner's
    # sampling job re-executes the sort's map stage — without a barrier
    # that stage is the whole array-intersect verify (measured 2x the
    # query); the tiny pair set shuffles once instead
    return pairs.repartition(8).orderBy("id1", "id2")

# ---------------------------------------------------------------------------
# Sequential pattern detection (MATCH_RECOGNIZE shape)
# ---------------------------------------------------------------------------


@register(
    "q117_pattern_detect",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             first_value(CASE WHEN event_type = 'error' THEN epoch_us(ts) END
                         IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
             ) AS next_err_us
      FROM events
    ),
    matches AS (
      SELECT user_id, event_id,
             next_err_us - epoch_us(ts) AS gap_us
      FROM seq
      WHERE event_type = 'purchase' AND next_err_us IS NOT NULL
        AND next_err_us - epoch_us(ts) <= 600000000
    )
    SELECT user_id, count(*) AS n_matches,
           min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us
    FROM matches GROUP BY user_id ORDER BY user_id
    """,
)
def q117_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern detection (the MATCH_RECOGNIZE shape Spark
    lacks): purchases followed by an error within 10 minutes, per user —
    the next-matching-event lookup is ONE forward window over the user's
    ordered sequence, no self-join, no range probe; gaps stay exact
    integer microseconds. Same wall technique as q115's interpolation,
    applied to event-pattern mining — including q115's r6 lesson: the
    forward lookup runs as a running last() over the REVERSED order
    (frame ending at -1 to exclude the current row), because a
    (1, unboundedFollowing) frame makes Spark re-aggregate the remaining
    partition per row (O(rows²) per user)."""
    # ts is TIMESTAMP_NTZ in the fixture; session TZ is pinned UTC so the
    # cast to LTZ (required by unix_micros) is wall-clock-identical
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id", "event_type"
    )
    eus = F.unix_micros(F.col("ts"))
    wf = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(
            F.when(F.col("event_type") == "error", eus), ignorenulls=True
        ).over(wf).alias("next_err_us"),
    )
    gap = F.col("next_err_us") - eus
    return (
        seq.filter(
            (F.col("event_type") == "purchase")
            & F.col("next_err_us").isNotNull()
            & (gap <= 600_000_000)
        )
        .select("user_id", gap.alias("gap_us"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .orderBy("user_id")
    )

# ---------------------------------------------------------------------------
# Outlier detection, corpus compaction report, schema drift
# ---------------------------------------------------------------------------


@register(
    "q118_iqr_outliers",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag AS flag, l_extendedprice AS v,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    q AS (
      SELECT flag,
             min(CASE WHEN rn >= ceil(0.25 * n) THEN v END) AS q1,
             min(CASE WHEN rn >= ceil(0.75 * n) THEN v END) AS q3
      FROM ranked GROUP BY flag
    ),
    fences AS (
      SELECT flag, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo_fence,
             q3 + 1.5 * (q3 - q1) AS hi_fence
      FROM q
    )
    SELECT r.flag, f.q1, f.q3, f.lo_fence, f.hi_fence,
           CAST(sum(CASE WHEN r.v < f.lo_fence OR r.v > f.hi_fence
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           max(CASE WHEN r.v > f.hi_fence THEN r.v END) AS worst_high
    FROM ranked r JOIN fences f ON f.flag = r.flag
    GROUP BY r.flag, f.q1, f.q3, f.lo_fence, f.hi_fence
    ORDER BY r.flag
    """,
)
def q118_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection per group: exact rank-based quartiles
    (value at rank ceil(p·n) — no interpolation, so the quartile IS a data
    value), fences at 1.5·IQR, per-group outlier counts and worst
    offender. The engine-exactness trick: both quartiles come from one
    conditional-min pass over the ranked rows, and the fence arithmetic is
    the identical float expression on both engines. One window shuffle +
    one broadcast-sized fence join back over the same ranked frame."""
    li = _t(spark, sf_dir, "lineitem")
    wr = W.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wn = W.partitionBy("l_returnflag")
    ranked = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).localCheckpoint(eager=False)
    q = ranked.groupBy("flag").agg(
        F.min(F.when(F.col("rn") >= F.ceil(0.25 * F.col("n")), F.col("v"))).alias("q1"),
        F.min(F.when(F.col("rn") >= F.ceil(0.75 * F.col("n")), F.col("v"))).alias("q3"),
    )
    fences = q.select(
        "flag", "q1", "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo_fence"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi_fence"),
    )
    out_of = (F.col("v") < F.col("lo_fence")) | (F.col("v") > F.col("hi_fence"))
    return (
        ranked.join(F.broadcast(fences), "flag")
        .groupBy("flag", "q1", "q3", "lo_fence", "hi_fence")
        .agg(
            F.sum(out_of.cast("long")).alias("n_outliers"),
            F.max(F.when(F.col("v") > F.col("hi_fence"), F.col("v"))).alias(
                "worst_high"
            ),
        )
        .orderBy("flag")
    )


@register(
    "q119_compaction_report",
    oracle=f"""
    WITH corpus AS ({{exact_corpus}}),
    sized AS (
      SELECT doc_id, text,
             CASE WHEN doc_id >= 10000 THEN 'dup' ELSE 'orig' END AS origin,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             length(text) AS n_bytes
      FROM corpus
    ),
    keepers AS (
      SELECT text, min(doc_id) AS keeper_id, count(*) AS n_copies
      FROM sized GROUP BY text
    )
    SELECT s.origin,
           count(*) AS docs_before,
           CAST(sum(CASE WHEN s.doc_id = k.keeper_id THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_after,
           CAST(sum(s.n_tokens) AS BIGINT) AS tokens_before,
           CAST(sum(CASE WHEN s.doc_id = k.keeper_id THEN s.n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_after,
           CAST(sum(CASE WHEN s.doc_id <> k.keeper_id THEN s.n_bytes ELSE 0 END)
                AS BIGINT) AS bytes_saved
    FROM sized s JOIN keepers k ON k.text = s.text
    GROUP BY s.origin ORDER BY s.origin
    """.format(exact_corpus="""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0
    """),
)
def q119_compaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus compaction accounting — what a dedup run is FOR: per origin
    class, docs/tokens before and after exact dedup (min-id keeper) and the
    bytes the rewrite saves. The keeper map is the same one hash-groupBy as
    q17; the report is one join back + one agg — the provenance summary a
    100 TB curation job emits alongside the rewritten corpus."""
    from .queries_llm import _exactdup_corpus

    corpus = _exactdup_corpus(spark, sf_dir)
    sized = corpus.select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") >= 10000, "dup").otherwise("orig").alias("origin"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        F.length("text").alias("n_bytes"),
    )
    keepers = sized.groupBy("text").agg(F.min("doc_id").alias("keeper_id"))
    kept = F.col("doc_id") == F.col("keeper_id")
    return (
        sized.join(keepers, "text")
        .groupBy("origin")
        .agg(
            F.count(F.lit(1)).alias("docs_before"),
            F.sum(kept.cast("long")).alias("docs_after"),
            F.sum("n_tokens").alias("tokens_before"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0))).alias(
                "tokens_after"
            ),
            F.sum(F.when(~kept, F.col("n_bytes")).otherwise(F.lit(0))).alias(
                "bytes_saved"
            ),
        )
        .orderBy("origin")
    )


@register(
    "q120_snapshot_drift",
    oracle="""
    WITH snap AS (
      SELECT o_totalprice, o_orderstatus,
             CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                  THEN 'new' ELSE 'old' END AS snapshot
      FROM orders
    ),
    stats AS (
      SELECT snapshot, o_orderstatus AS status, count(*) AS n,
             min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)
               / count(*) AS mean_price
      FROM snap GROUP BY snapshot, o_orderstatus
    )
    SELECT o.status,
           o.n AS old_n, n.n AS new_n,
           CAST(n.n - o.n AS BIGINT) AS n_delta,
           n.min_price - o.min_price AS min_shift,
           n.max_price - o.max_price AS max_shift,
           n.mean_price - o.mean_price AS mean_shift
    FROM (SELECT * FROM stats WHERE snapshot = 'old') o
    JOIN (SELECT * FROM stats WHERE snapshot = 'new') n USING (status)
    ORDER BY status
    """,
)
def q120_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift detection — the statistical complement of q111's
    checksum compare: per-status distribution stats (count, min/max,
    decimal-exact mean) for two order snapshots (pre/post a cutover date)
    and their shifts. A migration-validation report that needs ONE scan of
    each snapshot and a status-sized join; at 100 TB this is what you run
    when checksums mismatch and you need to know HOW the data moved."""
    o = _t(spark, sf_dir, "orders")
    snap = o.select(
        "o_totalprice",
        F.col("o_orderstatus").alias("status"),
        F.when(F.col("o_orderdate") >= "1998-01-01", "new")
        .otherwise("old")
        .alias("snapshot"),
    )
    stats = snap.groupBy("snapshot", "status").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        (
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_price"),
    )
    old = stats.filter(F.col("snapshot") == "old").drop("snapshot")
    new = stats.filter(F.col("snapshot") == "new").drop("snapshot")
    o_s = old.select(
        "status", F.col("n").alias("old_n"), F.col("min_price").alias("o_min"),
        F.col("max_price").alias("o_max"), F.col("mean_price").alias("o_mean"),
    )
    n_s = new.select(
        "status", F.col("n").alias("new_n"), F.col("min_price").alias("n_min"),
        F.col("max_price").alias("n_max"), F.col("mean_price").alias("n_mean"),
    )
    return (
        o_s.join(n_s, "status")
        .select(
            "status",
            "old_n",
            "new_n",
            (F.col("new_n") - F.col("old_n")).cast("long").alias("n_delta"),
            (F.col("n_min") - F.col("o_min")).alias("min_shift"),
            (F.col("n_max") - F.col("o_max")).alias("max_shift"),
            (F.col("n_mean") - F.col("o_mean")).alias("mean_shift"),
        )
        .orderBy("status")
    )

# ---------------------------------------------------------------------------
# Hierarchical shares, vocabulary coverage, incremental near-dup maintenance
# ---------------------------------------------------------------------------


@register(
    "q121_hierarchical_share",
    oracle="""
    WITH base AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(c.c_acctbal AS DECIMAL(38,8))) AS DECIMAL(38,8))
               AS bal
      FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation,
           CAST(bal AS DOUBLE) AS nation_bal,
           CAST(bal AS DOUBLE)
             / CAST(sum(bal) OVER (PARTITION BY region) AS DOUBLE)
             AS share_of_region,
           CAST(sum(bal) OVER (PARTITION BY region) AS DOUBLE)
             / CAST(sum(bal) OVER () AS DOUBLE) AS region_share_of_total
    FROM base ORDER BY region, nation
    """,
)
def q121_hierarchical_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent across a two-level hierarchy (nation share of its
    region, region share of grand total) — the ratio-to-report pattern
    (q84) extended to nested levels. DECIMAL partial sums keep every
    denominator exact; each share is one double division. One agg over the
    broadcast-joined dims + two window passes over the tiny agg result."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    base = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("c_acctbal").cast(DEC)).alias("bal"))
    )
    w_region = W.partitionBy("region")
    w_all = W.partitionBy()
    return base.select(
        "region",
        "nation",
        F.col("bal").cast("double").alias("nation_bal"),
        (F.col("bal").cast("double")
         / F.sum("bal").over(w_region).cast("double")).alias("share_of_region"),
        (F.sum("bal").over(w_region).cast("double")
         / F.sum("bal").over(w_all).cast("double")).alias("region_share_of_total"),
    ).orderBy("region", "nation")


@register(
    "q122_vocab_coverage",
    oracle="""
    WITH counts AS (
      SELECT tok, count(*) AS n FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents) GROUP BY tok
    ),
    ranked AS (
      SELECT tok, n,
             row_number() OVER (ORDER BY n DESC, tok) AS rk,
             sum(n) OVER (ORDER BY n DESC, tok
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(n) OVER () AS total
      FROM counts
    )
    SELECT p.pct,
           min(rk) AS vocab_size,
           CAST(min(rk) AS DOUBLE) / (SELECT count(*) FROM counts)
             AS vocab_fraction
    FROM ranked, (SELECT CAST(unnest([0.5, 0.8, 0.9, 0.99]) AS DOUBLE) AS pct) p
    WHERE cum >= p.pct * total
    GROUP BY p.pct ORDER BY p.pct
    """,
)
def q122_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the smallest top-k vocabulary (by
    frequency, ties broken lexically) covering 50/80/90/99% of all token
    occurrences — the statistic that sizes a tokenizer vocab for a corpus.
    Exact integer cumulative sums; the coverage test `cum >= pct·total`
    is the same double comparison on both engines. One token agg + one
    global-order window over the (small) vocabulary + a 4-row broadcast
    grid."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_ord = W.orderBy(F.col("n").desc(), "tok")
    ranked = counts.select(
        "tok",
        "n",
        F.row_number().over(w_ord).alias("rk"),
        F.sum("n").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum"),
        F.sum("n").over(W.partitionBy()).alias("total"),
    ).localCheckpoint(eager=False)
    n_vocab = ranked.count()
    grid = spark.createDataFrame([(0.5,), (0.8,), (0.9,), (0.99,)], "pct double")
    return (
        ranked.crossJoin(F.broadcast(grid))
        .filter(F.col("cum") >= F.col("pct") * F.col("total"))
        .groupBy("pct")
        .agg(
            F.min("rk").alias("vocab_size"),
            (F.min("rk").cast("double") / F.lit(n_vocab)).alias("vocab_fraction"),
        )
        .orderBy("pct")
    )

_DELTA_SQL = """
    SELECT doc_id + 10000 AS doc_id,
           array_to_string(l[1:len(l)-5], ' ') AS text
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
          FROM documents WHERE doc_id % 5 = 0)
"""


@register(
    "q123_incremental_neardup_index",
    # oracle: ALL exact-Jaccard pairs of the union corpus that touch the
    # delta (id2 >= 10000 — delta ids are disjoint from base ids)
    oracle=f"""
    WITH delta AS ({_DELTA_SQL}),
    corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM delta),
    shingled AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(2, len(string_split_regex(trim(text),'\\s+')) - 1)),
               i -> array_to_string(string_split_regex(trim(text),'\\s+')[i:i+2], ' ')
             ))) AS shingle
      FROM corpus
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_inter
      FROM shingled a JOIN shingled b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      WHERE b.doc_id >= 10000
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id1, id2,
           CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE)
             AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
    WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.6
    ORDER BY id1, id2
    """,
)
def q123_incremental_neardup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup INDEX maintenance: when a delta batch lands,
    the new pair set = (delta × base cross-corpus LSH join) ∪ (delta
    self-dedup) — the 100 TB base corpus is touched only by one signature
    pass and is NEVER self-joined again; the already-known base×base pairs
    are untouched state. Composition of minhash_join_pairs (q101) and
    minhash_dedup_pairs (q19); delta ids are disjoint (≥ 10000), so
    'touches delta' ≡ id2 ≥ 10000 under id1 < id2 ordering."""
    from .operators.text import tokens

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = tokens(F.col("text"))
    delta = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.array_join(F.slice(t, 1, F.size(t) - 5), " ").alias("text"),
    )
    # the delta corpus feeds BOTH the cross-corpus join and its self-dedup:
    # build its (tokenize + shingle + explode) posting list AND its 64-hash
    # MinHash signature aggregate once and share them, instead of letting
    # each operator recompute the pair
    delta_post = D.shingle_postings(delta, "doc_id", "text", n=3).localCheckpoint(
        eager=False
    )
    delta_sigs = D.minhash_signatures(
        delta, "doc_id", "text", n=3, num_hashes=64, postings=delta_post
    ).localCheckpoint(eager=False)
    cross = D.minhash_join_pairs(
        base, delta, "doc_id", "text", n=3, num_hashes=64, bands=16,
        rows_per_band=4, threshold=0.6, postings_right=delta_post,
        signatures_right=delta_sigs,
    )
    within = D.minhash_dedup_pairs(
        delta, "doc_id", "text", n=3, num_hashes=64, bands=16,
        rows_per_band=4, threshold=0.6, postings=delta_post,
        signatures=delta_sigs,
    )
    return cross.unionByName(within).orderBy("id1", "id2")


@register(
    "q124_conversion_delay",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.t_signup
      GROUP BY e.user_id
    ),
    delays AS (
      SELECT s.user_id,
             epoch_us(p.t_purchase) - epoch_us(s.t_signup) AS delay_us
      FROM s JOIN p ON p.user_id = s.user_id
    ),
    ranked AS (
      SELECT delay_us,
             row_number() OVER (ORDER BY delay_us, user_id) AS rn,
             count(*) OVER () AS n
      FROM delays
    )
    SELECT max(n) AS n_converted,
           min(CASE WHEN rn >= ceil(0.5 * n) THEN delay_us END) AS median_us,
           min(CASE WHEN rn >= ceil(0.9 * n) THEN delay_us END) AS p90_us,
           min(delay_us) AS min_us, max(delay_us) AS max_us
    FROM ranked
    """,
)
def q124_conversion_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-delay distribution: first-signup → first-subsequent-
    purchase latency per user, summarized as exact rank-based median/p90
    plus extremes — microsecond-integer arithmetic end to end (no float
    quantiles). Per-user stage tables are broadcast-sized; the global rank
    window runs over one row per converted user."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s), "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    delays = s.join(p, "user_id").select(
        "user_id",
        (
            F.unix_micros(F.col("t_purchase").cast("timestamp"))
            - F.unix_micros(F.col("t_signup").cast("timestamp"))
        ).alias("delay_us"),
    )
    w = W.orderBy("delay_us", "user_id")
    ranked = delays.select(
        "delay_us",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").alias("n_converted"),
        F.min(F.when(F.col("rn") >= F.ceil(0.5 * F.col("n")), F.col("delay_us"))).alias(
            "median_us"
        ),
        F.min(F.when(F.col("rn") >= F.ceil(0.9 * F.col("n")), F.col("delay_us"))).alias(
            "p90_us"
        ),
        F.min("delay_us").alias("min_us"),
        F.max("delay_us").alias("max_us"),
    )

# ---------------------------------------------------------------------------
# Grouped OLS regression & co-occurrence mining
# ---------------------------------------------------------------------------


@register(
    "q125_grouped_regression",
    oracle="""
    WITH base AS (SELECT min(epoch_us(ts) // 1000000) AS t0 FROM events),
    pts AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 1000000 - (SELECT t0 FROM base) AS HUGEINT) AS x,
             CAST(floor(CAST(value AS DOUBLE) * 1048576) AS HUGEINT) AS y
      FROM events
    ),
    sums AS (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE)
             * 86400.0 / 1048576.0 AS slope_per_day,
           CAST(sy * sxx - sx * sxy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) / 1048576.0 AS intercept
    FROM sums ORDER BY event_type
    """,
)
def q125_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend line (value vs time): slope and intercept from
    the closed-form normal equations with ALL moment sums held as exact
    integers — x is whole seconds from the global min, y is 2^20
    fixed-point (the embedding-centroid discipline, q102) — so numerator
    and denominator are bit-exact on any engine/partitioning; each
    coefficient is then a fixed chain of double ops. Spark carries the
    int128-sized sums as DECIMAL(38,0) (scale-0 decimal arithmetic cannot
    round); the oracle uses HUGEINT. A float multiply-subtract chain here
    produced last-ulp hash mismatches (engines fuse a·b−c differently).
    One hash agg over the fact table."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    min_s = ev.agg(F.min(F.unix_timestamp("ts"))).collect()[0][0]
    I = "decimal(38,0)"
    x = (F.unix_timestamp("ts") - F.lit(min_s)).cast(I)
    y = F.floor(F.col("value").cast("double") * 1048576).cast(I)
    sums = ev.select("event_type", x.alias("x"), y.alias("y")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).cast(I).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / den * F.lit(86400.0) / F.lit(1048576.0)
    )
    intercept = (
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast("double")
        / den / F.lit(1048576.0)
    )
    return sums.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        slope.alias("slope_per_day"),
        intercept.alias("intercept"),
    ).orderBy("event_type")


@register(
    "q126_copurchase_pairs",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT p1, p2, n_orders FROM pairs
    WHERE n_orders >= 3
    ORDER BY n_orders DESC, p1, p2 LIMIT 100
    """,
)
def q126_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in ≥3
    orders, top-100 by support. Pair generation is GROUPED per basket via
    grouped_pairs (operators/pairs.py — the hard-capped generator all pair
    paths share: a window count over the join's own exchange drops
    oversized groups BEFORE the codegen pair join; never an uncapped
    table self-join). One distinct, one bounded pair join, one count agg,
    top-k."""
    from .operators.pairs import grouped_pairs

    # one exchange for dedup + window + pair join (the q247 shape):
    # partition on the basket key, then the dedup and grouped_pairs ride it
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    pairs = grouped_pairs(li, "l_orderkey", "l_partkey", assume_distinct=True)
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
        .orderBy(F.col("n_orders").desc(), "p1", "p2")
        .limit(100)
    )

# ---------------------------------------------------------------------------
# Rate/burst detection (RANGE frames over event time)
# ---------------------------------------------------------------------------


@register(
    "q127_burst_detection",
    oracle="""
    WITH sec AS (
      SELECT user_id, event_id,
             epoch_us(ts) // 1000000 AS t_s
      FROM events
    ),
    windowed AS (
      SELECT user_id, event_id, t_s,
             count(*) OVER (
               PARTITION BY user_id ORDER BY t_s
               RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
             ) AS n_24h
      FROM sec
    )
    SELECT user_id,
           max(n_24h) AS peak_24h,
           CAST(sum(CASE WHEN n_24h >= 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_burst_events,
           count(*) AS n_events
    FROM windowed GROUP BY user_id
    HAVING max(n_24h) >= 8
    ORDER BY user_id
    """,
)
def q127_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst/bot-rate detection: for every event, the count of the user's
    events in the trailing 24 hours via a RANGE frame over event-time
    seconds (a time-valued frame, not a row-count frame — the surface
    q62's ROWS windows don't cover), then per-user peak rate and burst
    tally for users whose peak reaches the threshold. One window shuffle
    on the user key + one agg; integer-second frame bounds are
    engine-identical."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    sec = ev.select(
        "user_id",
        "event_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000))
        .cast("long")
        .alias("t_s"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t_s")
        .rangeBetween(-86400, W.currentRow)
    )
    windowed = sec.select(
        "user_id", "event_id", F.count(F.lit(1)).over(w).alias("n_24h")
    )
    return (
        windowed.groupBy("user_id")
        .agg(
            F.max("n_24h").alias("peak_24h"),
            F.sum((F.col("n_24h") >= 8).cast("long")).alias("n_burst_events"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter(F.col("peak_24h") >= 8)
        .orderBy("user_id")
    )

# ---------------------------------------------------------------------------
# Cascade-delete propagation (FK ON DELETE CASCADE, computed not executed)
# ---------------------------------------------------------------------------


@register(
    "q128_cascade_delete",
    oracle="""
    WITH del_cust AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 17 = 0
    ),
    del_orders AS (
      SELECT o_orderkey FROM orders
      SEMI JOIN del_cust ON o_custkey = c_custkey
    ),
    del_line AS (
      SELECT l_orderkey, l_linenumber FROM lineitem
      SEMI JOIN del_orders ON l_orderkey = o_orderkey
    )
    SELECT 'customer' AS table_name,
           (SELECT count(*) FROM del_cust) AS n_deleted,
           (SELECT count(*) FROM customer) - (SELECT count(*) FROM del_cust)
             AS n_surviving
    UNION ALL
    SELECT 'orders',
           (SELECT count(*) FROM del_orders),
           (SELECT count(*) FROM orders) - (SELECT count(*) FROM del_orders)
    UNION ALL
    SELECT 'lineitem',
           (SELECT count(*) FROM del_line),
           (SELECT count(*) FROM lineitem) - (SELECT count(*) FROM del_line)
    ORDER BY table_name
    """,
)
def q128_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK cascade-delete propagation (the ON DELETE CASCADE semantics the
    reference collects in B8 but never executes): a customer delete-set
    propagates customer → orders → lineitem via successive LEFT SEMI joins
    against the (broadcast-sized) deleted-key sets, reporting per-table
    deleted/surviving counts — the impact analysis run BEFORE a real
    cascade at 100 TB. Each fact table is scanned once; no table is ever
    joined to another fact table, only to the parent's key set."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    del_cust = c.filter(F.col("c_custkey") % 17 == 0).select("c_custkey")
    # left join against the broadcast parent key set; count(key) counts the
    # matched (to-be-deleted) rows and count(*) the table — one scan per
    # table, assembled declaratively (no driver-side counting)
    def impact(fact: DataFrame, key_col: str, parent: DataFrame, pkey: str, name: str) -> DataFrame:
        joined = fact.join(
            F.broadcast(parent), fact[key_col] == parent[pkey], "left"
        )
        return joined.agg(
            F.lit(name).alias("table_name"),
            F.count(F.col(pkey)).alias("n_deleted"),
            (F.count(F.lit(1)) - F.count(F.col(pkey))).alias("n_surviving"),
        )

    cust_report = impact(c, "c_custkey", del_cust.withColumnRenamed("c_custkey", "dk"), "dk", "customer")
    del_orders = o.join(
        F.broadcast(del_cust), o["o_custkey"] == del_cust["c_custkey"], "leftsemi"
    ).select("o_orderkey")
    orders_report = impact(o, "o_orderkey", del_orders.withColumnRenamed("o_orderkey", "dk"), "dk", "orders")
    line_report = impact(li, "l_orderkey", del_orders.withColumnRenamed("o_orderkey", "dk").select(F.col("dk")).distinct(), "dk", "lineitem")
    return (
        cust_report.unionByName(orders_report)
        .unionByName(line_report)
        .orderBy("table_name")
    )

# ---------------------------------------------------------------------------
# Exact sliding distinct & cumulative reach
# ---------------------------------------------------------------------------


@register(
    "q129_sliding_distinct_exact",
    oracle="""
    WITH days AS (
      SELECT CAST(ts AS DATE) AS day, user_id FROM events GROUP BY 1, 2
    ),
    grid AS (SELECT DISTINCT day FROM days),
    win AS (
      SELECT g.day, d.user_id
      FROM grid g JOIN days d
        ON d.day BETWEEN g.day - INTERVAL 6 DAY AND g.day
      GROUP BY g.day, d.user_id
    )
    SELECT CAST(day AS VARCHAR) AS day, count(*) AS distinct_users_7d
    FROM win GROUP BY day ORDER BY day
    """,
)
def q129_sliding_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day distinct users per day — the exact twin of
    q91's mergeable-HLL sliding distinct (run both: the sketch for 100 TB
    production, this for calibration). Distinct counts cannot slide with a
    window frame (distinct is not subtractable), so each (user, day) pair
    is fanned to the ≤7 window days it contributes to via a bounded
    explode — cost 7·|user-days|, NOT a per-day re-scan of the raw events.
    Two aggs + one bounded explode."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    days = ev.distinct()
    fan = days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
    ).distinct()
    # drop fan-out days past the observed range (they'd report partial
    # windows the oracle's grid never asks for)
    grid = days.select("day").distinct()
    return (
        fan.join(grid, "day", "leftsemi")
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("distinct_users_7d"))
        .orderBy("day")
    )


@register(
    "q130_cumulative_reach",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
      GROUP BY user_id
    ),
    adds AS (
      SELECT first_day AS day, count(*) AS new_users FROM firsts GROUP BY 1
    ),
    grid AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT CAST(g.day AS VARCHAR) AS day,
           coalesce(a.new_users, 0) AS new_users,
           CAST(sum(coalesce(a.new_users, 0)) OVER (
             ORDER BY g.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_users
    FROM grid g LEFT JOIN adds a ON a.day = g.day
    ORDER BY g.day
    """,
)
def q130_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative audience reach: distinct users ever seen, per day —
    computed as a running SUM of first-appearance counts (a cumulative
    DISTINCT is not window-expressible, but first-occurrence flags make it
    a plain prefix sum; same trick exact sliding distinct can't use
    because sliding windows forget). One min-agg per user + a day-sized
    window."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    adds = firsts.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    grid = ev.select("day").distinct()
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        grid.join(adds, "day", "left")
        .select("day", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        .select(
            F.col("day").cast("string").alias("day"),
            "new_users",
            F.sum("new_users").over(w).alias("cumulative_users"),
        )
        .orderBy("day")
    )

# ---------------------------------------------------------------------------
# Three-way merge conflict detection (bidirectional sync)
# ---------------------------------------------------------------------------


@register(
    "q131_three_way_conflicts",
    oracle="""
    WITH src_changed AS (
      SELECT o_orderkey, o_totalprice + 1.0 AS src_price, o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    tgt_changed AS (
      SELECT o_orderkey, o_totalprice, 'RUSH' AS tgt_priority
      FROM orders WHERE o_orderkey % 11 = 0
    )
    SELECT b.o_orderkey AS orderkey,
           b.o_totalprice AS base_price,
           s.src_price,
           b.o_orderpriority AS base_priority,
           t.tgt_priority,
           (s.src_price IS NOT NULL AND t.tgt_priority IS NOT NULL)
             AS conflict
    FROM orders b
      JOIN src_changed s ON s.o_orderkey = b.o_orderkey
      JOIN tgt_changed t ON t.o_orderkey = b.o_orderkey
    ORDER BY orderkey
    """,
)
def q131_three_way_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way merge conflict detection for BIDIRECTIONAL sync (the case
    the reference's one-way diff cannot express): rows changed in BOTH the
    source and the target since the common base snapshot are conflicts a
    replication engine must surface, not silently overwrite. Plan: the two
    change sets are diff outputs (A9 shape); the conflict set is their
    key-join against the base — at 100 TB both change sets are deltas
    (small sides), so the base table is probed once with broadcast
    semi-structure, never shuffled."""
    o = _t(spark, sf_dir, "orders")
    src = o.filter(F.col("o_orderkey") % 13 == 0).select(
        F.col("o_orderkey").alias("sk"),
        (F.col("o_totalprice") + 1.0).alias("src_price"),
    )
    tgt = o.filter(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_orderkey").alias("tk"), F.lit("RUSH").alias("tgt_priority")
    )
    return (
        o.join(F.broadcast(src), o["o_orderkey"] == src["sk"])
        .join(F.broadcast(tgt), o["o_orderkey"] == tgt["tk"])
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("base_price"),
            "src_price",
            F.col("o_orderpriority").alias("base_priority"),
            "tgt_priority",
            (F.col("src_price").isNotNull() & F.col("tgt_priority").isNotNull()).alias(
                "conflict"
            ),
        )
        .orderBy("orderkey")
    )

# ---------------------------------------------------------------------------
# Relational division & churn
# ---------------------------------------------------------------------------


@register(
    "q132_relational_division",
    oracle="""
    WITH n_all AS (
      SELECT count(DISTINCT o_orderpriority) AS n FROM orders
    )
    SELECT o_custkey AS custkey,
           count(*) AS n_orders,
           count(DISTINCT o_orderpriority) AS n_priorities
    FROM orders
    GROUP BY o_custkey
    HAVING count(DISTINCT o_orderpriority) = (SELECT n FROM n_all)
    ORDER BY custkey
    """,
)
def q132_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division — the 'for ALL' query shape (customers who have
    ordered under EVERY priority class): per-key distinct count equated to
    the domain's distinct count. Two aggs; the 1-row domain count is
    broadcast into the HAVING filter. The classic suppliers-who-supply-
    all-parts query the reference's migrated views may contain but no
    earlier query exercised."""
    o = _t(spark, sf_dir, "orders")
    n_all = o.agg(F.countDistinct("o_orderpriority").alias("n_all"))
    return (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
        .join(F.broadcast(n_all))
        .filter(F.col("n_priorities") == F.col("n_all"))
        .drop("n_all")
        .orderBy("custkey")
    )


@register(
    "q133_weekly_churn",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(date_diff('day', TIMESTAMP '2024-01-01', ts) / 7)
                  AS BIGINT) AS week
      FROM events
    ),
    span AS (SELECT min(week) AS lo, max(week) AS hi FROM uw),
    grid AS (
      SELECT unnest(range((SELECT lo FROM span) + 1, (SELECT hi FROM span) + 1))
        AS week
    )
    SELECT g.week,
           count(CASE WHEN cur.user_id IS NOT NULL THEN 1 END) AS n_retained,
           count(CASE WHEN cur.user_id IS NULL THEN 1 END) AS n_churned
    FROM grid g
      JOIN uw prev ON prev.week = g.week - 1
      LEFT JOIN uw cur ON cur.week = g.week AND cur.user_id = prev.user_id
    GROUP BY g.week ORDER BY g.week
    """,
)
def q133_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn/retention derivative: for every week, how many of the
    previous week's active users came back (retained) vs disappeared
    (churned) — the week-over-week set difference, computed as one
    shifted self-join of the distinct (user, week) table (user-sized, far
    smaller than the event log; no per-week rescan of raw events). Weeks
    are day-offsets from a fixed epoch so both engines bucket
    identically."""
    epoch = F.lit("2024-01-01").cast("timestamp")
    week = F.floor(
        F.datediff(F.to_date(F.col("ts")), F.to_date(epoch)) / 7
    ).cast("long")
    uw = (
        _t(spark, sf_dir, "events")
        .select("user_id", week.alias("week"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev = uw.select(
        F.col("user_id").alias("pu"), (F.col("week") + 1).alias("week")
    )
    span = uw.agg(F.min("week").alias("lo"), F.max("week").alias("hi"))
    grid = span.select(
        F.explode(F.sequence(F.col("lo") + 1, F.col("hi"))).alias("week")
    )
    cur = uw.select(F.col("user_id").alias("cu"), F.col("week").alias("cweek"))
    return (
        grid.join(prev, "week")
        .join(
            cur,
            (F.col("cweek") == F.col("week")) & (F.col("cu") == F.col("pu")),
            "left",
        )
        .groupBy("week")
        .agg(
            F.count(F.col("cu")).alias("n_retained"),
            F.sum(F.col("cu").isNull().cast("long")).alias("n_churned"),
        )
        .orderBy("week")
    )

# ---------------------------------------------------------------------------
# Exact grouped correlation (Pearson & tie-corrected Spearman)
# ---------------------------------------------------------------------------


@register(
    "q134_grouped_correlation",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS HUGEINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT) AS y
      FROM lineitem
    ),
    sums AS (
      SELECT flag, CAST(count(*) AS HUGEINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM pts GROUP BY flag
    )
    SELECT flag, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS pearson_r
    FROM sums ORDER BY flag
    """,
)
def q134_grouped_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation (quantity vs price-in-cents), exactly:
    all five second-order moments accumulate as integers (q125's
    int128-in-decimal discipline; price snapped to cents with the same
    floor(+0.5) on both engines), then r is one fixed chain of double ops —
    sqrt is IEEE-correctly-rounded, so even the denominator is
    engine-identical. Spark's built-in corr() is a float accumulator and
    can never be exact-oracle-gated; this formulation can. One hash agg."""
    li = _t(spark, sf_dir, "lineitem")
    I = "decimal(38,0)"
    x = F.col("l_quantity").cast("long").cast(I)
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast(I)
    sums = li.select(
        F.col("l_returnflag").alias("flag"), x.alias("x"), y.alias("y")
    ).groupBy("flag").agg(
        F.count(F.lit(1)).cast(I).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    deny = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return sums.select(
        "flag",
        F.col("n").cast("long").alias("n"),
        (num / (denx * deny)).alias("pearson_r"),
    ).orderBy("flag")


@register(
    "q135_spearman_rho",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag, l_quantity AS xv, l_extendedprice AS yv
      FROM lineitem
    ),
    ranked AS (
      SELECT flag,
             CAST(2 * rank() OVER (PARTITION BY flag ORDER BY xv)
                  + count(*) OVER (PARTITION BY flag, xv) - 1 AS HUGEINT) AS rx,
             CAST(2 * rank() OVER (PARTITION BY flag ORDER BY yv)
                  + count(*) OVER (PARTITION BY flag, yv) - 1 AS HUGEINT) AS ry
      FROM pts
    ),
    sums AS (
      SELECT flag, CAST(count(*) AS HUGEINT) AS n,
             sum(rx) AS sx, sum(ry) AS sy,
             sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
      FROM ranked GROUP BY flag
    )
    SELECT flag, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS spearman_rho
    FROM sums ORDER BY flag
    """,
)
def q135_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation per group: average ranks are
    held DOUBLED so ties' .5 averages stay integers (2·rank + tiecount − 1
    = twice the fractional average rank), then rho is Pearson over those
    integer ranks with the exact-moment machinery of q134 — no float rank,
    no approximate shortcut (the 6Σd² formula is only valid without ties).

    The x side's doubled rank is joined from a VALUE-LEVEL rank table:
    quantity is a bounded enum (50 distinct values), so its per-row rank
    comes from a 50-rows-per-group cumsum and a broadcast join — one of
    the two full-width per-flag sort windows (the dominant stages: 3
    partitions sorting 200 k rows each) is gone. The y side
    (near-unique prices) keeps the rank window, identical expression.
    One window exchange + one hash agg."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("xv"),
        F.col("l_extendedprice").alias("yv"),
    )
    I = "decimal(38,0)"
    # rank() = #strictly-smaller + 1 and tiecount = value-group size, so
    # 2·rank + c − 1 = 2·cum_before + c + 1 — value-level, exact
    wv = W.partitionBy("flag").orderBy("xv").rowsBetween(W.unboundedPreceding, -1)
    vx = (
        li.groupBy("flag", "xv")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "flag",
            "xv",
            (2 * F.coalesce(F.sum("c").over(wv), F.lit(0)) + F.col("c") + 1)
            .cast("long")
            .cast(I)
            .alias("rx"),
        )
    )
    ry = (
        2 * F.rank().over(W.partitionBy("flag").orderBy("yv"))
        + F.count(F.lit(1)).over(W.partitionBy("flag", "yv"))
        - 1
    ).cast("long").cast(I)
    ranked = li.join(F.broadcast(vx), ["flag", "xv"]).select(
        "flag", "rx", ry.alias("ry")
    )
    sums = ranked.groupBy("flag").agg(
        F.count(F.lit(1)).cast(I).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    deny = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return sums.select(
        "flag",
        F.col("n").cast("long").alias("n"),
        (num / (denx * deny)).alias("spearman_rho"),
    ).orderBy("flag")

# ---------------------------------------------------------------------------
# Source-overlap matrix & key-skew diagnosis
# ---------------------------------------------------------------------------


@register(
    "q136_source_overlap",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    sizes AS (SELECT source, count(*) AS n FROM vocab GROUP BY source),
    inter AS (
      SELECT a.source AS src1, b.source AS src2, count(*) AS n_common
      FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src1, src2, n_common, s1.n AS n1, s2.n AS n2,
           CAST(n_common AS DOUBLE) / CAST(s1.n + s2.n - n_common AS DOUBLE)
             AS vocab_jaccard
    FROM inter JOIN sizes s1 ON s1.source = src1
               JOIN sizes s2 ON s2.source = src2
    ORDER BY src1, src2
    """,
)
def q136_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level source similarity: pairwise vocabulary Jaccard between
    document sources — the diversity diagnostic that decides whether two
    sources are redundant BEFORE paying document-level dedup between them.
    The self-join runs over the distinct (source, token) vocabulary (≪
    corpus); group count bounds the output quadratically, not the data."""
    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            "source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.select(F.col("source").alias("src1"), "tok")
    b = vocab.select(F.col("source").alias("src2"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src1") < F.col("src2"))
        .groupBy("src1", "src2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.select(F.col("source").alias("src1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("source").alias("src2"), F.col("n").alias("n2"))
    return (
        inter.join(F.broadcast(s1), "src1")
        .join(F.broadcast(s2), "src2")
        .select(
            "src1", "src2", "n_common", "n1", "n2",
            (F.col("n_common").cast("double")
             / (F.col("n1") + F.col("n2") - F.col("n_common")).cast("double"))
            .alias("vocab_jaccard"),
        )
        .orderBy("src1", "src2")
    )


@register(
    "q137_key_skew_gini",
    oracle="""
    WITH freq AS (
      SELECT l_partkey AS key, CAST(count(*) AS HUGEINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT cnt, CAST(row_number() OVER (ORDER BY cnt, key) AS HUGEINT) AS i,
             CAST(count(*) OVER () AS HUGEINT) AS n,
             CAST(sum(cnt) OVER () AS HUGEINT) AS total
      FROM freq
    )
    SELECT CAST(max(n) AS BIGINT) AS n_keys,
           CAST(max(total) AS BIGINT) AS n_rows,
           CAST(max(total) AS DOUBLE) / max(n) AS mean_rows_per_key,
           CAST(2 * sum(i * cnt) - (max(n) + 1) * max(total) AS DOUBLE)
             / CAST(max(n) * max(total) AS DOUBLE) AS gini
    FROM ranked
    """,
)
def q137_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis: the Gini coefficient of the per-key row
    distribution (0 = perfectly uniform, →1 = one hot key) from the exact
    integer identity G = (2·Σ i·cnt_i − (n+1)·Σcnt) / (n·Σcnt) over
    counts sorted ascending with a total tie order — all sums integer, one
    double division. This is the measurement that decides whether a join
    needs the salting operators (operators/skew.py) BEFORE it runs; at
    100 TB the frequency table is keys-sized and the rank window is the
    only global ordering."""
    li = _t(spark, sf_dir, "lineitem")
    I = "decimal(38,0)"
    freq = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).cast(I).alias("cnt")
    )
    w = W.orderBy("cnt", "key")
    ranked = freq.select(
        "cnt",
        F.row_number().over(w).cast("long").cast(I).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy()).cast(I).alias("n"),
        F.sum("cnt").over(W.partitionBy()).alias("total"),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_keys"),
        F.max("total").cast("long").alias("n_rows"),
        (F.max("total").cast("double") / F.max("n").cast("double")).alias(
            "mean_rows_per_key"
        ),
        (
            (2 * F.sum(F.col("i") * F.col("cnt"))
             - (F.max("n") + 1) * F.max("total")).cast("double")
            / (F.max("n") * F.max("total")).cast("double")
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Frequent items, skyline, tokenizer induction, calibration, indexing
# (round-4 continuation: q138+)
# ---------------------------------------------------------------------------

from .operators.curation import quantile_normalize  # noqa: E402
from .operators.sketches import exact_heavy_hitters  # noqa: E402
from .operators.skyline import pareto_frontier  # noqa: E402
from .operators.text import (  # noqa: E402
    adjacent_pair_counts,
    bpe_apply_top_merge,
    inverted_index,
    tokens as _tok,
)


@register(
    "q138_heavy_hitters",
    oracle="""
    WITH c AS (
      SELECT CAST(o_custkey AS VARCHAR) AS o_custkey,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM orders)
    SELECT c.o_custkey, c.cnt, t.n_total
    FROM c, t WHERE c.cnt * 1000 > t.n_total
    ORDER BY cnt DESC, o_custkey
    """,
)
def q138_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-item detection, sketch-first: per-partition
    Misra-Gries summaries (operators/sketches.py:misra_gries_candidates —
    O(capacity) state per partition, union of survivors is a guaranteed
    SUPERSET of every key with count > n/k) pruned by an exact candidate-
    only second pass, so the output is exact and partitioning-independent.
    On this synthetic near-uniform key the sketch degenerates toward the
    full domain (documented in the operator); on the Zipfian keys the
    operator exists for, pass 2 counts O(k·partitions) keys instead of the
    domain. Integer threshold (cnt·k > n) — no float comparison."""
    orders = _t(spark, sf_dir, "orders")
    hh = exact_heavy_hitters(orders.select("o_custkey"), "o_custkey", k=1000)
    return hh.orderBy(F.col("cnt").desc(), "o_custkey")


@register(
    "q139_pareto_frontier",
    oracle="""
    WITH pts AS (
      SELECT p_partkey,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
             p_size
      FROM part
    ),
    f AS (
      SELECT *,
             max(p_size) OVER (ORDER BY price_cents
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ms,
             max(p_size) OVER (ORDER BY price_cents
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mi
      FROM pts
    )
    SELECT p_partkey, price_cents, p_size FROM f
    WHERE (ms IS NULL OR ms < p_size) AND mi <= p_size
    ORDER BY price_cents, p_size, p_partkey
    """,
)
def q139_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline over parts: minimize price (snapped to integer cents the
    usual way), maximize size — rows no other part dominates. Distributed
    shape (operators/skyline.py): bucket-local frontiers via two RANGE-frame
    window maxima (each bucket discards its dominated points in parallel),
    then the same filter globally over the tiny survivor set; the oracle is
    the single-window formulation, which the two-stage plan provably
    equals. No self-join anywhere — dominance is two running maxima."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long").alias("price_cents"),
        "p_size",
    )
    return pareto_frontier(p, "price_cents", "p_size", "p_partkey").orderBy(
        "price_cents", "p_size", "p_partkey"
    )


_BPE_ORACLE = r"""
    WITH docs AS (
      SELECT string_split_regex(trim(text), '\s+') AS tok
      FROM documents WHERE trim(text) <> ''
    ),
    p1 AS (
      SELECT tok[i] AS lft, tok[i + 1] AS rgt
      FROM docs, LATERAL (SELECT unnest(generate_series(1, len(tok) - 1)) AS i) u
    ),
    c1 AS (SELECT lft, rgt, CAST(count(*) AS BIGINT) AS cnt FROM p1 GROUP BY 1, 2),
    t1 AS (SELECT lft, rgt FROM c1 ORDER BY cnt DESC, lft, rgt LIMIT 1),
    merged AS (
      SELECT string_split(
               regexp_replace(regexp_replace(
                 replace('|' || array_to_string(tok, '||') || '|',
                         '|' || t1.lft || '||' || t1.rgt || '|',
                         '|' || t1.lft || '~' || t1.rgt || '|'),
                 '^\|', ''), '\|$', ''),
               '||') AS tok
      FROM docs, t1
    ),
    p2 AS (
      SELECT tok[i] AS lft, tok[i + 1] AS rgt
      FROM merged, LATERAL (SELECT unnest(generate_series(1, len(tok) - 1)) AS i) u
    ),
    c2 AS (SELECT lft, rgt, CAST(count(*) AS BIGINT) AS cnt FROM p2 GROUP BY 1, 2),
    r1 AS (
      SELECT 1 AS merge_round,
             CAST(row_number() OVER (ORDER BY cnt DESC, lft, rgt) AS INTEGER) AS rk,
             lft, rgt, cnt
      FROM c1
    ),
    r2 AS (
      SELECT 2 AS merge_round,
             CAST(row_number() OVER (ORDER BY cnt DESC, lft, rgt) AS INTEGER) AS rk,
             lft, rgt, cnt
      FROM c2
    )
    SELECT merge_round, rk, lft, rgt, cnt
    FROM (SELECT * FROM r1 WHERE rk <= 5 UNION ALL SELECT * FROM r2 WHERE rk <= 5)
    ORDER BY merge_round, rk
"""


@register("q140_bpe_merges", oracle=_BPE_ORACLE)
def q140_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer induction — two rounds of BPE-style pair merging over the
    corpus: count adjacent token pairs, merge the most frequent pair
    corpus-wide (ties broken lexicographically), recount, and report each
    round's top-5 pair table. The merge applies as ONE broadcast 1-row join
    + JVM string replace on a delimiter encoding where every adjacent pair
    owns private boundary chars (operators/text.py:wrap_tokens) — so
    leftmost non-overlapping replace() IS greedy left-to-right BPE, no
    collect(), no per-row Python, and DuckDB's replace() reproduces it
    bit-for-bit. Pair counting is zip-with-tail + one explode + one hash
    agg per round; at 100 TB each round is two shuffles (count, rank) and
    the merge itself is embarrassingly parallel."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select(_tok(F.col("text")).alias("tok"))
    )
    c1 = adjacent_pair_counts(docs, "tok")
    d2 = bpe_apply_top_merge(docs, "tok", c1)
    c2 = adjacent_pair_counts(d2, "tok")

    def top5(c: DataFrame, rnd: int) -> DataFrame:
        w = W.orderBy(F.col("cnt").desc(), "left", "right")
        return (
            c.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select(
                F.lit(rnd).alias("merge_round"),
                "rk",
                F.col("left").alias("lft"),
                F.col("right").alias("rgt"),
                "cnt",
            )
        )

    return top5(c1, 1).unionByName(top5(c2, 2)).orderBy("merge_round", "rk")


@register(
    "q141_quantile_normalize",
    oracle="""
    WITH g AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents
    ),
    gl AS (
      SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS k,
             n_chars AS normalized
      FROM documents
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents)
    SELECT g.doc_id, g.source, g.n_chars, gl.normalized
    FROM g
    JOIN gl
      ON gl.k = (g.r * (SELECT nn FROM m) + g.n - 1) // g.n
    ORDER BY doc_id
    """,
)
def q141_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization (operators/curation.py): each
    source's document-length distribution is mapped onto the global
    distribution — group-rank r of n maps to the global value at rank
    ceil(r·N/n), all-integer (div, not IEEE /), so cross-source length
    scores become comparable without any float binning. Shape: one window
    per group, one global rank (the scale caveat — swap in the bucket-
    histogram prefix-sum rank at 100 TB, mapping join unchanged), one
    equi-join on the rank index."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return quantile_normalize(d, "source", "n_chars", "doc_id").orderBy("doc_id")


@register(
    "q142_inverted_index",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(trim(text), '\s+')) AS term
      FROM documents
    ),
    td AS (SELECT DISTINCT doc, term FROM tok WHERE term <> ''),
    wd AS (
      SELECT doc, term,
             count(*) OVER (PARTITION BY term) AS df,
             row_number() OVER (PARTITION BY term ORDER BY doc) AS rn
      FROM td
    )
    SELECT term, CAST(max(df) AS BIGINT) AS df,
           string_agg(CAST(doc AS VARCHAR), ',' ORDER BY doc) AS postings
    FROM wd WHERE rn <= 20 AND df >= 2
    GROUP BY term ORDER BY term
    """,
)
def q142_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list construction (operators/text.py:inverted_index): term →
    exact document frequency + the first 20 doc ids ascending, joined as a
    deterministic string. The per-term cap rides WindowGroupLimit (rank ≤ k
    prunes before any full posting list materializes) while df counts the
    UNCAPPED frequency — the index stays bounded even when one term hits
    every document. Posting order is numeric: sort_array over structs, not
    string sort, so '2' < '100' agrees with the oracle's ORDER BY doc."""
    return inverted_index(
        _t(spark, sf_dir, "documents"), "doc_id", "text", min_df=2, postings_cap=20
    ).orderBy("term")


@register(
    "q143_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM events
    ),
    c AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
      FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS n_src FROM c GROUP BY src)
    SELECT c.src, c.dst, c.cnt, CAST(c.cnt AS DOUBLE) / t.n_src AS prob
    FROM c JOIN tot t USING (src)
    ORDER BY src, dst
    """,
)
def q143_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    (src→dst) counts from one lead() window, row-normalized into transition
    probabilities with a single integer-over-integer IEEE division (the
    exactness discipline). The state space is event-type-sized, so the
    normalizing join broadcasts; the only data-sized shuffles are the
    sequence window and one hash agg."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    c = (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # row-normalize with ONE window over the (tiny) pair table — a
    # groupBy+join normalizer would re-derive the whole upstream twice
    n_src = F.sum("cnt").over(W.partitionBy("src"))
    return (
        c.select(
            "src", "dst", "cnt",
            (F.col("cnt").cast("double") / n_src.cast("double")).alias("prob"),
        )
        .orderBy("src", "dst")
    )


@register(
    "q144_interval_coalesce",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts)
               + (1 + CAST(floor(value) AS BIGINT) % 240) * 60000000 AS e
      FROM events
    ),
    marked AS (
      SELECT *,
             CASE WHEN s > max(e) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             CAST(sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      FROM marked
    )
    SELECT user_id, island, CAST(count(*) AS BIGINT) AS n_events,
           min(s) AS start_us, max(e) AS end_us
    FROM isl GROUP BY 1, 2
    ORDER BY user_id, island
    """,
)
def q144_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length interval coalescing (true interval union, not
    gap-sessionization): each event opens an interval whose duration is
    derived from its own value (1 + ⌊value⌋ mod 240 minutes), overlapping
    or touching intervals merge into islands. The classic formulation —
    island boundary = start strictly after the RUNNING MAX of all earlier
    ends (lag(end) alone is wrong when an early long interval swallows
    later short ones), island id = prefix sum of boundaries — is two
    windows over the same per-user ordering plus one hash agg; exact
    integer microseconds throughout."""
    ev = _t(spark, sf_dir, "events")
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    e = s + (1 + F.floor(F.col("value")).cast("long") % 240) * F.lit(60_000_000)
    iv = ev.select("user_id", "event_id", s.alias("s"), e.alias("e"))
    wprev = (
        W.partitionBy("user_id").orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wrun = (
        W.partitionBy("user_id").orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    marked = iv.withColumn(
        "new_island",
        F.when(F.col("s") > F.max("e").over(wprev), F.lit(1)).otherwise(F.lit(0)),
    )
    isl = marked.withColumn("island", F.sum("new_island").over(wrun))
    return (
        isl.groupBy("user_id", "island")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("s").alias("start_us"),
            F.max("e").alias("end_us"),
        )
        .orderBy("user_id", "island")
    )


@register(
    "q145_winsorized_stats",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    fences AS (
      SELECT flag,
             min(CASE WHEN rn >= ceil(0.05 * n) THEN cents END) AS lo,
             min(CASE WHEN rn >= ceil(0.95 * n) THEN cents END) AS hi
      FROM pts GROUP BY flag
    ),
    clamped AS (
      SELECT p.flag, f.lo, f.hi,
             CASE WHEN p.cents < f.lo THEN 1 ELSE 0 END AS cl,
             CASE WHEN p.cents > f.hi THEN 1 ELSE 0 END AS ch,
             CASE WHEN p.cents < f.lo THEN f.lo
                  WHEN p.cents > f.hi THEN f.hi
                  ELSE p.cents END AS w
      FROM pts p JOIN fences f USING (flag)
    )
    SELECT flag,
           CAST(max(lo) AS BIGINT) AS p05_cents,
           CAST(max(hi) AS BIGINT) AS p95_cents,
           CAST(sum(cl) AS BIGINT) AS n_clamped_low,
           CAST(sum(ch) AS BIGINT) AS n_clamped_high,
           CAST(sum(w) AS DOUBLE) / (100.0 * count(*)) AS winsorized_mean
    FROM clamped GROUP BY flag ORDER BY flag
    """,
)
def q145_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped winsorization: clamp each group's price tail at the exact
    rank-based P5/P95 (value at rank ceil(p·n) — a data value, not an
    interpolation, same discipline as q118's quartiles), then report the
    winsorized mean from an integer cents sum with one float division at
    the end. Rank window + tiny broadcast fences join + one agg — the
    robust-statistics counterpart to q118's outlier DETECTION (this one
    repairs instead of flags)."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    wspec = W.partitionBy("flag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    pts = li.select(
        F.col("l_returnflag").alias("flag"),
        cents.alias("cents"),
        "l_extendedprice", "l_orderkey", "l_linenumber",
    ).select(
        "flag", "cents",
        F.row_number().over(wspec).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("flag")).alias("n"),
    )
    fences = pts.groupBy("flag").agg(
        F.min(F.when(F.col("rn") >= F.ceil(0.05 * F.col("n")), F.col("cents"))).alias("lo"),
        F.min(F.when(F.col("rn") >= F.ceil(0.95 * F.col("n")), F.col("cents"))).alias("hi"),
    )
    clamped = pts.join(F.broadcast(fences), "flag").select(
        "flag", "lo", "hi",
        F.when(F.col("cents") < F.col("lo"), 1).otherwise(0).alias("cl"),
        F.when(F.col("cents") > F.col("hi"), 1).otherwise(0).alias("ch"),
        F.when(F.col("cents") < F.col("lo"), F.col("lo"))
        .when(F.col("cents") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("cents")).alias("w"),
    )
    return (
        clamped.groupBy("flag")
        .agg(
            F.max("lo").alias("p05_cents"),
            F.max("hi").alias("p95_cents"),
            F.sum("cl").alias("n_clamped_low"),
            F.sum("ch").alias("n_clamped_high"),
            (F.sum("w").cast("double") / (100.0 * F.count(F.lit(1)))).alias(
                "winsorized_mean"
            ),
        )
        .orderBy("flag")
    )


@register(
    "q146_kl_divergence",
    oracle=r"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    st AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c_st
      FROM toks WHERE tok <> '' GROUP BY 1, 2
    ),
    s AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
    g AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY tok),
    tot AS (SELECT CAST(sum(c_st) AS BIGINT) AS n FROM st),
    contrib AS (
      SELECT st.source,
             CAST(
               (CAST(st.c_st AS DOUBLE) / s.n_s)
               * ln((CAST(st.c_st AS DOUBLE) * t.n)
                    / (CAST(g.c_t AS DOUBLE) * s.n_s))
               AS DECIMAL(28, 15)) AS d
      FROM st
      JOIN s USING (source)
      JOIN g USING (tok)
      CROSS JOIN tot t
    )
    SELECT c.source, s.n_s AS n_tokens,
           round(CAST(sum(c.d) AS DOUBLE), 6) AS kl_vs_global
    FROM contrib c JOIN s USING (source)
    GROUP BY c.source, s.n_s ORDER BY c.source
    """,
)
def q146_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift: KL divergence of each source's unigram distribution
    from the global distribution — the domain-shift metric a training-mix
    designer monitors. Float-sum order would break exactness, so each
    term's contribution (a fixed double chain from integer counts) is cast
    to DECIMAL(28,15) and summed EXACTLY as decimal (order-free), rounded
    once at the end — the HLL module's determinism discipline applied to an
    information-theoretic aggregate. Shape: per-(source,term) counts (one
    agg), two vocabulary-sized side aggs broadcast back, one decimal sum.
    P is per-source, Q is global, so Q=0 is impossible and KL is finite."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(_tok(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    # the (source, term) count table feeds four consumers (marginals, total,
    # contributions) — pin the vocabulary-sized result instead of re-running
    # the corpus explode per consumer
    st = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_st"))
        .localCheckpoint(eager=False)
    )
    s = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    g = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    tot = st.agg(F.sum("c_st").alias("n"))
    contrib = (
        st.join(F.broadcast(s), "source")
        .join(F.broadcast(g), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "source", "n_s",
            (
                (F.col("c_st").cast("double") / F.col("n_s"))
                * F.log(
                    (F.col("c_st").cast("double") * F.col("n"))
                    / (F.col("c_t").cast("double") * F.col("n_s"))
                )
            ).cast("decimal(28,15)").alias("d"),
        )
    )
    return (
        contrib.groupBy("source", F.col("n_s").alias("n_tokens"))
        .agg(F.round(F.sum("d").cast("double"), 6).alias("kl_vs_global"))
        .orderBy("source")
    )


#: fixed BM25 probe terms — a representative search over the synthetic corpus
_BM25_TERMS = ("join", "hash", "scan")


def _bm25_oracle() -> str:
    tf_cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS, 1)
    )
    df_cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(1, len(_BM25_TERMS) + 1)
    )
    score_terms = "\n             + ".join(
        f"ln((CAST(s.n_docs AS DOUBLE) - d.df{i} + 0.5) / (d.df{i} + 0.5) + 1.0)"
        f" * (CAST(t.tf{i} AS DOUBLE) * 2.2)"
        f" / (t.tf{i} + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE) * s.n_docs / s.tot)))"
        for i in range(1, len(_BM25_TERMS) + 1)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    len AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      FROM toks WHERE tok <> '' GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot
      FROM len
    ),
    tf AS (
      SELECT doc_id,
             {tf_cols}
      FROM toks GROUP BY doc_id
    ),
    dfs AS (
      SELECT {df_cols}
      FROM tf
    )
    SELECT l.doc_id, l.dl,
           round({score_terms}, 9) AS score
    FROM len l
    JOIN tf t USING (doc_id)
    CROSS JOIN dfs d
    CROSS JOIN stats s
    ORDER BY score DESC, doc_id LIMIT 20
    """


@register("q147_bm25_ranking", oracle=_bm25_oracle())
def q147_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed probe query (k1=1.2, b=0.75,
    Lucene's +1 idf floor): the retrieval scorer on top of q142's index
    statistics. Determinism: tf/df/doclen are exact integers; each doc's
    score is ONE fixed chain of double ops summed in explicit term order
    (t1 + t2 + t3, never a SQL SUM over floats), then round(9) — ln()
    differs from DuckDB's libm in the last ulp, and the rounding pins both
    the values and the top-20 ordering far above that noise floor.
    Shape: one token agg for lengths, one for per-doc tf
    (conditional sums — never a per-term join), corpus stats broadcast,
    top-20 rides TakeOrderedAndProject."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(_tok(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0)).alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS, 1)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("tot"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(1, len(_BM25_TERMS) + 1)
        ],
    )
    joined = per_doc.crossJoin(F.broadcast(stats))

    def term_score(i: int):
        idf = F.log(
            (F.col("n_docs").cast("double") - F.col(f"df{i}") + 0.5)
            / (F.col(f"df{i}") + 0.5)
            + 1.0
        )
        ratio = F.col("dl").cast("double") * F.col("n_docs") / F.col("tot")
        return idf * (F.col(f"tf{i}").cast("double") * 2.2) / (
            F.col(f"tf{i}") + 1.2 * (0.25 + 0.75 * ratio)
        )

    score = term_score(1)
    for i in range(2, len(_BM25_TERMS) + 1):
        score = score + term_score(i)
    # ln() may differ from DuckDB's libm in the last ulp — round(9) pins the
    # comparison (and the top-20 ordering) far above that noise floor
    return (
        joined.select("doc_id", "dl", F.round(score, 9).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@register(
    "q148_triangle_count",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_partkey % 3 = 0
    ),
    e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY node
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS t
      FROM e e1 JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    wedges AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS w FROM deg)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT t FROM tri) AS n_triangles,
           (SELECT t FROM tri) * 27 AS est_triangles_full,
           CAST(3.0 * (SELECT t FROM tri) AS DOUBLE) / (SELECT w FROM wedges)
             AS clustering_coeff
    """,
)
def q148_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + clustering coefficient of the co-purchase graph
    under deterministic VERTEX-COLORING SAMPLING (Doulion-family, Tsourakakis
    et al. KDD'09): keep the 1-in-3 vertex class (partkey ≡ 0 mod 3), count
    triangles EXACTLY on the induced subgraph, extrapolate ×27 (= k³) — the
    induced count is exact (oracle-gated), the extrapolation is the unbiased
    estimator a 100 TB graph would ship. The Spark plan uses DEGREE-ORDERED
    ORIENTATION (Chiba–Nishizeki / Suri–Vassilvitskii MR-style): each edge
    points from its lower-(degree,id) endpoint to the higher, so every
    vertex's out-degree is O(√m) regardless of hot hubs, wedges are
    generated per apex from the sorted out-neighbor array with the house
    grouped pair generator, and one semi-join against the edge set closes
    them — each triangle counted exactly once from its minimum-rank apex.
    The oracle is the naive u<v<w triple self-join; identical count. The
    wedge denominator Σ d(d−1)/2 is exact integers, one final division."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") % 3 == 0)
        .distinct()
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    items = F.col("items")
    e = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        items,
                        lambda x, i: F.transform(
                            F.slice(items, i + 2, F.size(items)),
                            lambda y: F.struct(x.alias("u"), y.alias("v")),
                        ),
                    )
                )
            ).alias("pr")
        )
        .select("pr.u", "pr.v")
        .distinct()
        # the edge set feeds four consumers (degrees, orientation, wedge
        # closure, edge count) — pin it once instead of re-deriving the
        # basket pair-gen lineage per consumer
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient each edge toward the higher (degree, id) endpoint
    ed = (
        e.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when(
                F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v")),
                F.struct(F.col("u").alias("x"), F.col("v").alias("y")),
            )
            .otherwise(F.struct(F.col("v").alias("x"), F.col("u").alias("y")))
            .alias("o")
        )
        .select("o.x", "o.y")
    )
    # wedges per apex from sorted out-neighbors (out-degree is O(sqrt m))
    nbrs = ed.groupBy("x").agg(F.array_sort(F.collect_list("y")).alias("ys"))
    ys = F.col("ys")
    wedge = nbrs.select(
        F.explode(
            F.flatten(
                F.transform(
                    ys,
                    lambda a, i: F.transform(
                        F.slice(ys, i + 2, F.size(ys)),
                        lambda b: F.struct(
                            F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
                        ),
                    ),
                )
            )
        ).alias("w")
    ).select("w.u", "w.v")
    # the triangle and edge counts are DEFERRED 1-row aggregates broadcast
    # into the final projection, not driver-side .count() actions — the
    # whole query runs as one Spark action instead of three (the q298/q337
    # deferred-count shape; same exact integers)
    tri_df = (
        wedge.join(e, ["u", "v"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_nodes_df = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("w"),
    )
    n_edges_df = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_nodes_df.crossJoin(F.broadcast(n_edges_df))
        .crossJoin(F.broadcast(tri_df))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            (F.col("n_triangles") * 27).alias("est_triangles_full"),
            (3.0 * F.col("n_triangles") / F.col("w")).alias("clustering_coeff"),
        )
    )


@register(
    "q149_seasonal_decompose",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY 1, 2
    ),
    ma AS (
      SELECT event_type, h, y,
             CAST(sum(y) OVER w AS BIGINT) AS trend_num,
             count(*) OVER w AS cnt,
             CAST(strftime(h, '%H') AS INTEGER) AS hod
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
    ),
    detr AS (
      SELECT event_type, hod, 24 * y - trend_num AS d24
      FROM ma WHERE cnt = 24
    )
    SELECT event_type, hod,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(d24) AS DOUBLE) / (2400.0 * count(*)) AS seasonal
    FROM detr GROUP BY event_type, hod
    ORDER BY event_type, hod
    """,
)
def q149_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average seasonal decomposition (STL-lite): hourly revenue per
    event type, trend = centered 24-row moving average (only complete
    windows), seasonal index per hour-of-day = mean detrended residual.
    Exactness: hourly totals are integer cents, the detrended residual is
    held as the INTEGER 24·y − Σwindow (no per-row division), and the only
    float op is the final mean — so a decomposition usually done in pandas
    runs exactly, distributed, as two shuffles (hourly agg + one ordered
    window per type) and one group agg."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("y")
        )
    )
    w = (
        W.partitionBy("event_type").orderBy("h").rowsBetween(-12, 11)
    )
    ma = hourly.select(
        "event_type",
        F.hour("h").alias("hod"),
        "y",
        F.sum("y").over(w).alias("trend_num"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    detr = ma.filter(F.col("cnt") == 24).select(
        "event_type", "hod", (24 * F.col("y") - F.col("trend_num")).alias("d24")
    )
    return (
        detr.groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            (
                F.sum("d24").cast("double") / (2400.0 * F.count(F.lit(1)))
            ).alias("seasonal"),
        )
        .orderBy("event_type", "hod")
    )


@register(
    "q150_kaplan_meier",
    oracle="""
    WITH horizon AS (SELECT max(ts) AS t_end FROM events),
    s AS (
      SELECT user_id, min(ts) AS t_signup FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.t_signup
      GROUP BY e.user_id
    ),
    subjects AS (
      SELECT s.user_id,
             CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS ev,
             CAST(CASE WHEN p.user_id IS NOT NULL
                  THEN epoch_us(p.t_purchase) - epoch_us(s.t_signup)
                  ELSE epoch_us(h.t_end) - epoch_us(s.t_signup)
                  END // 86400000000 AS BIGINT) AS t_days
      FROM s LEFT JOIN p ON p.user_id = s.user_id CROSS JOIN horizon h
    ),
    byday AS (
      SELECT t_days, CAST(sum(ev) AS BIGINT) AS d,
             CAST(sum(1 - ev) AS BIGINT) AS c
      FROM subjects GROUP BY t_days
    ),
    risk AS (
      SELECT t_days, d, c,
             CAST((SELECT count(*) FROM subjects)
               - coalesce(sum(d + c) OVER (ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
      FROM byday
    )
    SELECT t_days, d, c, n_risk,
           CASE WHEN max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                  OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING) = 1
                THEN 0.0
                ELSE round(exp(sum(CASE WHEN d > 0 AND d < n_risk
                              THEN ln(CAST(n_risk - d AS DOUBLE) / n_risk)
                              ELSE 0.0 END)
                      OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING)), 9)
           END AS survival
    FROM risk ORDER BY t_days
    """,
)
def q150_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for signup→purchase conversion with
    right-censoring at the corpus horizon: per-day event/censor counts, the
    risk set as an exact integer prefix subtraction, and the product-limit
    estimator as exp(Σ ln((n−d)/n)) over the ordered day sequence — both
    engines accumulate the running float sum in the SAME row order, and
    round(9) pins the libm tail. The survival-analysis standard (the
    principled upgrade of q124's quantiles under censoring), expressed as
    two tiny aggs + one global window over #distinct-days rows."""
    ev = _t(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("t_end"))
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    p = (
        ev.join(F.broadcast(s), "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_signup"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    subjects = (
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0).alias("ev"),
            F.floor(
                F.when(
                    F.col("t_purchase").isNotNull(),
                    us("t_purchase") - us("t_signup"),
                ).otherwise(us("t_end") - us("t_signup"))
                / 86_400_000_000
            ).cast("long").alias("t_days"),
        )
        .localCheckpoint(eager=False)
    )
    total = subjects.count()
    byday = subjects.groupBy("t_days").agg(
        F.sum("ev").alias("d"), F.sum(1 - F.col("ev")).alias("c")
    )
    wprev = W.orderBy("t_days").rowsBetween(W.unboundedPreceding, -1)
    wrun = W.orderBy("t_days").rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = byday.select(
        "t_days", "d", "c",
        (
            F.lit(total)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    # absorbing zero: once a day's deaths exhaust the risk set, S(t) is 0
    # from that day on (ln(0) never evaluates — the flag short-circuits it)
    step = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.log((F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    dead = F.max(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(wrun)
    return risk.select(
        "t_days", "d", "c", "n_risk",
        F.when(dead == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(step).over(wrun)), 9))
        .alias("survival"),
    ).orderBy("t_days")


@register(
    "q151_join_view_maintenance",
    oracle="""
    SELECT c.c_mktsegment AS segment, o.o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,8))) AS DOUBLE)
             AS sum_price
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2 ORDER BY segment, status
    """,
)
def q151_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (classic IVM delta algebra):
    with fact and dim each split into base + insert-delta (orders keys
    ≡0 mod 10, customer keys ≡0 mod 7 play the arriving batches), the
    maintained view is the base partial-aggregate MERGED with the three
    delta terms ΔA⋈B, A⋈ΔB, ΔA⋈ΔB — the base⋈base join is NEVER re-run.
    The oracle is the full recompute; equality holds because count and
    DECIMAL(38,8) sums are exactly mergeable partials (q110's discipline
    extended from single-table to join views). Delta joins broadcast the
    smaller side; the merge is one partial-union + re-agg."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_totalprice").cast(DEC).alias("price"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o_base = o.filter(F.col("o_orderkey") % 10 != 0)
    o_delta = o.filter(F.col("o_orderkey") % 10 == 0)
    c_base = c.filter(F.col("c_custkey") % 7 != 0)
    c_delta = c.filter(F.col("c_custkey") % 7 == 0)

    def partial(odf: DataFrame, cdf: DataFrame) -> DataFrame:
        return (
            odf.join(F.broadcast(cdf), odf["o_custkey"] == cdf["c_custkey"])
            .groupBy(
                F.col("c_mktsegment").alias("segment"),
                F.col("o_orderstatus").alias("status"),
            )
            .agg(F.count(F.lit(1)).alias("pn"), F.sum("price").alias("ps"))
        )

    # the "materialized" base view + the three IVM delta terms
    base_view = partial(o_base, c_base)
    deltas = [partial(o_delta, c_base), partial(o_base, c_delta), partial(o_delta, c_delta)]
    merged = base_view
    for d in deltas:
        merged = merged.unionByName(d)
    return (
        merged.groupBy("segment", "status")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("ps").cast("double").alias("sum_price"),
        )
        .orderBy("segment", "status")
    )


@register(
    "q152_welch_ttest",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CASE WHEN CAST(strftime(ts, '%w') AS INTEGER) IN (0, 6)
                  THEN 1 ELSE 0 END AS we,
             CAST(floor(value * 100 + 0.5) AS HUGEINT) AS cents
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(sum(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
             sum(CASE WHEN we = 0 THEN cents ELSE 0 END) AS s1,
             sum(CASE WHEN we = 0 THEN cents * cents ELSE 0 END) AS ss1,
             CAST(sum(we) AS HUGEINT) AS n2,
             sum(CASE WHEN we = 1 THEN cents ELSE 0 END) AS s2,
             sum(CASE WHEN we = 1 THEN cents * cents ELSE 0 END) AS ss2
      FROM pts GROUP BY event_type
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_weekday, CAST(n2 AS BIGINT) AS n_weekend,
           round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 100.0, 6)
             AS mean_diff,
           round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
             / sqrt(CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))
                  + CAST(n2 * ss2 - s2 * s2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))), 6)
             AS t_stat
    FROM m ORDER BY event_type
    """,
)
def q152_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test per event type (weekday vs weekend values) —
    the A/B-test primitive, exact: both samples' first and second moments
    accumulate as integer cents in decimal(38,0) (q134's discipline), the
    variance-of-mean terms v_i/n_i are computed as the single expression
    (n·ss − s²)/(n·n·(n−1)) from those integers, and the t statistic is one
    fixed double chain rounded at 6. One hash agg over the facts; the test
    itself costs one row per group."""
    ev = _t(spark, sf_dir, "events")
    I = "decimal(38,0)"
    we = F.when(F.dayofweek(F.col("ts")).isin(1, 7), 1).otherwise(0)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long").cast(I)
    pts = ev.select("event_type", we.alias("we"), cents.alias("cents"))
    m = pts.groupBy("event_type").agg(
        F.sum(F.when(F.col("we") == 0, 1).otherwise(0)).cast(I).alias("n1"),
        F.sum(F.when(F.col("we") == 0, F.col("cents")).otherwise(F.lit(0).cast(I))).alias("s1"),
        F.sum(F.when(F.col("we") == 0, F.col("cents") * F.col("cents")).otherwise(F.lit(0).cast(I))).alias("ss1"),
        F.sum("we").cast(I).alias("n2"),
        F.sum(F.when(F.col("we") == 1, F.col("cents")).otherwise(F.lit(0).cast(I))).alias("s2"),
        F.sum(F.when(F.col("we") == 1, F.col("cents") * F.col("cents")).otherwise(F.lit(0).cast(I))).alias("ss2"),
    )
    mean_diff = (
        F.col("s1").cast("double") / F.col("n1").cast("double")
        - F.col("s2").cast("double") / F.col("n2").cast("double")
    )
    v1 = (F.col("n1") * F.col("ss1") - F.col("s1") * F.col("s1")).cast("double") / (
        F.col("n1").cast("double") * F.col("n1").cast("double") * (F.col("n1").cast("double") - 1)
    )
    v2 = (F.col("n2") * F.col("ss2") - F.col("s2") * F.col("s2")).cast("double") / (
        F.col("n2").cast("double") * F.col("n2").cast("double") * (F.col("n2").cast("double") - 1)
    )
    return m.select(
        "event_type",
        F.col("n1").cast("long").alias("n_weekday"),
        F.col("n2").cast("long").alias("n_weekend"),
        F.round(mean_diff / 100.0, 6).alias("mean_diff"),
        F.round(mean_diff / F.sqrt(v1 + v2), 6).alias("t_stat"),
    ).orderBy("event_type")


@register(
    "q153_stream_heavy_hitters",
    oracle="""
    WITH c AS (
      SELECT CAST(user_id AS VARCHAR) AS user_id,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM events)
    SELECT c.user_id, c.cnt, t.n_total
    FROM c, t WHERE c.cnt * 200 > t.n_total
    ORDER BY cnt DESC, user_id
    """,
)
def q153_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters, exactly — the lambda split: the stream side
    carries Misra-Gries counter tables in explicit group state
    (streaming/jobs.py:streaming_mg_candidates, O(buckets·capacity) state,
    update-mode candidate snapshots), and a batch pass exact-counts ONLY
    the unioned candidates (a superset of every key with count > n/k, see
    the operator's proof) against the same table, keeping keys that clear
    the integer threshold. Output is exact and identical to the all-batch
    q138 formulation; the streaming phase is what survives when the input
    is a firehose instead of a parquet table."""
    from .streaming import run_stream_to_memory, stream_events
    from .streaming.jobs import streaming_mg_candidates

    stream = streaming_mg_candidates(
        stream_events(spark, sf_dir), "user_id", capacity=800
    )
    run_stream_to_memory(stream, "q153_cands", output_mode="update")
    cands = spark.sql("SELECT DISTINCT value AS user_id FROM q153_cands")
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_id")
    )
    counted = (
        ev.join(F.broadcast(cands), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 200 > F.col("n_total"))
        .select("user_id", "cnt", "n_total")
        .orderBy(F.col("cnt").desc(), "user_id")
    )


@register(
    "q154_ks_test",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CASE WHEN CAST(strftime(ts, '%w') AS INTEGER) IN (0, 6)
                  THEN 1 ELSE 0 END AS we,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    c AS (
      SELECT event_type, cents,
             CAST(sum(1 - we) AS BIGINT) AS n1c,
             CAST(sum(we) AS BIGINT) AS n2c
      FROM pts GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type,
             sum(n1c) OVER (PARTITION BY event_type ORDER BY cents
               ROWS UNBOUNDED PRECEDING) AS i,
             sum(n2c) OVER (PARTITION BY event_type ORDER BY cents
               ROWS UNBOUNDED PRECEDING) AS j,
             sum(n1c) OVER (PARTITION BY event_type) AS n1,
             sum(n2c) OVER (PARTITION BY event_type) AS n2
      FROM c
    )
    SELECT event_type,
           CAST(max(n1) AS BIGINT) AS n_weekday,
           CAST(max(n2) AS BIGINT) AS n_weekend,
           CAST(max(abs(i * n2 - j * n1)) AS DOUBLE)
             / (CAST(max(n1) AS DOUBLE) * max(n2)) AS ks_d,
           CAST(max(abs(i * n2 - j * n1)) AS DOUBLE)
             / (CAST(max(n1) AS DOUBLE) * max(n2))
             > 1.358 * sqrt(CAST(max(n1) + max(n2) AS DOUBLE)
                            / (CAST(max(n1) AS DOUBLE) * max(n2)))
             AS reject_95
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def q154_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test per event type (weekday vs
    weekend value distributions — q152's nonparametric sibling): the KS
    statistic is computed ENTIRELY in integers — D = max|i·n2 − j·n1| over
    the merged distinct-value ECDF steps, divided once at the end — so the
    supremum needs no float ECDF at all. One distinct-value agg, one
    ordered window per group, one max; the asymptotic 95% rejection bound
    is the only sqrt."""
    ev = _t(spark, sf_dir, "events")
    we = F.when(F.dayofweek(F.col("ts")).isin(1, 7), 1).otherwise(0)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    c = (
        ev.select("event_type", we.alias("we"), cents.alias("cents"))
        .groupBy("event_type", "cents")
        .agg(
            F.sum(1 - F.col("we")).alias("n1c"),
            F.sum("we").alias("n2c"),
        )
    )
    wrun = (
        W.partitionBy("event_type").orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("event_type")
    r = c.select(
        "event_type",
        F.sum("n1c").over(wrun).alias("i"),
        F.sum("n2c").over(wrun).alias("j"),
        F.sum("n1c").over(wall).alias("n1"),
        F.sum("n2c").over(wall).alias("n2"),
    )
    agg = r.groupBy("event_type").agg(
        F.max("n1").alias("n_weekday"),
        F.max("n2").alias("n_weekend"),
        F.max(F.abs(F.col("i") * F.col("n2") - F.col("j") * F.col("n1"))).alias("dnum"),
    )
    n1d = F.col("n_weekday").cast("double")
    n2d = F.col("n_weekend").cast("double")
    ks = F.col("dnum").cast("double") / (n1d * n2d)
    crit = 1.358 * F.sqrt((F.col("n_weekday") + F.col("n_weekend")).cast("double") / (n1d * n2d))
    return agg.select(
        "event_type", "n_weekday", "n_weekend",
        ks.alias("ks_d"), (ks > crit).alias("reject_95"),
    ).orderBy("event_type")


@register(
    "q155_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s
      FROM hourly GROUP BY event_type
    ),
    pref AS (
      SELECT h.event_type, h.h, st.n,
             CAST(sum(st.n * h.y - st.s) OVER w AS BIGINT) AS p
      FROM hourly h JOIN stats st USING (event_type)
      WINDOW w AS (PARTITION BY h.event_type ORDER BY h.h
                   ROWS UNBOUNDED PRECEDING)
    ),
    cs AS (
      SELECT event_type, h, n,
             p - least(0, min(p) OVER w) AS cpos,
             greatest(0, max(p) OVER w) - p AS cneg
      FROM pref
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS UNBOUNDED PRECEDING)
    ),
    pos AS (
      SELECT event_type, n, cpos, h,
             row_number() OVER (PARTITION BY event_type
               ORDER BY cpos DESC, h) AS rn
      FROM cs
    ),
    neg AS (
      SELECT event_type, cneg, h,
             row_number() OVER (PARTITION BY event_type
               ORDER BY cneg DESC, h) AS rn
      FROM cs
    )
    SELECT p.event_type, CAST(p.n AS BIGINT) AS n_hours,
           CAST(p.cpos AS BIGINT) AS max_up_scaled, p.h AS up_hour,
           CAST(g.cneg AS BIGINT) AS max_down_scaled, g.h AS down_hour
    FROM pos p JOIN neg g ON g.event_type = p.event_type AND g.rn = 1
    WHERE p.rn = 1
    ORDER BY p.event_type
    """,
)
def q155_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over each event type's hourly revenue: the
    one-sided CUSUM with reset — usually written as the sequential
    recurrence max(0, C_{t−1}+x_t−μ) that no window function expresses —
    equals P_t − min_{s≤t} P_s over the prefix sums, so it IS two windows.
    Deviations are held as the INTEGER n·y_t − Σy (n× the mean-centered
    value — no division anywhere), and the reported maxima locate the
    largest sustained upward and downward shifts with deterministic
    first-hour tie-breaks. Everything is integer until the output."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("y"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    wrun = (
        W.partitionBy("event_type").orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pref = (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "event_type", "h", "n",
            F.sum(F.col("n") * F.col("y") - F.col("s")).over(wrun).alias("p"),
        )
    )
    # the prefix min/max must include the empty prefix P_0 = 0 (the
    # recurrence's reset floor) — least/greatest(0, ·) supplies it
    cs = pref.select(
        "event_type", "h", "n",
        (F.col("p") - F.least(F.lit(0), F.min("p").over(wrun))).alias("cpos"),
        (F.greatest(F.lit(0), F.max("p").over(wrun)) - F.col("p")).alias("cneg"),
        # hours-sized table read by both argmax branches — pin it so the
        # hourly agg + prefix windows run once, not per branch
    ).localCheckpoint(eager=False)
    wpos = W.partitionBy("event_type").orderBy(F.col("cpos").desc(), "h")
    wneg = W.partitionBy("event_type").orderBy(F.col("cneg").desc(), "h")
    pos = (
        cs.withColumn("rn", F.row_number().over(wpos))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            F.col("cpos").alias("max_up_scaled"),
            F.col("h").alias("up_hour"),
        )
    )
    neg = (
        cs.withColumn("rn", F.row_number().over(wneg))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("cneg").alias("max_down_scaled"),
            F.col("h").alias("down_hour"),
        )
    )
    return pos.join(neg, "event_type").orderBy("event_type")


@register(
    "q156_bootstrap_ci",
    oracle="""
    WITH pts AS (
      SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    chunks AS (
      SELECT p.cents, c.c,
             md5(CAST(p.event_id AS VARCHAR) || '|' || CAST(c.c AS VARCHAR))
               AS h
      FROM pts p, (SELECT unnest(range(0, 8)) AS c) c
    ),
    expanded AS (
      SELECT cents, c * 8 + i.i AS b,
             CAST(('0x' || substr(h, 4 * i.i + 1, 4)) AS BIGINT)
               / 65536.0 AS u
      FROM chunks, (SELECT unnest(range(0, 8)) AS i) i
    ),
    weighted AS (
      SELECT b, cents,
             CASE WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428846 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238462 THEN 3
                  WHEN u < 0.9963401531726563 THEN 4
                  ELSE 5 END AS w
      FROM expanded
    ),
    reps AS (
      SELECT b, CAST(sum(w * cents) AS DOUBLE) / sum(w) AS m
      FROM weighted GROUP BY b
    ),
    ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM reps
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS DOUBLE) / count(*) AS mean_cents
      FROM pts
    )
    SELECT base.n, 64 AS n_replicas, round(base.mean_cents, 6) AS mean_cents,
           round((SELECT m FROM ranked WHERE rn = 2), 6) AS ci_lo_cents,
           round((SELECT m FROM ranked WHERE rn = 63), 6) AS ci_hi_cents
    FROM base
    """,
)
def q156_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap (Chamandy et al., Google 2012 —
    the streaming-friendly bootstrap): 64 resample replicas whose weights
    are Poisson(1) draws inverted from md5-derived uniforms — one md5 per
    (event, 8-replica chunk), each hash sliced into eight 16-bit draws —
    so both engines materialize byte-identical resamples: no RNG, no
    collect, resampling a distributed dataset without moving it. Replica
    means are integer-weighted sums with one division; the 95% CI is exact
    rank statistics (2nd and 63rd of 64 ordered means).

    Shape: the 8-replica chunk explode stays (one md5 per row), but each
    chunk's EIGHT replicas are aggregated as 16 unrolled integer sum
    columns in one groupBy(c) — the second (×8 draw) explode never
    exists, the events table is scanned once, and the rank statistics
    are an array_sort over the 64 collected replica means (replacing the
    rank window, its checkpoint, and the two crossJoins). 17 aggregate
    columns stays inside whole-stage codegen's field budget — a fully
    unrolled 130-column single aggregate was measured 2× SLOWER (6.9 s
    vs 3.2 s) because it falls out of codegen. Integer sums are
    order-free, so the replica means are bit-identical to the previous
    formulation."""
    ev = _t(spark, sf_dir, "events")
    # the md5 stage is CPU-bound; spread the narrow (id, cents) rows across
    # cores up front — the events parquet is a handful of input splits, and
    # AQE's small-bytes coalescing would otherwise keep the hash loop on one
    pts = spread(ev.select(
        "event_id", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents")
    ))
    # one md5 yields EIGHT 16-bit draws (4 hex chars each): 8x fewer hash
    # evaluations than md5-per-(event, replica) — the hash is the hot loop
    chunks = pts.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("c"),
        "event_id",
    ).select(
        "cents", "c",
        F.md5(
            F.concat_ws("|", F.col("event_id").cast("string"),
                        F.col("c").cast("string"))
        ).alias("h"),
    )

    def w_of(i: int):
        u = (
            F.conv(F.substring(F.col("h"), i * 4 + 1, 4), 16, 10).cast("long")
            / F.lit(65536.0)
        )
        return (
            F.when(u < 0.36787944117144233, 0)
            .when(u < 0.7357588823428846, 1)
            .when(u < 0.9196986029286058, 2)
            .when(u < 0.9810118431238462, 3)
            .when(u < 0.9963401531726563, 4)
            .otherwise(5)
        )

    rep_aggs = []
    for i in range(8):
        w = w_of(i)
        rep_aggs.append(F.sum(w).alias(f"sw{i}"))
        rep_aggs.append(F.sum(w * F.col("cents")).alias(f"swc{i}"))
    per_c = chunks.groupBy("c").agg(
        F.count(F.lit(1)).alias("nc"), F.sum("cents").alias("sc"), *rep_aggs
    )
    # every chunk group holds all N events, so any group's (nc, sc) is the
    # global (n, Σcents); replica b = c*8+i reshapes from the 8×8 grid
    reshaped = per_c.select(
        "nc",
        "sc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (
                            F.col(f"swc{i}").cast("double") / F.col(f"sw{i}")
                        ).alias("m"),
                        (F.col("c") * 8 + F.lit(i)).alias("b"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("r"),
    )
    sorted_ms = F.array_sort(F.collect_list(F.col("r")))
    row = reshaped.agg(
        F.max("nc").alias("n"),
        F.max("sc").alias("sc"),
        sorted_ms.alias("ms"),
    )
    return row.select(
        F.col("n"),
        F.lit(64).alias("n_replicas"),
        F.round(F.col("sc").cast("double") / F.col("n"), 6).alias("mean_cents"),
        F.round(F.element_at(F.col("ms"), 2)["m"], 6).alias("ci_lo_cents"),
        F.round(F.element_at(F.col("ms"), 63)["m"], 6).alias("ci_hi_cents"),
    )


@register(
    "q157_fd_discovery",
    oracle="""
    WITH cand AS (
      SELECT 'orders' AS tbl, 'o_custkey' AS lhs, 'o_orderstatus' AS rhs,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_lhs,
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
      FROM (SELECT o_custkey, count(DISTINCT o_orderstatus) AS d
            FROM orders GROUP BY o_custkey) v
      UNION ALL
      SELECT 'lineitem', 'l_partkey', 'l_suppkey',
             CAST(count(DISTINCT l_partkey) AS BIGINT),
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS d
            FROM lineitem GROUP BY l_partkey) v
      UNION ALL
      SELECT 'lineitem', 'l_orderkey', 'l_returnflag',
             CAST(count(DISTINCT l_orderkey) AS BIGINT),
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS d
            FROM lineitem GROUP BY l_orderkey) v
      UNION ALL
      SELECT 'customer', 'c_nationkey', 'c_mktsegment',
             CAST(count(DISTINCT c_nationkey) AS BIGINT),
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS d
            FROM customer GROUP BY c_nationkey) v
    )
    SELECT tbl, lhs, rhs, n_lhs, n_violating, n_violating = 0 AS holds
    FROM cand ORDER BY tbl, lhs, rhs
    """,
)
def q157_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs — the
    schema-profiling step a migration tool runs to find undeclared keys
    and denormalization (the reference trusts declared constraints only;
    this measures the data): for each candidate lhs→rhs, count lhs groups
    carrying >1 distinct rhs. Per candidate: one two-level hash agg
    (distinct per group, then a violation count) — never a self-join.
    The verdict column makes it a data-quality assertion table."""
    cands = [
        ("orders", "o_custkey", "o_orderstatus"),
        ("lineitem", "l_partkey", "l_suppkey"),
        ("lineitem", "l_orderkey", "l_returnflag"),
        ("customer", "c_nationkey", "c_mktsegment"),
    ]
    outs = []
    for tbl, lhs, rhs in cands:
        per = (
            _t(spark, sf_dir, tbl)
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("d"))
        )
        outs.append(
            per.agg(
                F.lit(tbl).alias("tbl"),
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.count(F.lit(1)).alias("n_lhs"),
                F.sum(F.when(F.col("d") > 1, 1).otherwise(0)).alias("n_violating"),
            )
        )
    merged = outs[0]
    for o in outs[1:]:
        merged = merged.unionByName(o)
    return merged.select(
        "tbl", "lhs", "rhs", "n_lhs", "n_violating",
        (F.col("n_violating") == 0).alias("holds"),
    ).orderBy("tbl", "lhs", "rhs")


@register(
    "q158_benford_audit",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (
      SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
    SELECT c.d, c.n,
           CAST(c.n AS DOUBLE) / t.total AS observed,
           log10(1.0 + 1.0 / c.d) AS expected,
           (CAST(c.n AS DOUBLE) / t.total - log10(1.0 + 1.0 / c.d))
             * (CAST(c.n AS DOUBLE) / t.total - log10(1.0 + 1.0 / c.d))
             * t.total / log10(1.0 + 1.0 / c.d) AS chi2_term
    FROM c, t ORDER BY c.d
    """,
)
def q158_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law forensic audit of the price column: observed
    first-significant-digit frequencies vs log10(1+1/d), with each digit's
    chi-squared contribution emitted PER ROW (never summed across rows —
    the float-sum-order discipline; the auditor sums the 9 values or eyes
    the worst digit). First digit extraction is integer/string only; every
    float is a fixed per-row chain. One hash agg on a 9-value key."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    c = o.select(d.alias("d")).groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    obs = F.col("n").cast("double") / F.col("total")
    exp = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "d", "n",
            obs.alias("observed"),
            exp.alias("expected"),
            ((obs - exp) * (obs - exp) * F.col("total") / exp).alias("chi2_term"),
        )
        .orderBy("d")
    )


def _q159_oracle() -> str:
    p, w = 10, 50
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    scale_c = alpha * m * m * float(1 << (w + 1))
    est = (
        "round(CASE WHEN {e} <= %r AND {z} > 0 "
        "THEN %r * ln(%r / CAST({z} AS DOUBLE)) ELSE {e} END, 4)"
        % (2.5 * m, float(m), float(m))
    )
    return f"""
    WITH hashed AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events WHERE event_type IN ('click', 'view')
    ),
    rho AS (
      SELECT event_type, h >> {w} AS idx,
             CASE WHEN (h & {(1 << w) - 1}) = 0 THEN {w + 1}
                  ELSE {w} - length(bin(h & {(1 << w) - 1})) + 1 END AS r
      FROM hashed
    ),
    regs AS (
      SELECT event_type, idx, max(r) AS M FROM rho GROUP BY event_type, idx
    ),
    per_type AS (
      SELECT event_type,
             sum(1::BIGINT << ({w + 1} - M)) AS s_seen, count(*) AS n_regs
      FROM regs GROUP BY event_type
    ),
    union_regs AS (SELECT idx, max(M) AS M FROM regs GROUP BY idx),
    union_agg AS (
      SELECT sum(1::BIGINT << ({w + 1} - M)) AS s_seen, count(*) AS n_regs
      FROM union_regs
    ),
    ests AS (
      SELECT
        (SELECT {est.format(e=f"{scale_c!r} / CAST(s_seen + ({m} - n_regs) * (1::BIGINT << {w + 1}) AS DOUBLE)", z=f"{m} - n_regs")}
         FROM per_type WHERE event_type = 'click') AS est_click,
        (SELECT {est.format(e=f"{scale_c!r} / CAST(s_seen + ({m} - n_regs) * (1::BIGINT << {w + 1}) AS DOUBLE)", z=f"{m} - n_regs")}
         FROM per_type WHERE event_type = 'view') AS est_view,
        (SELECT {est.format(e=f"{scale_c!r} / CAST(s_seen + ({m} - n_regs) * (1::BIGINT << {w + 1}) AS DOUBLE)", z=f"{m} - n_regs")}
         FROM union_agg) AS est_union
    )
    SELECT est_click, est_view, est_union,
           round(est_click + est_view - est_union, 4) AS est_intersection
    FROM ests
    """


@register("q159_hll_set_algebra", oracle=_q159_oracle())
def q159_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra — the mergeability property that makes HLL the
    100 TB audience-overlap tool: clicker and viewer user sets are
    sketched ONCE into portable registers (operators/sketches.py), the
    union sketch is a per-register max (never a re-scan), and the
    intersection estimate is inclusion-exclusion over the three
    estimates. Every value is deterministic (md5-derived registers,
    integer harmonic sums, round(4)), so even the approximate algebra is
    exact-oracle-gated. Register tables are 2^p rows — the shuffles are
    sketch-sized, not data-sized."""
    p, w = 10, 50
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    scale_c = alpha * m * m * float(1 << (w + 1))

    from .operators.sketches import md5_hash60

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    h = md5_hash60(F.col("user_id"))
    idx = F.shiftright(h, w)
    rest = h.bitwiseAND(F.lit((1 << w) - 1))
    rho = F.when(rest == 0, F.lit(w + 1)).otherwise(
        F.lit(w) - F.length(F.conv(rest, 10, 2)) + 1
    )
    regs = (
        ev.select("event_type", idx.alias("idx"), rho.alias("r"))
        .groupBy("event_type", "idx")
        .agg(F.max("r").alias("M"))
        .localCheckpoint(eager=False)
    )

    def estimate(regdf: DataFrame, out: str) -> DataFrame:
        agg = regdf.agg(
            F.sum(F.expr(f"shiftleft(1L, {w + 1} - M)")).alias("s_seen"),
            F.count(F.lit(1)).alias("n_regs"),
        )
        zeros = F.lit(m) - F.col("n_regs")
        e_raw = F.lit(scale_c) / (
            F.col("s_seen") + zeros * F.lit(1 << (w + 1)).cast("long")
        ).cast("double")
        est = F.when(
            (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
        ).otherwise(e_raw)
        return agg.select(F.round(est, 4).alias(out))

    clicks = estimate(regs.filter(F.col("event_type") == "click"), "est_click")
    views = estimate(regs.filter(F.col("event_type") == "view"), "est_view")
    union = estimate(
        regs.groupBy("idx").agg(F.max("M").alias("M")), "est_union"
    )
    return (
        clicks.crossJoin(F.broadcast(views))
        .crossJoin(F.broadcast(union))
        .select(
            "est_click", "est_view", "est_union",
            F.round(
                F.col("est_click") + F.col("est_view") - F.col("est_union"), 4
            ).alias("est_intersection"),
        )
    )


@register(
    "q160_subset_duplicates",
    oracle="""
    WITH shingled AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(2, len(string_split_regex(trim(text),'\\s+')) - 1)),
               i -> array_to_string(string_split_regex(trim(text),'\\s+')[i:i+2], ' ')
             )) AS shingles
      FROM documents WHERE trim(text) <> ''
    ),
    post AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM post GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_sub, b.doc_id AS id_super,
             CAST(count(*) AS BIGINT) AS n_inter
      FROM post a JOIN post b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_sub, i.id_super, i.n_inter,
           sa.n AS n_sub, sb.n AS n_super
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_sub
    JOIN sizes sb ON sb.doc_id = i.id_super
    WHERE i.n_inter = sa.n AND sb.n > sa.n
    ORDER BY id_sub, id_super
    """,
)
def q160_subset_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-duplicate (quote/excerpt) detection: documents whose entire
    shingle set is contained in a strictly larger document — containment
    C(a→b)=1, the t=1 limit of the prefix-filter family where the prefix
    collapses to each doc's SINGLE globally-rarest shingle (a subset pair
    MUST share it, and rarest shingles have the shortest posting lists, so
    the candidate join touches almost nothing). Verification is one
    array_except emptiness test per candidate on the per-doc shingle
    arrays. The oracle is the naive full posting self-join."""
    docs = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    from .operators.dedup import shingle_postings

    post = shingle_postings(docs, "doc_id", "text", 3)
    dfreq = post.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    doc_sets = (
        post.join(F.broadcast(dfreq), "shingle")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("ranked"))
        .select(
            "doc_id",
            F.transform("ranked", lambda st: st["shingle"]).alias("sh"),
            F.size("ranked").alias("n_sh"),
            F.col("ranked")[0]["shingle"].alias("rarest"),
        )
        .localCheckpoint(eager=False)
    )
    # candidates: docs sharing the subset side's single rarest shingle,
    # superset strictly larger (subset-of-equal-size = exact dup, q17's job)
    cand = (
        doc_sets.select(
            F.col("doc_id").alias("id_sub"),
            F.col("rarest").alias("shingle"),
            F.col("sh").alias("sh_sub"),
            F.col("n_sh").alias("n_sub"),
        )
        .join(
            post.select(F.col("doc_id").alias("id_super"), "shingle"), "shingle"
        )
        .filter(F.col("id_sub") != F.col("id_super"))
        .join(
            doc_sets.select(
                F.col("doc_id").alias("id_super"),
                F.col("sh").alias("sh_super"),
                F.col("n_sh").alias("n_super"),
            ),
            "id_super",
        )
        .filter(F.col("n_super") > F.col("n_sub"))
    )
    return (
        cand.filter(F.size(F.array_except("sh_sub", "sh_super")) == 0)
        .select(
            "id_sub", "id_super",
            F.col("n_sub").alias("n_inter"),
            "n_sub", "n_super",
        )
        .repartition(8)
        .orderBy("id_sub", "id_super")
    )


@register(
    "q161_mad_robust_zscore",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    med AS (
      SELECT flag,
             min(CASE WHEN rn >= ceil(0.5 * n) THEN cents END) AS med
      FROM pts GROUP BY flag
    ),
    dev AS (
      SELECT p.flag, p.cents, abs(p.cents - m.med) AS ad, m.med,
             row_number() OVER (PARTITION BY p.flag
               ORDER BY abs(p.cents - m.med), p.cents, p.rn) AS rn2,
             count(*) OVER (PARTITION BY p.flag) AS n
      FROM pts p JOIN med m USING (flag)
    ),
    mad AS (
      SELECT flag, max(med) AS med,
             min(CASE WHEN rn2 >= ceil(0.5 * n) THEN ad END) AS mad
      FROM dev GROUP BY flag
    )
    SELECT d.flag, m.med AS med_cents, m.mad AS mad_cents,
           CAST(sum(CASE WHEN abs(d.cents - m.med)
                         > 3.5 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           min(d.cents) AS min_cents, max(d.cents) AS max_cents
    FROM dev d JOIN mad m USING (flag)
    GROUP BY d.flag, m.med, m.mad
    ORDER BY d.flag
    """,
)
def q161_mad_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier scoring via the median absolute deviation — the
    estimator that survives the 50% contamination the mean/stddev z-score
    (and even q118's quartile fences) cannot: exact rank-based median,
    exact rank-based MAD over |x − med|, and the 3.5·1.4826·MAD modified
    z-score threshold applied as an integer-vs-float comparison (the only
    floats are two constants). Two rank windows + a broadcast medians
    join — the same shape as q145's winsorization with one more rank
    level."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    wr = W.partitionBy("flag").orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    pts = li.select(
        F.col("l_returnflag").alias("flag"), cents.alias("cents"),
        "l_extendedprice", "l_orderkey", "l_linenumber",
    ).select(
        "flag", "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("flag")).alias("n"),
    )
    med = pts.groupBy("flag").agg(
        F.min(F.when(F.col("rn") >= F.ceil(0.5 * F.col("n")), F.col("cents"))).alias("med")
    )
    ad = F.abs(F.col("cents") - F.col("med"))
    wd = W.partitionBy("flag").orderBy(ad, "cents", "rn")
    dev = pts.join(F.broadcast(med), "flag").select(
        "flag", "cents", "med", ad.alias("ad"),
        F.row_number().over(wd).alias("rn2"),
        F.count(F.lit(1)).over(W.partitionBy("flag")).alias("n"),
    )
    mad = dev.groupBy("flag").agg(
        F.max("med").alias("med"),
        F.min(F.when(F.col("rn2") >= F.ceil(0.5 * F.col("n")), F.col("ad"))).alias("mad"),
    )
    return (
        dev.select("flag", "cents")
        .join(F.broadcast(mad), "flag")
        .groupBy("flag", F.col("med").alias("med_cents"), F.col("mad").alias("mad_cents"))
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("cents") - F.col("med"))
                    > 3.5 * 1.4826 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("flag")
    )


@register(
    "q162_join_cardinality_estimate",
    oracle="""
    WITH lo AS (
      SELECT CAST(sum(a.c * b.c) AS BIGINT) AS predicted
      FROM (SELECT l_orderkey k, count(*) c FROM lineitem GROUP BY 1) a
      JOIN (SELECT o_orderkey k, count(*) c FROM orders GROUP BY 1) b USING (k)
    ),
    lp AS (
      SELECT CAST(sum(a.c * b.c) AS BIGINT) AS predicted
      FROM (SELECT l_partkey k, count(*) c FROM lineitem GROUP BY 1) a
      JOIN (SELECT p_partkey k, count(*) c FROM part GROUP BY 1) b USING (k)
    ),
    oc AS (
      SELECT CAST(sum(a.c * b.c) AS BIGINT) AS predicted
      FROM (SELECT o_custkey k, count(*) c FROM orders GROUP BY 1) a
      JOIN (SELECT c_custkey k, count(*) c FROM customer GROUP BY 1) b USING (k)
    )
    SELECT 'lineitem*orders' AS join_name, predicted FROM lo
    UNION ALL SELECT 'lineitem*part', predicted FROM lp
    UNION ALL SELECT 'orders*customer', predicted FROM oc
    ORDER BY join_name
    """,
)
def q162_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-output cardinality computed WITHOUT running the join — the
    planner diagnostic that pairs with q137's skew Gini: |A⋈B| on an
    equi-key is exactly Σ_k cntA(k)·cntB(k), so two key-count aggregates
    and a count-table join (keys-sized, not rows-sized) price a join
    before anyone pays for it. The number this emits is exact, not an
    estimate — the point is WHERE it is computed (histograms), not sampling
    error. At 100 TB the count tables are the only shuffles."""
    def predict(a: DataFrame, ak: str, b: DataFrame, bk: str, name: str) -> DataFrame:
        ca = a.groupBy(F.col(ak).alias("k")).agg(F.count(F.lit(1)).alias("ca"))
        cb = b.groupBy(F.col(bk).alias("k")).agg(F.count(F.lit(1)).alias("cb"))
        return ca.join(cb, "k").agg(
            F.lit(name).alias("join_name"),
            F.sum(F.col("ca") * F.col("cb")).alias("predicted"),
        )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    c = _t(spark, sf_dir, "customer")
    out = (
        predict(li, "l_orderkey", o, "o_orderkey", "lineitem*orders")
        .unionByName(predict(li, "l_partkey", p, "p_partkey", "lineitem*part"))
        .unionByName(predict(o, "o_custkey", c, "c_custkey", "orders*customer"))
    )
    return out.orderBy("join_name")


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of a lexical and a vector ranking
# ---------------------------------------------------------------------------

#: RRF discount constant (Cormack et al., SIGIR'09 — the standard k=60)
_RRF_K = 60
#: candidate-list depth per retrieval system (bounded: the 100 TB contract)
_RRF_DEPTH = 200


@register(
    "q163_rrf_hybrid_fusion",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    lex AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN tok IN ('join', 'hash', 'scan')
                           THEN 1 ELSE 0 END) AS BIGINT) AS score
      FROM toks GROUP BY doc_id
    ),
    lexr AS (
      SELECT doc_id AS id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
      FROM lex ORDER BY score DESC, doc_id LIMIT {_RRF_DEPTH}
    ),
    {_VFX_SQL},
    probe AS (SELECT pos, v_fx AS p_fx FROM vfx WHERE vec_id = 0),
    dots AS (
      SELECT v.vec_id,
             CAST(sum((v.v_fx - {EMB_SCALE}) * (p.p_fx - {EMB_SCALE}))
                  AS BIGINT) AS dot_fx
      FROM vfx v JOIN probe p USING (pos) GROUP BY v.vec_id
    ),
    vecr AS (
      SELECT vec_id AS id,
             row_number() OVER (ORDER BY dot_fx DESC, vec_id) AS vec_rank
      FROM dots ORDER BY dot_fx DESC, vec_id LIMIT {_RRF_DEPTH}
    ),
    fused AS (
      SELECT COALESCE(l.id, v.id) AS id, l.lex_rank, v.vec_rank,
             round(COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
                   + COALESCE(1.0 / ({_RRF_K} + v.vec_rank), 0.0), 9)
               AS rrf_score
      FROM lexr l FULL OUTER JOIN vecr v ON l.id = v.id
    )
    SELECT id, lex_rank, vec_rank, rrf_score
    FROM fused ORDER BY rrf_score DESC, id LIMIT 20
    """,
)
def q163_rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search via reciprocal-rank fusion: a lexical ranking (probe-
    term frequency over documents) and a vector ranking (fixed-point dot
    product against the vec_id-0 probe embedding) are each cut to their
    top-{depth} candidates, then fused by RRF = Σ 1/(60 + rank).

    Determinism: both rankings order on exact integers (term counts;
    centered BIGINT fixed-point dots) with id tie-breaks, so ranks are
    engine-independent; the fused score is ONE two-term float chain over
    those integer ranks, round(9).

    Scale shape: each system's candidate list is produced by
    TakeOrderedAndProject (top-k, no global sort) and only the k-sized
    lists ever see a window or the fusion join — the corpus is touched by
    exactly two aggregations (token agg, dot agg), never by rank state.
    This is the composition a retrieval stack runs per query batch; the
    rankers themselves are q147 (BM25) and q21 (ANN) — fusion is the new
    operator."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tok(F.col("text"))).alias("tok"))
    lex = toks.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("tok").isin("join", "hash", "scan"), 1).otherwise(0)
        ).cast("long").alias("score")
    )
    lex_top = lex.orderBy(F.col("score").desc(), "doc_id").limit(_RRF_DEPTH)
    w_lex = W.orderBy(F.col("score").desc(), "doc_id")
    lexr = lex_top.select(
        F.col("doc_id").alias("id"),
        F.row_number().over(w_lex).cast("long").alias("lex_rank"),
    )

    vfx = _vfx(spark, sf_dir)
    probe = vfx.filter(F.col("vec_id") == 0).select(
        "pos", F.col("v_fx").alias("p_fx")
    )
    dots = (
        vfx.join(F.broadcast(probe), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("v_fx") - EMB_SCALE) * (F.col("p_fx") - EMB_SCALE)
            ).cast("long").alias("dot_fx")
        )
    )
    vec_top = dots.orderBy(F.col("dot_fx").desc(), "vec_id").limit(_RRF_DEPTH)
    w_vec = W.orderBy(F.col("dot_fx").desc(), "vec_id")
    vecr = vec_top.select(
        F.col("vec_id").alias("id"),
        F.row_number().over(w_vec).cast("long").alias("vec_rank"),
    )

    fused = lexr.join(vecr, "id", "full_outer").select(
        "id",
        "lex_rank",
        "vec_rank",
        F.round(
            F.coalesce(F.lit(1.0) / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("vec_rank")), F.lit(0.0)),
            9,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), "id").limit(20)


# ---------------------------------------------------------------------------
# Declarative data-quality expectations suite (Deequ-style, one pass)
# ---------------------------------------------------------------------------


@register(
    "q164_expectations_audit",
    oracle="""
    WITH o AS (
      SELECT
        CASE WHEN count(*) > 0 THEN 0 ELSE 1 END AS orders_nonempty,
        CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS null_custkey,
        CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_orderkey,
        CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                      THEN 1 ELSE 0 END) AS BIGINT) AS status_domain,
        CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS nonpositive_total,
        CAST(sum(CASE WHEN o_orderdate < DATE '1992-01-01'
                        OR o_orderdate > DATE '2005-12-31'
                      THEN 1 ELSE 0 END) AS BIGINT) AS date_range
      FROM orders
    ),
    fk AS (
      SELECT CAST(count(*) AS BIGINT) AS orphan_lineitems
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey IS NULL
    ),
    rules AS (
      SELECT 'orders_nonempty' AS rule, CAST(orders_nonempty AS BIGINT)
        AS violations FROM o
      UNION ALL SELECT 'null_custkey', null_custkey FROM o
      UNION ALL SELECT 'dup_orderkey', dup_orderkey FROM o
      UNION ALL SELECT 'status_domain', status_domain FROM o
      UNION ALL SELECT 'nonpositive_total', nonpositive_total FROM o
      UNION ALL SELECT 'date_range', date_range FROM o
      UNION ALL SELECT 'orphan_lineitems', orphan_lineitems FROM fk
    )
    SELECT rule, violations, violations = 0 AS passed
    FROM rules ORDER BY rule
    """,
)
def q164_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the Deequ/Great-Expectations
    shape): a rule catalog — non-empty, completeness, key uniqueness,
    domain membership, value bounds, date range, referential integrity —
    evaluated against orders/lineitem and emitted as one (rule,
    violations, passed) report.

    Shape: ALL six single-table rules ride ONE full-scan aggregate
    (conditional sums share the scan and the partial-agg combine — adding
    a rule adds a column, not a pass), unpivoted to rows by a stack();
    the FK rule is the q14-style anti-join count. At 100 TB the audit
    costs one scan of each table regardless of rule count — the property
    that makes an expectations suite runnable per-ingest-batch.
    Extends the reference's per-constraint validation queries
    (sqlserver2pgsql.pl:2633-2654) to a batched audit."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n1 = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    agg = o.agg(
        F.when(F.count(F.lit(1)) > 0, F.lit(0)).otherwise(1)
        .cast("long").alias("orders_nonempty"),
        n1(F.col("o_custkey").isNull()).alias("null_custkey"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long").alias("dup_orderkey"),
        n1(~F.col("o_orderstatus").isin("O", "F", "P")).alias("status_domain"),
        n1(F.col("o_totalprice") <= 0).alias("nonpositive_total"),
        n1(
            (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
            | (F.col("o_orderdate") > F.lit("2005-12-31").cast("date"))
        ).alias("date_range"),
    )
    single = agg.select(
        F.expr(
            "stack(6, "
            "'orders_nonempty', orders_nonempty, "
            "'null_custkey', null_custkey, "
            "'dup_orderkey', dup_orderkey, "
            "'status_domain', status_domain, "
            "'nonpositive_total', nonpositive_total, "
            "'date_range', date_range) AS (rule, violations)"
        )
    )
    orphans = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orphan_lineitems").alias("rule"), "violations")
    )
    return (
        single.unionByName(orphans)
        .select("rule", "violations", (F.col("violations") == 0).alias("passed"))
        .orderBy("rule")
    )


# ---------------------------------------------------------------------------
# Deterministic training-epoch shard plan (data-loader sharding)
# ---------------------------------------------------------------------------

from .operators.curation import hash_bucket  # noqa: E402

_N_SHARDS = 16


@register(
    "q165_epoch_shard_plan",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_N_SHARDS} AS shard,
             md5(CAST(doc_id AS VARCHAR)) AS ord_key
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           arg_min(doc_id, ord_key) AS first_doc,
           arg_max(doc_id, ord_key) AS last_doc
    FROM keyed GROUP BY shard ORDER BY shard
    """,
)
def q165_epoch_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-epoch shard plan: every document is assigned a shard and a
    pseudo-random within-shard order from the md5 of its id — the
    deterministic global shuffle an LLM data loader needs (same document →
    same shard and position on ANY cluster size, any partition layout, no
    RNG state). Emits the per-shard manifest (sizes + first/last doc under
    the epoch order) a shard-writer would act on.

    Shape: shard assignment and order keys are pure column expressions
    (no shuffle), the manifest is ONE hash aggregate; min_by/max_by pick
    the order-extremes without any window or sort. A full epoch
    materialization would be write_partitioned(shard) with
    sortWithinPartitions(ord_key) — metadata here, no data movement."""
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "n_chars",
        hash_bucket(F.col("doc_id"), _N_SHARDS).alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
    )
    return (
        keyed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min_by("doc_id", "ord_key").alias("first_doc"),
            F.max_by("doc_id", "ord_key").alias("last_doc"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Pairwise cosine similarity between label centroids (corpus geometry)
# ---------------------------------------------------------------------------


@register(
    "q166_label_centroid_similarity",
    oracle=f"""
    WITH {_VFX_SQL},
    cent AS (
      SELECT label, pos,
             CAST(sum(v_fx) // count(*) AS BIGINT) - {EMB_SCALE} AS c_fx
      FROM vfx GROUP BY label, pos
    ),
    nrm AS (
      SELECT label, CAST(sum(c_fx * c_fx) AS BIGINT) AS n2 FROM cent GROUP BY label
    ),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(sum(a.c_fx * b.c_fx) AS BIGINT) AS dot_fx
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT d.label_a, d.label_b, d.dot_fx,
           round(CAST(d.dot_fx AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                 9) AS cosine
    FROM dots d
    JOIN nrm na ON na.label = d.label_a
    JOIN nrm nb ON nb.label = d.label_b
    ORDER BY label_a, label_b
    """,
)
def q166_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-geometry diagnostic: the k×k cosine-similarity matrix between
    per-label mean embeddings (upper triangle) — how separable the label
    clusters are, which sources/classes overlap semantically.

    Determinism: centroids are floor-mean BIGINT fixed-point vectors
    (q102/q103's contract — order-free integer sums, then one floor
    division), centered by subtracting the +1.0 offset so the dot is the
    true centered inner product; dot and squared norms are exact BIGINT;
    the cosine is ONE float chain (÷, sqrt·sqrt) over integers, round(9)
    (sqrt is IEEE-exact, so both engines agree bit-for-bit before the
    rounding). Shape: one posexplode agg over the corpus (the only
    full-data pass), then all pair math happens on the k·dim centroid
    table — k²·dim work that never touches the corpus again."""
    vfx = _vfx(spark, sf_dir)
    cent = (
        vfx.groupBy("label", "pos")
        .agg(
            (F.expr("sum(v_fx) div count(1)").cast("long") - EMB_SCALE).alias("c_fx")
        )
        .localCheckpoint(eager=False)
    )
    nrm = cent.groupBy("label").agg(
        F.sum(F.col("c_fx") * F.col("c_fx")).cast("long").alias("n2")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("c_fx").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("c_fx").alias("cb")
    )
    dots = (
        a.join(b, ["pos"])
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot_fx"))
    )
    na = nrm.select(F.col("label").alias("label_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("label").alias("label_b"), F.col("n2").alias("nb2"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            "dot_fx",
            F.round(
                F.col("dot_fx").cast("double")
                / (F.sqrt(F.col("na2").cast("double"))
                   * F.sqrt(F.col("nb2").cast("double"))),
                9,
            ).alias("cosine"),
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/validation split (cluster-aware holdout)
# ---------------------------------------------------------------------------


@register(
    "q167_leakage_safe_split",
    # q51's recursive-CTE connected components assign every near-dup doc a
    # cluster; singletons cluster as themselves; the split hashes the
    # CLUSTER id, so a near-dup pair can never straddle train/val
    oracle=_JACCARD_ORACLE_BODY.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
    + """
    , pairs AS (SELECT id1, id2 FROM scored WHERE jaccard >= 0.6),
    edges AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION ALL SELECT id2 AS a, id1 AS b FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    cc AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
    assigned AS (
      SELECT c.doc_id, length(c.text) AS n_chars,
             COALESCE(cc.cluster_id, c.doc_id) AS cluster_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(
                    COALESCE(cc.cluster_id, c.doc_id) AS VARCHAR)), 1, 15))
                  AS BIGINT) % 10 = 0
                  THEN 'val' ELSE 'train' END AS split
      FROM corpus c LEFT JOIN cc ON cc.node = c.doc_id
    ),
    leak AS (
      SELECT CAST(count(*) AS BIGINT) AS cross_split_pairs
      FROM pairs p
      JOIN assigned a1 ON a1.doc_id = p.id1
      JOIN assigned a2 ON a2.doc_id = p.id2
      WHERE a1.split <> a2.split
    )
    SELECT s.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT s.cluster_id) AS BIGINT) AS n_clusters,
           CAST(sum(s.n_chars) AS BIGINT) AS total_chars,
           any_value(l.cross_split_pairs) AS cross_split_pairs
    FROM assigned s CROSS JOIN leak l
    GROUP BY s.split ORDER BY s.split
    """,
)
def q167_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/validation split: near-dup CLUSTERS (connected
    components over the exact-Jaccard pair graph, q51's engine) are the
    split unit — the whole cluster goes to val iff hash(cluster_id) lands
    in the 10% bucket — so no near-duplicate of a validation document can
    sit in train (the contamination that inflates eval scores). Emits the
    per-split manifest plus the audit that PROVES it: cross_split_pairs,
    the count of near-dup pairs straddling the cut, is 0 by construction
    and is recomputed from the pair list, not assumed.

    Shape: pair-gen + CC as in q51 (bounded grouped pair generator,
    edge-sized iterations); cluster→split is a pure hash column; the audit
    join touches only the pair list. Singleton docs skip the graph
    entirely (left join, cluster = own id)."""
    from .operators.graph import connected_components

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.6
    ).select("id1", "id2").localCheckpoint(eager=False)
    cc = connected_components(pairs, "id1", "id2")
    assigned = (
        corpus.select("doc_id", F.length("text").cast("long").alias("n_chars"))
        .join(cc.select(F.col("node").alias("doc_id"), "cluster_id"), "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        .select(
            "doc_id",
            "n_chars",
            "cluster_id",
            F.when(hash_bucket(F.col("cluster_id"), 10) == 0, F.lit("val"))
            .otherwise(F.lit("train")).alias("split"),
        )
        .localCheckpoint(eager=False)
    )
    sp = assigned.select("doc_id", "split")
    leak = (
        pairs.join(sp.withColumnsRenamed({"doc_id": "id1", "split": "s1"}), "id1")
        .join(sp.withColumnsRenamed({"doc_id": "id2", "split": "s2"}), "id2")
        .filter(F.col("s1") != F.col("s2"))
        .agg(F.count(F.lit(1)).alias("cross_split_pairs"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("n_chars").alias("total_chars"),
        )
        .crossJoin(F.broadcast(leak))
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Character-bigram Shannon entropy (gibberish / low-diversity signal)
# ---------------------------------------------------------------------------


@register(
    "q168_char_entropy",
    oracle=r"""
    WITH grams AS (
      SELECT doc_id, substr(text, i, 2) AS bg
      FROM documents, LATERAL (
        SELECT unnest(range(1, greatest(length(text), 1))) AS i
      ) g
    ),
    counts AS (
      SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS n
      FROM grams GROUP BY doc_id, bg
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(ln(CAST(sum(n) AS DOUBLE))
                 - CAST(sum(CAST(round(n * ln(CAST(n AS DOUBLE)), 9)
                                 AS DECIMAL(28, 15))) AS DOUBLE)
                   / CAST(sum(n) AS DOUBLE),
                 6) AS entropy
    FROM counts GROUP BY doc_id ORDER BY doc_id
    """,
)
def q168_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram Shannon entropy per document — the cheap gibberish
    / repetition / encoding-damage signal (H collapses on repeated or
    low-diversity text) that complements q24's ratio metrics and q47's
    token-level repetition.

    Determinism: H = ln(T) - (Σ n·ln n)/T over exact BIGINT counts; each
    n·ln(n) term is round(9)-pinned (libm ln differs in the last ulp
    between engines) then summed as DECIMAL(28,15) — order-free, so any
    partitioning gives the identical sum — and the remaining float chain
    is fixed-order, round(6).

    Shape: the whole computation is DOC-LOCAL — sort the doc's bigram
    array and fold run lengths in one pass, so the per-(doc, bigram)
    count table (the only corpus-growing shuffle of the explode + two
    hash aggs formulation) never exists; the only exchange left is the
    5000-row output sort. The decimal accumulator adds the identical
    round(9)-pinned terms the hash-agg version summed (decimal addition
    is exact, and per-doc Σ n·ln n is far below the 28,15 envelope), so
    the result is bit-identical."""
    d = _t(spark, sf_dir, "documents")
    # docs shorter than 2 chars have no bigram: the filter mirrors the
    # oracle's empty range(1, len) for len < 2 (Spark's sequence() would
    # otherwise run DESCENDING for len-1 < 1 and fabricate grams)
    # the corpus parquet is a handful of input splits; without a spread the
    # per-doc folds all land on one task (an explicit width is also exempt
    # from AQE's small-bytes coalescing, which would fold this CPU-bound
    # stage back to one partition)
    stats = (
        spread(d.filter(F.length("text") >= 2))
        .select(
            "doc_id",
            F.expr(
                "array_sort(transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2)))"
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.size("s").alias("t"),
            # fold positions 2..T over the sorted array: extend the current
            # run on equality, else close it (add the round(9)-pinned
            # n·ln n term, bump the distinct count); the finish lambda
            # closes the last run. State run/nd start at 1 = position 1.
            F.expr(
                """
                aggregate(
                  if(size(s) >= 2, sequence(2, size(s)), array()),
                  named_struct('acc', CAST(0 AS DECIMAL(28,15)),
                               'run', CAST(1 AS BIGINT),
                               'nd', CAST(1 AS BIGINT)),
                  (st, i) -> IF(
                    element_at(s, i) = element_at(s, i - 1),
                    named_struct('acc', st.acc, 'run', st.run + CAST(1 AS BIGINT),
                                 'nd', st.nd),
                    named_struct(
                      'acc', CAST(st.acc
                             + CAST(round(st.run * ln(CAST(st.run AS DOUBLE)), 9)
                                    AS DECIMAL(28,15)) AS DECIMAL(28,15)),
                      'run', CAST(1 AS BIGINT),
                      'nd', st.nd + CAST(1 AS BIGINT))),
                  st -> named_struct(
                    'acc', CAST(st.acc
                           + CAST(round(st.run * ln(CAST(st.run AS DOUBLE)), 9)
                                  AS DECIMAL(28,15)) AS DECIMAL(28,15)),
                    'nd', st.nd))
                """
            ).alias("f"),
        )
    )
    t = F.col("t").cast("long")
    return stats.select(
        "doc_id",
        t.alias("n_bigrams"),
        F.col("f.nd").alias("n_distinct"),
        F.round(
            F.log(t.cast("double"))
            - F.col("f.acc").cast("double") / t.cast("double"),
            6,
        ).alias("entropy"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Pointer doubling: list ranking / root finding in O(log n) rounds
# ---------------------------------------------------------------------------


@register(
    "q169_pointer_doubling",
    # the fixture's chains come from the per-user time order, so the oracle
    # states root and depth in closed form (first event / row_number-1);
    # the Spark side must reach the same answer through pointer jumping
    oracle="""
    SELECT event_id,
           user_id,
           first_value(event_id) OVER w AS root_event_id,
           CAST(row_number() OVER w - 1 AS BIGINT) AS depth
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
)
def q169_pointer_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List ranking by POINTER DOUBLING (Wyllie's algorithm): each node of a
    linked structure learns its root and its depth in O(log chain-length)
    self-join rounds — par'(x) = par(par(x)), d'(x) = d(x) + d(par(x)).
    The successor lists here are each user's event chain (built from the
    time order, which also gives the oracle a closed form); the algorithm
    itself only ever sees (node, parent) pairs — the shape you're left
    with when rank is NOT derivable from a sort key (linked lists,
    provenance chains, symlink forests).

    Scale: the naive walk is O(max-depth) sequential rounds; doubling is
    O(log max-depth) rounds of one hash-join + localCheckpoint each — 10
    rounds cover million-long chains. The round count, ceil(log2) of the
    longest chain, comes from one aggregate before the loop, so no round
    runs a convergence probe."""
    import math

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # round count is known BEFORE the loop: after k rounds every pointer has
    # jumped 2^k links, so ceil(log2(max chain length)) rounds suffice — and
    # max chain length is just the largest per-user event count (ONE cheap
    # aggregate returning one scalar, the #groups-sized-collect pattern).
    # This replaces a per-round fixpoint action, halving the job count.
    max_chain = (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c")).first()[0] or 1
    )
    n_rounds = max(1, math.ceil(math.log2(max_chain)))
    links = ev.repartition(8, "user_id").select(
        "user_id",
        F.col("event_id").alias("id"),
        F.coalesce(F.lag("event_id").over(w), F.col("event_id")).alias("par"),
    )
    labels = links.select(
        "user_id",
        "id",
        "par",
        F.when(F.col("par") == F.col("id"), F.lit(0)).otherwise(1)
        .cast("long").alias("d"),
    ).localCheckpoint(eager=False)  # truncate: each round's plan stays ONE join deep
    for _ in range(n_rounds):
        hop = labels.select(
            F.col("id").alias("h_id"),
            F.col("par").alias("h_par"),
            F.col("d").alias("h_d"),
        )
        labels = (
            labels.join(hop, labels["par"] == hop["h_id"])
            .select(
                "user_id",
                "id",
                F.col("h_par").alias("par"),
                (F.col("d") + F.col("h_d")).cast("long").alias("d"),
            )
            # lazy: the checkpoint only truncates the doubling plan; the
            # final action materializes all O(log depth) rounds in one job
            # instead of one barrier job per round (r6)
            .localCheckpoint(eager=False)
        )
    return labels.select(
        F.col("id").alias("event_id"),
        "user_id",
        F.col("par").alias("root_event_id"),
        F.col("d").alias("depth"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Last-touch attribution (marketing / conversion credit assignment)
# ---------------------------------------------------------------------------


@register(
    "q170_last_touch_attribution",
    oracle="""
    WITH walled AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_click_us
      FROM events
    ),
    purchases AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN last_click_us IS NOT NULL
                   AND epoch_us(ts) - last_click_us <= 864000000000
                  THEN 1 ELSE 0 END AS attributed
      FROM walled WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(attributed) AS BIGINT) AS n_attributed,
           CAST(sum(attributed * cents) AS BIGINT) AS attributed_cents
    FROM purchases GROUP BY user_id ORDER BY user_id
    """,
)
def q170_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's most
    recent PRECEDING click if it happened within a 10-day lookback — the
    conversion-credit assignment behind marketing/ads reporting. The
    "most recent preceding touch" is ONE backward ignore-nulls wall
    (last_value ... 1 PRECEDING) over each user's ordered stream — no
    self-join, no range probe (q117's forward-wall technique, reversed).
    Money stays integer cents (floor(v*100+0.5)); gaps stay integer
    microseconds. One window shuffle on user_id + one aggregate."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "event_type", "value",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    eus = F.unix_micros(F.col("ts"))
    walled = ev.withColumn(
        "last_click_us",
        F.last(
            F.when(F.col("event_type") == "click", eus), ignorenulls=True
        ).over(w),
    )
    purchases = walled.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        F.when(
            F.col("last_click_us").isNotNull()
            & (eus - F.col("last_click_us") <= 864_000_000_000),
            1,
        ).otherwise(0).alias("attributed"),
    )
    return (
        purchases.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("attributed").cast("long").alias("n_attributed"),
            F.sum(F.col("attributed") * F.col("cents")).cast("long")
            .alias("attributed_cents"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Classic TPC-H join shapes: Q5, Q10, Q18 analogues
# ---------------------------------------------------------------------------


@register(
    "q171_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(38,8))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
                     AND s.s_nationkey = c.c_nationkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name ORDER BY revenue DESC, nation
    """,
)
def q171_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the 6-table join with the
    characteristic NON-key constraint s_nationkey = c_nationkey ("local"
    supplier), region filter, date window, revenue per nation. All four
    dims (customer via orders is the probe side; supplier, nation, region)
    broadcast; lineitem — the only big table — is touched once and
    shuffles once for the final agg. Revenue is DECIMAL(38,8)-summed
    (order-free), ONE double cast at the end."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


@register(
    "q172_returned_item_ranking",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(38,8))) AS DOUBLE) AS revenue,
           CAST(c.c_acctbal AS DOUBLE) AS acctbal,
           n.n_name AS nation
    FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1995-07-01'
      AND o.o_orderdate < TIMESTAMP '1995-10-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, custkey LIMIT 20
    """,
)
def q172_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item ranking): which customers returned
    the most revenue in a quarter. Lineitem is filtered on the return
    flag AT THE SCAN (predicate pushdown), joined to the date-windowed
    orders, customer+nation broadcast; top-20 rides
    TakeOrderedAndProject with a unique (revenue, custkey) tie-break."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-07-01") & (F.col("o_orderdate") < "1995-10-01")
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    n = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("custkey", "name", "revenue", "acctbal", "nation")
        .orderBy(F.col("revenue").desc(), "custkey")
        .limit(20)
    )


@register(
    "q173_large_volume_customer",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 350
    )
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           o.o_orderkey AS orderkey,
           CAST(o.o_orderdate AS VARCHAR) AS orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS totalprice,
           CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
    FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN big b      ON b.l_orderkey = o.o_orderkey
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY totalprice DESC, orderkey
    """,
)
def q173_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total line
    quantity exceeds a threshold, with their customers — the classic
    agg-then-semi-join-then-reagg. The qualifying-order set (HAVING over
    one lineitem agg) is tiny and BROADCAST back against lineitem, so the
    big table is scanned twice but never shuffle-joined against itself;
    quantities are integral doubles, summed exactly and emitted BIGINT."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 350)
        .select(F.col("l_orderkey").alias("b_orderkey"))
    )
    return (
        li.join(F.broadcast(big), li["l_orderkey"] == F.col("b_orderkey"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("string").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("sum_qty"))
        .orderBy(F.col("totalprice").desc(), "orderkey")
    )


# ---------------------------------------------------------------------------
# FIFO lot allocation (inventory costing / order matching)
# ---------------------------------------------------------------------------


@register(
    "q174_fifo_allocation",
    oracle="""
    WITH pool AS (
      SELECT l_partkey AS part, l_linestatus AS side,
             CAST(l_quantity AS BIGINT) AS qty,
             l_shipdate, l_orderkey, l_linenumber
      FROM lineitem WHERE l_partkey % 10 = 0
    ),
    ranged AS (
      SELECT part, side, qty,
             sum(qty) OVER (PARTITION BY part, side
                            ORDER BY l_shipdate, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS hi
      FROM pool
    ),
    iv AS (SELECT part, side, qty, hi - qty AS lo, hi FROM ranged),
    alloc AS (
      SELECT s.part,
             least(s.hi, d.hi) - greatest(s.lo, d.lo) AS q
      FROM iv s JOIN iv d
        ON s.part = d.part AND s.side = 'F' AND d.side = 'O'
       AND s.lo < d.hi AND d.lo < s.hi
    ),
    totals AS (
      SELECT part,
             CAST(sum(CASE WHEN side = 'F' THEN qty ELSE 0 END) AS BIGINT) AS supply,
             CAST(sum(CASE WHEN side = 'O' THEN qty ELSE 0 END) AS BIGINT) AS demand
      FROM pool GROUP BY part
    )
    SELECT t.part, t.supply, t.demand,
           COALESCE(CAST(a.matched AS BIGINT), 0) AS matched,
           COALESCE(CAST(a.n_pairs AS BIGINT), 0) AS n_pairs,
           t.demand - COALESCE(CAST(a.matched AS BIGINT), 0) AS unmatched_demand
    FROM totals t
    LEFT JOIN (
      SELECT part, sum(q) AS matched, count(*) AS n_pairs
      FROM alloc GROUP BY part
    ) a ON a.part = t.part
    ORDER BY t.part
    """,
)
def q174_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot allocation (inventory costing / trade matching): per part,
    'F' lines are supply lots and 'O' lines are demand, both consumed in
    ship-date order; demand row d draws from supply lot s exactly
    ``overlap([s.lo, s.hi), [d.lo, d.hi))`` units, where lo/hi are the
    side's RUNNING-SUM intervals — the classic set-based FIFO formulation
    (no loops, no per-row state). Quantities are integral, so every
    interval bound and allocation is exact BIGINT.

    Shape: two window passes build the cumulative tapes (one shuffle on
    part), then the interval join runs BUCKETED: each interval explodes to
    the width-B tape buckets it covers (≤ qty/B + 1 each) and the join key
    is (part, bucket), so tested pairs are the per-bucket locals — linear
    in the tape, never the part's supply×demand cross; pairs touching
    multiple buckets are deduped before the overlap math. FIFO intervals
    overlap chain-wise, so output is O(supply+demand) per part."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 10 == 0)
    pool = li.select(
        F.col("l_partkey").alias("part"),
        F.col("l_linestatus").alias("side"),
        F.col("l_quantity").cast("long").alias("qty"),
        "l_shipdate", "l_orderkey", "l_linenumber",
    )
    w = (
        W.partitionBy("part", "side")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    iv = pool.select(
        "part", "side", "qty", (F.sum("qty").over(w)).alias("hi")
    ).select("part", "side", "qty", (F.col("hi") - F.col("qty")).alias("lo"), "hi")
    iv = iv.localCheckpoint(eager=False)
    B = 256  # tape-bucket width; intervals are ≤ 50 units, so ≤ 2 buckets

    def bucketed(side_df, lo, hi):
        return side_df.select(
            "part", lo, hi,
            F.explode(
                F.sequence(
                    ((F.col(lo) - F.col(lo) % B) / B).cast("long"),
                    ((F.col(hi) - 1 - (F.col(hi) - 1) % B) / B).cast("long"),
                )
            ).alias("bucket"),
        )

    s = bucketed(
        iv.filter(F.col("side") == "F").select(
            "part", F.col("lo").alias("s_lo"), F.col("hi").alias("s_hi")
        ),
        "s_lo", "s_hi",
    )
    d = bucketed(
        iv.filter(F.col("side") == "O").select(
            "part", F.col("lo").alias("d_lo"), F.col("hi").alias("d_hi")
        ),
        "d_lo", "d_hi",
    )
    alloc = (
        s.join(d, ["part", "bucket"])
        .filter((F.col("s_lo") < F.col("d_hi")) & (F.col("d_lo") < F.col("s_hi")))
        .dropDuplicates(["part", "s_lo", "d_lo"])
        .select(
            "part",
            (F.least("s_hi", "d_hi") - F.greatest("s_lo", "d_lo")).alias("q"),
        )
        .groupBy("part")
        .agg(
            F.sum("q").cast("long").alias("matched"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    totals = pool.groupBy("part").agg(
        F.sum(F.when(F.col("side") == "F", F.col("qty")).otherwise(0))
        .cast("long").alias("supply"),
        F.sum(F.when(F.col("side") == "O", F.col("qty")).otherwise(0))
        .cast("long").alias("demand"),
    )
    return (
        totals.join(alloc, "part", "left")
        .select(
            "part", "supply", "demand",
            F.coalesce(F.col("matched"), F.lit(0)).cast("long").alias("matched"),
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            (F.col("demand") - F.coalesce(F.col("matched"), F.lit(0)))
            .cast("long").alias("unmatched_demand"),
        )
        .orderBy("part")
    )


# ---------------------------------------------------------------------------
# Population stability index (PSI) — distribution drift monitoring
# ---------------------------------------------------------------------------


@register(
    "q175_psi_drift",
    oracle="""
    WITH binned AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'expected'
                  ELSE 'actual' END AS period,
             least(CAST(floor(o_totalprice / 20000) AS BIGINT), 9) AS bin
      FROM orders
    ),
    c AS (
      SELECT bin,
             CAST(sum(CASE WHEN period = 'expected' THEN 1 ELSE 0 END) AS BIGINT) AS e_n,
             CAST(sum(CASE WHEN period = 'actual' THEN 1 ELSE 0 END) AS BIGINT) AS a_n
      FROM binned GROUP BY bin
    ),
    t AS (SELECT CAST(sum(e_n) AS BIGINT) AS e_tot, CAST(sum(a_n) AS BIGINT) AS a_tot,
                 CAST(count(*) AS BIGINT) AS b FROM c)
    SELECT c.bin, c.e_n, c.a_n,
           round((CAST(c.a_n + 1 AS DOUBLE) / (t.a_tot + t.b)
                  - CAST(c.e_n + 1 AS DOUBLE) / (t.e_tot + t.b))
                 * ln((CAST(c.a_n + 1 AS DOUBLE) / (t.a_tot + t.b))
                      / (CAST(c.e_n + 1 AS DOUBLE) / (t.e_tot + t.b))),
                 9) AS psi_term
    FROM c CROSS JOIN t
    ORDER BY bin
    """,
)
def q175_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index (the standard ML-monitoring drift score)
    for the order-value distribution: pre-1998 orders are the expected
    population, 1998+ the actual; fixed-width value bins, Laplace +1
    smoothing (integer-exact, no epsilon constants), per-bin PSI term
    (a-e)·ln(a/e). Σ terms = the headline PSI.

    Determinism: bin counts and totals are exact integers; each term is
    ONE fixed float chain over those integers, round(9)-pinned (libm ln).
    Shape: one scan → one (period is a CASE, not a second pass) bin agg,
    then all math on the B-row bin table; at 100 TB the bin table is the
    only thing that leaves the scan."""
    o = _t(spark, sf_dir, "orders")
    binned = o.select(
        F.when(F.col("o_orderdate") < "1998-01-01", "expected")
        .otherwise("actual").alias("period"),
        F.least(F.floor(F.col("o_totalprice") / 20000).cast("long"), F.lit(9))
        .alias("bin"),
    )
    c = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "expected", 1).otherwise(0))
        .cast("long").alias("e_n"),
        F.sum(F.when(F.col("period") == "actual", 1).otherwise(0))
        .cast("long").alias("a_n"),
    )
    t = c.agg(
        F.sum("e_n").cast("long").alias("e_tot"),
        F.sum("a_n").cast("long").alias("a_tot"),
        F.count(F.lit(1)).alias("b"),
    )
    a_p = (F.col("a_n") + 1).cast("double") / (F.col("a_tot") + F.col("b"))
    e_p = (F.col("e_n") + 1).cast("double") / (F.col("e_tot") + F.col("b"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "bin", "e_n", "a_n",
            F.round((a_p - e_p) * F.log(a_p / e_p), 9).alias("psi_term"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis, RNG-free)
# ---------------------------------------------------------------------------


@register(
    "q176_weighted_sample_es",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             round(ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                   1, 15)) AS BIGINT) + 1 AS DOUBLE))
                      / {float(1 << 60)})
                   / n_chars, 9) AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, es_key
    FROM keyed ORDER BY es_key DESC, doc_id LIMIT 50
    """,
)
def q176_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis-Spirakis
    exponential keys: each doc gets key = ln(u)/w (equivalent order to
    u^(1/w)) with u a deterministic md5-derived uniform and w = n_chars;
    the global top-k by key IS a weighted sample without replacement —
    reproducible on any cluster size, resumable, no RNG state (the
    sampling counterpart of q54's Bernoulli buckets; inclusion here is
    weight-proportional and exactly k-sized).

    Determinism: u is integer-derived ((h+1)/2^60, never 0), the key is
    ONE float chain round(9)-pinned, ties broken by doc_id; top-50 rides
    TakeOrderedAndProject — no global sort, no shuffle beyond it."""
    from .operators.sketches import md5_hash60

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (md5_hash60(F.col("doc_id")) + 1).cast("double") / float(1 << 60)
    return (
        d.select(
            "doc_id",
            "n_chars",
            F.round(F.log(u) / F.col("n_chars"), 9).alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: the sole-blame supplier (multi-EXISTS decorrelation)
# ---------------------------------------------------------------------------


@register(
    "q177_sole_blame_supplier",
    oracle="""
    WITH per AS (
      SELECT l_orderkey AS okey, l_suppkey AS skey,
             max(l_shipdate) AS s_last
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    ),
    o AS (
      SELECT okey,
             max(s_last) AS o_last,
             CAST(count(*) AS BIGINT) AS n_supp,
             CAST(sum(CASE WHEN s_last = max_last THEN 1 ELSE 0 END) AS BIGINT)
               AS n_latest
      FROM (SELECT per.*, max(s_last) OVER (PARTITION BY okey) AS max_last
            FROM per)
      GROUP BY okey
    )
    SELECT p.skey AS suppkey,
           CAST(count(*) AS BIGINT) AS n_blamed_orders
    FROM per p JOIN o ON o.okey = p.okey
    WHERE o.n_supp > 1 AND o.n_latest = 1 AND p.s_last = o.o_last
    GROUP BY p.skey
    ORDER BY n_blamed_orders DESC, suppkey LIMIT 10
    """,
)
def q177_sole_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for every
    multi-supplier order whose LAST shipment came from exactly one
    supplier, blame that supplier — the classic
    EXISTS(another supplier) AND NOT EXISTS(another equally-late supplier)
    pair, decorrelated into one (order, supplier) aggregate plus one
    order-level window (no self-joins of lineitem at all; Q21's two
    correlated subqueries both collapse into counts over the same
    grouped table). Dates compare exactly; top-10 is
    TakeOrderedAndProject with a unique tie-break."""
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy(
        F.col("l_orderkey").alias("okey"), F.col("l_suppkey").alias("skey")
    ).agg(F.max("l_shipdate").alias("s_last"))
    wo = W.partitionBy("okey")
    annotated = per.select(
        "okey", "skey", "s_last",
        F.max("s_last").over(wo).alias("o_last"),
        F.count(F.lit(1)).over(wo).alias("n_supp"),
        F.sum(
            F.when(F.col("s_last") == F.max("s_last").over(wo), 1).otherwise(0)
        ).over(wo).alias("n_latest"),
    )
    return (
        annotated.filter(
            (F.col("n_supp") > 1)
            & (F.col("n_latest") == 1)
            & (F.col("s_last") == F.col("o_last"))
        )
        .groupBy(F.col("skey").alias("suppkey"))
        .agg(F.count(F.lit(1)).alias("n_blamed_orders"))
        .orderBy(F.col("n_blamed_orders").desc(), "suppkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Count-min sketch (deterministic md5 rows) with exact-count verification
# ---------------------------------------------------------------------------

_CMS_W = 256  # columns per row
_CMS_ROWS = (1, 2, 3, 4)  # salts — 4 independent hash rows


@register(
    "q178_countmin_sketch",
    oracle=f"""
    WITH ev AS (SELECT event_type AS key FROM events),
    cells AS (
      SELECT r.salt,
             CAST(('0x' || substr(md5(CAST(r.salt AS VARCHAR) || ':' || key),
                                  1, 15)) AS BIGINT) % {_CMS_W} AS col,
             CAST(count(*) AS BIGINT) AS c
      FROM ev, (SELECT unnest([1, 2, 3, 4]) AS salt) r
      GROUP BY r.salt, col
    ),
    probes AS (SELECT DISTINCT event_type AS key FROM events),
    est AS (
      SELECT p.key,
             min(c.c) AS cms_estimate
      FROM probes p
      JOIN cells c
        ON c.col = CAST(('0x' || substr(md5(CAST(c.salt AS VARCHAR) || ':' || p.key),
                                        1, 15)) AS BIGINT) % {_CMS_W}
      GROUP BY p.key
    ),
    exact AS (
      SELECT event_type AS key, CAST(count(*) AS BIGINT) AS exact_n
      FROM events GROUP BY event_type
    )
    SELECT e.key AS key, x.exact_n, CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
           CAST(e.cms_estimate - x.exact_n AS BIGINT) AS overcount
    FROM est e JOIN exact x ON x.key = e.key
    ORDER BY e.key
    """,
)
def q178_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the event-type stream: 4 salted md5 hash rows
    × 256 columns, built with ONE conditional-sum aggregate (each event
    lands in 4 cells; the sketch is the shuffle — 1024 cells max, not the
    stream), then probed for every distinct key and verified against the
    exact counts. CMS guarantees estimate ≥ exact; `overcount` is the
    collision inflation, reported not hidden. Everything is integer and
    the hash is the portable md5-60 (sketches.py), so sketch AND estimates
    are bit-identical across engines — the deterministic-sketch contract
    of q33/q159 extended to the frequency domain.

    At 100 TB: the sketch table is mergeable (cell-wise +) across
    partitions/streams; probes broadcast against it."""
    from .operators.sketches import md5_hash60

    ev = _t(spark, sf_dir, "events").select(F.col("event_type").alias("key"))
    salts = spark.range(1, len(_CMS_ROWS) + 1).select(
        F.col("id").cast("long").alias("salt")
    )
    cells = (
        ev.crossJoin(F.broadcast(salts))
        .select(
            "salt",
            (md5_hash60(F.concat_ws(":", F.col("salt"), F.col("key"))) % _CMS_W)
            .alias("col"),
        )
        .groupBy("salt", "col")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = ev.groupBy("key").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = exact.select(
        "key", "exact_n",
        F.explode(F.array(*[F.lit(s) for s in _CMS_ROWS])).alias("salt"),
    ).select(
        "key", "exact_n", "salt",
        (md5_hash60(F.concat_ws(":", F.col("salt"), F.col("key"))) % _CMS_W)
        .alias("col"),
    )
    return (
        probes.join(F.broadcast(cells), ["salt", "col"])
        .groupBy("key", "exact_n")
        .agg(F.min("c").cast("long").alias("cms_estimate"))
        .select(
            "key", "exact_n", "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_n")).cast("long")
            .alias("overcount"),
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# Business-day latency (calendar arithmetic without a calendar table)
# ---------------------------------------------------------------------------


@register(
    "q179_business_day_latency",
    # business days in the half-open span (d1, d2], pure integer
    # arithmetic on a Monday-anchored axis: epoch day -3 (1969-12-29) was a
    # Monday, so with m = epoch_day + 3, Wm(x) = 5*(x//7) + least(x%7, 5)
    # counts weekdays in [0, x) and bdays = Wm(m2+1) - Wm(m1+1)
    oracle="""
    WITH spans AS (
      SELECT o.o_orderpriority AS priority,
             CAST(datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
                  AS BIGINT) + 4 AS m1,
             CAST(datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
                  AS BIGINT) + 4 AS m2
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
    ),
    bd AS (
      SELECT priority,
             (5 * (m2 // 7) + least(m2 % 7, 5))
             - (5 * (m1 // 7) + least(m1 % 7, 5)) AS bdays
      FROM spans
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(bdays) AS BIGINT) AS total_bdays,
           CAST(max(bdays) AS BIGINT) AS max_bdays
    FROM bd GROUP BY priority ORDER BY priority
    """,
)
def q179_business_day_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency in BUSINESS days per priority class — calendar
    arithmetic with no calendar dimension: business-day count is a pure
    integer formula over epoch-day numbers (full weeks × 5 plus a
    ragged-tail term driven by the start weekday, weekday derived from
    epoch_day ≡ (d+4) mod 7 — no engine weekday function, whose numbering
    conventions differ, ever enters). Exact BIGINTs end-to-end.
    Shape: one join (orders broadcast-side pruned to two columns), one
    aggregate; the formula is a pure column expression."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_orderdate").cast("date").alias("od")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).filter(
        F.col("sd") >= F.col("od")
    )
    m1 = F.datediff(F.col("od"), F.lit("1970-01-01").cast("date")).cast("long") + 4
    m2 = F.datediff(F.col("sd"), F.lit("1970-01-01").cast("date")).cast("long") + 4

    def wm(x):  # weekdays in [0, x) on the Monday-anchored axis
        return (F.lit(5) * ((x - x % 7) / 7).cast("long")) + F.least(
            x % 7, F.lit(5)
        )

    bd = j.select(
        F.col("o_orderpriority").alias("priority"),
        (wm(m2) - wm(m1)).alias("bdays"),
    )
    return (
        bd.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("bdays").cast("long").alias("total_bdays"),
            F.max("bdays").cast("long").alias("max_bdays"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap between the lexical and vector rankings
# ---------------------------------------------------------------------------

_RBO_K = 50   # truncation depth
_RBO_P = 0.9  # persistence


@register(
    "q180_rbo_ranking_similarity",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    lex AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN tok IN ('join', 'hash', 'scan')
                           THEN 1 ELSE 0 END) AS BIGINT) AS score
      FROM toks GROUP BY doc_id
    ),
    lexr AS (
      SELECT doc_id AS id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS ra
      FROM lex ORDER BY score DESC, doc_id LIMIT {_RBO_K}
    ),
    {_VFX_SQL},
    probe AS (SELECT pos, v_fx AS p_fx FROM vfx WHERE vec_id = 0),
    dots AS (
      SELECT v.vec_id,
             CAST(sum((v.v_fx - {EMB_SCALE}) * (p.p_fx - {EMB_SCALE}))
                  AS BIGINT) AS dot_fx
      FROM vfx v JOIN probe p USING (pos) GROUP BY v.vec_id
    ),
    vecr AS (
      SELECT vec_id AS id,
             row_number() OVER (ORDER BY dot_fx DESC, vec_id) AS rb
      FROM dots ORDER BY dot_fx DESC, vec_id LIMIT {_RBO_K}
    ),
    overlap AS (
      SELECT greatest(l.ra, v.rb) AS m
      FROM lexr l JOIN vecr v ON l.id = v.id
    ),
    depths AS (SELECT unnest(range(1, {_RBO_K + 1})) AS d),
    xd AS (
      SELECT d.d, CAST(count(o.m) AS BIGINT) AS x_d
      FROM depths d LEFT JOIN overlap o ON o.m <= d.d
      GROUP BY d.d
    ),
    terms AS (
      SELECT d, x_d,
             round((1.0 - {_RBO_P}) * power({_RBO_P}, d - 1)
                   * CAST(x_d AS DOUBLE) / d, 9) AS term
      FROM xd
    )
    SELECT CAST({_RBO_K} AS BIGINT) AS depth_k,
           CAST(count(*) AS BIGINT) AS n_depths,
           CAST(max(x_d) AS BIGINT) AS n_overlap,
           round(CAST(sum(CAST(term AS DECIMAL(28, 15))) AS DOUBLE), 6) AS rbo
    FROM terms
    """,
)
def q180_rbo_ranking_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al., TOIS'10) between the lexical and
    vector top-50 rankings — the standard top-weighted agreement metric
    for comparing retrieval systems (companion diagnostic to q163's RRF
    fusion: RBO says HOW MUCH the fused systems agree before fusing).

    Distributed form: an item with ranks (ra, rb) joins the prefix
    intersection at depth m = max(ra, rb), so the per-depth overlap X_d is
    a ≤-join count of the k-sized overlap table against the k-row depth
    table — never a quadratic prefix comparison. Determinism: ranks are
    integer-backed (q163's contract), each depth term is one float chain
    round(9)-pinned (libm pow), the 50-term sum is DECIMAL (order-free),
    final round(6). Only the two corpus aggregates touch data at scale."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tok(F.col("text"))).alias("tok"))
    lex = toks.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("tok").isin("join", "hash", "scan"), 1).otherwise(0)
        ).cast("long").alias("score")
    )
    lexr = (
        lex.orderBy(F.col("score").desc(), "doc_id").limit(_RBO_K)
        .select(
            F.col("doc_id").alias("id"),
            F.row_number()
            .over(W.orderBy(F.col("score").desc(), "doc_id")).alias("ra"),
        )
    )
    vfx = _vfx(spark, sf_dir)
    probe = vfx.filter(F.col("vec_id") == 0).select(
        "pos", F.col("v_fx").alias("p_fx")
    )
    dots = (
        vfx.join(F.broadcast(probe), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("v_fx") - EMB_SCALE) * (F.col("p_fx") - EMB_SCALE)
            ).cast("long").alias("dot_fx")
        )
    )
    vecr = (
        dots.orderBy(F.col("dot_fx").desc(), "vec_id").limit(_RBO_K)
        .select(
            F.col("vec_id").alias("id"),
            F.row_number()
            .over(W.orderBy(F.col("dot_fx").desc(), "vec_id")).alias("rb"),
        )
    )
    overlap = lexr.join(vecr, "id").select(
        F.greatest("ra", "rb").alias("m")
    )
    depths = spark.range(1, _RBO_K + 1).select(F.col("id").alias("d"))
    xd = (
        depths.join(F.broadcast(overlap), F.col("m") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("m").alias("x_d"))
    )
    term = F.round(
        (1.0 - _RBO_P)
        * F.pow(F.lit(_RBO_P), F.col("d") - 1)
        * F.col("x_d").cast("double")
        / F.col("d"),
        9,
    )
    return xd.select("d", "x_d", term.alias("term")).agg(
        F.lit(_RBO_K).cast("long").alias("depth_k"),
        F.count(F.lit(1)).alias("n_depths"),
        F.max("x_d").cast("long").alias("n_overlap"),
        F.round(
            F.sum(F.col("term").cast("decimal(28,15)")).cast("double"), 6
        ).alias("rbo"),
    )


# ---------------------------------------------------------------------------
# Small-file compaction plan (table-maintenance bin packing)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 4000  # target bytes per compacted output


@register(
    "q181_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS bytes
      FROM documents
    ),
    packed AS (
      SELECT source, doc_id, bytes,
             CAST((sum(bytes) OVER (PARTITION BY source
                                    ORDER BY bytes DESC, doc_id
                                    ROWS UNBOUNDED PRECEDING) - bytes)
                  // {_COMPACT_TARGET} AS BIGINT) AS bin
      FROM files
    )
    SELECT source, bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bytes,
           CAST(min(bytes) AS BIGINT) AS min_file,
           CAST(max(bytes) AS BIGINT) AS max_file
    FROM packed GROUP BY source, bin ORDER BY source, bin
    """,
)
def q181_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (the table-maintenance chore every
    lakehouse runs): files (stand-in: documents, bytes = n_chars) are
    packed per source into ~target-sized output groups by cumulative-sum
    binning over a size-descending order — bin = (running_sum - bytes)
    div target, the deterministic set-based form of next-fit-decreasing.
    Emits the per-bin manifest a rewrite job would execute.

    Shape: one window (partitioned by source — parallel across sources)
    + one aggregate; everything integer. At 100 TB the 'files' input is a
    metadata table (file listings), orders of magnitude below data scale."""
    d = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").cast("long").alias("bytes")
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.col("bytes").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = F.sum("bytes").over(w)
    packed = d.select(
        "source", "doc_id", "bytes",
        (((run - F.col("bytes")) - (run - F.col("bytes")) % _COMPACT_TARGET)
         / _COMPACT_TARGET).cast("long").alias("bin"),
    )
    return (
        packed.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").cast("long").alias("bytes"),
            F.min("bytes").cast("long").alias("min_file"),
            F.max("bytes").cast("long").alias("max_file"),
        )
        .orderBy("source", "bin")
    )


# ---------------------------------------------------------------------------
# Remaining classic TPC-H shapes: Q4, Q6, Q12, Q14, Q16, Q22 analogues
# ---------------------------------------------------------------------------


@register(
    "q182_order_priority_check",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-07-01'
      AND o.o_orderdate < TIMESTAMP '1995-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o.o_orderpriority ORDER BY priority
    """,
)
def q182_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): orders in a quarter with
    at least one line shipped >30 days after ordering, counted by
    priority. The correlated EXISTS (comparing a lineitem column against
    an OUTER column) becomes a left-semi join whose inequality rides the
    join condition — Catalyst keeps the equi-part hashable and applies
    the date comparison as a join residual; lineitem never aggregates."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-07-01") & (F.col("o_orderdate") < "1995-10-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.date_add(F.col("o_orderdate"), 30)),
        "left_semi",
    )
    return (
        late.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("priority")
    )


@register(
    "q183_forecast_revenue_change",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,8)))
                AS DOUBLE) AS promo_revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q183_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the pure scan-filter-
    aggregate — ALL THREE predicates (date range, discount band, quantity
    cap) push to the parquet scan, the aggregate is one map-side-combined
    DECIMAL sum, zero joins, zero windows. The canonical measure of
    scan+pushdown efficiency; plan-audited to exactly one exchange."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(DEC))
        .cast("double").alias("promo_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q184_shipping_mode_priority",
    oracle="""
    SELECT l.l_linestatus AS ship_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus ORDER BY ship_class
    """,
)
def q184_shipping_mode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping mode vs order priority): late-shipped
    lines (>60 days after ordering, within a year) classified by line
    status, counting high- vs low-priority orders per class — the
    conditional-sum pivot over a join with a residual date inequality.
    One join shuffle, one aggregate."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@register(
    "q185_promo_revenue_share",
    oracle="""
    WITH j AS (
      SELECT p.p_type,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,8)) AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
        AND l.l_shipdate < TIMESTAMP '1996-06-01'
    )
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
                                       ELSE CAST(0 AS DECIMAL(38,8)) END)
                          AS DOUBLE)
                 / CAST(sum(rev) AS DOUBLE), 9) AS promo_share_pct,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM j
    """,
)
def q185_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): the share of quarterly revenue
    from PROMO-type parts. Both the conditional and total revenue sums
    are DECIMAL(38,8) (order-free); the percentage is ONE float chain
    over the two exact sums, round(9). Part broadcasts into the
    date-pruned lineitem scan; one aggregate, no shuffle of part."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-06-01")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "p_type", rev.alias("rev")
    )
    zero = F.lit(0).cast(DEC)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(zero))
            .cast("double")
            / F.sum("rev").cast("double"),
            9,
        ).alias("promo_share_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q186_supplier_part_counts",
    oracle="""
    WITH complaints AS (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
    )
    SELECT p.p_brand AS brand, p.p_size AS size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size IN (1, 10, 20, 30, 40, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM complaints)
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, brand, size
    """,
)
def q186_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct suppliers
    per (brand, size) over a size whitelist, EXCLUDING complaint
    suppliers — the NOT IN subquery is a broadcast anti join (keys
    non-null, so anti ≡ NOT IN); part broadcasts; the only big-table
    shuffle is the distinct aggregation."""
    s_bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 10, 20, 30, 40, 49)
    ).select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s_bad), li["l_suppkey"] == s_bad["s_suppkey"], "left_anti")
        .groupBy(F.col("p_brand").alias("brand"), F.col("p_size").alias("size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "brand", "size")
    )


@register(
    "q187_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(38,8))) AS DOUBLE)
             / count(*) AS a
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(38,8))) AS DOUBLE) AS total_bal
    FROM customer c CROSS JOIN avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey ORDER BY nationkey
    """,
)
def q187_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers richer than
    the positive-balance average with no URGENT order on file, grouped
    by nation. The scalar subquery (global average) is computed as an exact
    DECIMAL sum ÷ count (ONE float division, identical in both engines)
    and broadcast; NOT EXISTS is an anti join against orders. Two scans
    of customer (one for the average, one filtered) and one anti-join
    shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("a")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("total_bal"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Entity resolution end-to-end (block -> match -> cluster -> survive)
# ---------------------------------------------------------------------------

#: dirty-record generator shared by the query and its oracle: every 7th
#: customer gains a copy with one character dropped (a padding zero, so the
#: last-5 blocking key is preserved) and a shifted id
_ER_CORPUS_SQL = """
      SELECT c_custkey AS rid, c_name AS name FROM customer
      UNION ALL
      SELECT c_custkey + 1000000 AS rid,
             substr(c_name, 1, 12) || substr(c_name, 14) AS name
      FROM customer WHERE c_custkey % 7 = 0
"""


@register(
    "q188_entity_resolution",
    oracle=f"""
    WITH RECURSIVE corpus AS ({_ER_CORPUS_SQL}),
    blocked AS (
      SELECT a.rid AS id1, b.rid AS id2
      FROM corpus a JOIN corpus b
        ON right(a.name, 5) = right(b.name, 5) AND a.rid < b.rid
      WHERE abs(length(a.name) - length(b.name)) <= 1
        AND levenshtein(a.name, b.name) <= 1
    ),
    edges AS (
      SELECT id1 AS a, id2 AS b FROM blocked
      UNION ALL SELECT id2, id1 FROM blocked
    ),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    cc AS (SELECT node, min(lbl) AS canonical FROM reach GROUP BY node),
    assigned AS (
      SELECT c.rid, COALESCE(cc.canonical, c.rid) AS canonical
      FROM corpus c LEFT JOIN cc ON cc.node = c.rid
    )
    SELECT canonical,
           CAST(count(*) AS BIGINT) AS n_records
    FROM assigned GROUP BY canonical HAVING count(*) > 1
    ORDER BY canonical
    """,
)
def q188_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end — the flagship record-linkage
    composition (blocking → pairwise matching → transitive clustering →
    survivorship): a dirty customer corpus (every 7th record duplicated
    with one dropped character) is blocked on the name's last-5 key,
    candidate pairs are matched by Levenshtein ≤ 1 behind a length
    prefilter, matches feed connected components, and each multi-record
    cluster reports its canonical (minimum) id — the q81 matcher, q51
    cluster engine, and q87 survivorship policy fused into one pipeline.

    Scale shape: the only corpus-sized shuffles are the block-key
    self-join (bounded per block; blocks here are ~2 records) and the CC
    loop's edge-sized iterations; Levenshtein runs ONLY inside blocks,
    never across the corpus cross product."""
    from .operators.graph import connected_components

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"), F.col("c_name").alias("name")
    )
    dirty = c.filter(F.col("rid") % 7 == 0).select(
        (F.col("rid") + 1_000_000).alias("rid"),
        F.concat(
            F.substring("name", 1, 12),
            F.substring(F.col("name"), 14, 1_000),
        ).alias("name"),
    )
    corpus = c.unionByName(dirty).localCheckpoint(eager=False)
    blocked = corpus.select(
        "rid", "name", F.expr("right(name, 5)").alias("bkey"),
        F.length("name").alias("ln"),
    )
    a = blocked.select(
        F.col("rid").alias("id1"), F.col("name").alias("n1"),
        "bkey", F.col("ln").alias("l1"),
    )
    b = blocked.select(
        F.col("rid").alias("id2"), F.col("name").alias("n2"),
        "bkey", F.col("ln").alias("l2"),
    )
    pairs = (
        a.join(b, "bkey")
        .filter(
            (F.col("id1") < F.col("id2"))
            & (F.abs(F.col("l1") - F.col("l2")) <= 1)
            & (F.levenshtein("n1", "n2") <= 1)
        )
        .select("id1", "id2")
    )
    cc = connected_components(pairs, "id1", "id2")
    assigned = corpus.join(
        cc.select(F.col("node").alias("rid"), "cluster_id"), "rid", "left"
    ).select(
        "rid", F.coalesce(F.col("cluster_id"), F.col("rid")).alias("canonical")
    )
    return (
        assigned.groupBy("canonical")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .filter(F.col("n_records") > 1)
        .orderBy("canonical")
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence + Cramér's V (categorical association)
# ---------------------------------------------------------------------------


@register(
    "q189_chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS r, o_orderstatus AS c,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    margins AS (
      SELECT r, CAST(sum(n) AS BIGINT) AS nr FROM cells GROUP BY r
    ),
    colm AS (
      SELECT c, CAST(sum(n) AS BIGINT) AS nc FROM cells GROUP BY c
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                   CAST(count(DISTINCT r) AS BIGINT) AS kr,
                   CAST(count(DISTINCT c) AS BIGINT) AS kc
            FROM cells),
    terms AS (
      SELECT round(
               (CAST(cells.n AS DOUBLE)
                - CAST(m.nr AS DOUBLE) * cm.nc / t.nn)
               * (CAST(cells.n AS DOUBLE)
                  - CAST(m.nr AS DOUBLE) * cm.nc / t.nn)
               / (CAST(m.nr AS DOUBLE) * cm.nc / t.nn), 9) AS term,
             t.nn, t.kr, t.kc
      FROM cells JOIN margins m USING (r) JOIN colm cm USING (c)
      CROSS JOIN tot t
    )
    SELECT CAST(any_value(nn) AS BIGINT) AS n,
           CAST((any_value(kr) - 1) * (any_value(kc) - 1) AS BIGINT) AS dof,
           round(CAST(sum(CAST(term AS DECIMAL(28,15))) AS DOUBLE), 6)
             AS chi2,
           round(sqrt(CAST(sum(CAST(term AS DECIMAL(28,15))) AS DOUBLE)
                      / (any_value(nn)
                         * least(any_value(kr) - 1, any_value(kc) - 1))), 6)
             AS cramers_v
    FROM terms
    """,
)
def q189_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between order priority and
    order status, plus Cramér's V effect size — the categorical
    association test that completes the statistical battery (KS q154,
    Welch q152, Benford q158). Observed counts and margins are exact
    integers from ONE contingency aggregate; each cell's (O-E)²/E is one
    float chain round(9)-pinned; the k_r·k_c terms sum as DECIMAL
    (order-free) and V = sqrt(χ²/(n·min(k-1))). At 100 TB only the
    contingency aggregate touches data; all test math runs on the
    k_r×k_c cell table."""
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=False)
    nr = cells.groupBy("r").agg(F.sum("n").alias("nr"))
    nc = cells.groupBy("c").agg(F.sum("n").alias("nc"))
    tot = cells.agg(
        F.sum("n").alias("nn"),
        F.countDistinct("r").alias("kr"),
        F.countDistinct("c").alias("kc"),
    )
    e = F.col("nr").cast("double") * F.col("nc") / F.col("nn")
    term = F.round(
        (F.col("n").cast("double") - e) * (F.col("n").cast("double") - e) / e, 9
    )
    terms = (
        cells.join(F.broadcast(nr), "r")
        .join(F.broadcast(nc), "c")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("term"), "nn", "kr", "kc")
    )
    chi2 = F.sum(F.col("term").cast("decimal(28,15)")).cast("double")
    return terms.agg(
        F.any_value(F.col("nn")).cast("long").alias("n"),
        ((F.any_value(F.col("kr")) - 1) * (F.any_value(F.col("kc")) - 1))
        .cast("long").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (
                    F.any_value(F.col("nn"))
                    * F.least(
                        F.any_value(F.col("kr")) - 1, F.any_value(F.col("kc")) - 1
                    )
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (integer-exact S statistic per user)
# ---------------------------------------------------------------------------


@register(
    "q190_mann_kendall_trend",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS i
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT a.user_id,
             CASE WHEN b.value > a.value THEN 1
                  WHEN b.value < a.value THEN -1 ELSE 0 END AS sgn
      FROM seq a JOIN seq b
        ON a.user_id = b.user_id AND a.i < b.i
    ),
    counts AS (
      SELECT user_id, CAST(max(i) AS BIGINT) AS n_obs FROM seq GROUP BY user_id
    ),
    ps AS (
      SELECT user_id, CAST(sum(sgn) AS BIGINT) AS s_stat
      FROM pairs GROUP BY user_id
    )
    SELECT c.user_id, c.n_obs,
           CAST(coalesce(p.s_stat, 0) AS BIGINT) AS s_stat
    FROM counts c LEFT JOIN ps p ON p.user_id = c.user_id
    WHERE c.n_obs >= 2
    ORDER BY c.user_id
    """,
)
def q190_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per user over purchase values: the
    S statistic Σ_{i<j} sign(x_j − x_i) — the standard non-parametric
    monotone-trend detector, INTEGER-exact (no distributional math, no
    float accumulation; S > 0 means rising, the magnitude feeds the
    normal approximation downstream). Pairs are generated per user with
    a rank self-join; per-user series are bounded (≤ a user's event
    count), so the quadratic stays group-local — the documented pattern
    shared with q126/q18 (grouped bounded pair-gen); at larger n per
    group, S can be computed from a merge-sort inversion count instead.

    NOTE the pairs join is deliberately id<id on RANKS (not values), so
    duplicate values contribute 0 — tie handling identical in both
    engines."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("user_id", "ts", "event_id", "value")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "value", F.row_number().over(w).alias("i")
    ).localCheckpoint(eager=False)
    # pair generation through grouped_pairs over (i, value) structs: the
    # array sort is lexicographic and i is unique per user, so every
    # emitted pair has ia < ib — same semantics as the rank self-join but
    # with the shared generator's hard group cap
    from .operators.pairs import grouped_pairs

    items = seq.select("user_id", F.struct("i", "value").alias("it"))
    pr = grouped_pairs(
        items, "user_id", "it", left="pa", right="pb", keep_group=True,
        assume_distinct=True,  # i is a per-user row_number, structs unique
        # exactness contract: the oracle's rank self-join is uncapped, and a
        # silently dropped >max_group user would report s_stat=0 as a
        # plausible value — fail loudly instead (ADVICE r5)
        on_overflow="error",
    )
    pairs = (
        pr.select(
            "user_id",
            F.when(F.col("pb.value") > F.col("pa.value"), 1)
            .when(F.col("pb.value") < F.col("pa.value"), -1)
            .otherwise(0).alias("sgn"),
        )
        .groupBy("user_id")
        .agg(F.sum("sgn").alias("s_stat"))
    )
    return (
        seq.groupBy("user_id")
        .agg(F.max("i").alias("n_obs"))
        .filter(F.col("n_obs") >= 2)
        .join(pairs, "user_id", "left")
        .select(
            "user_id",
            F.col("n_obs").cast("long").alias("n_obs"),
            F.coalesce(F.col("s_stat"), F.lit(0)).cast("long").alias("s_stat"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Wilson score intervals for grouped proportions (conversion-rate CIs)
# ---------------------------------------------------------------------------


@register(
    "q191_wilson_interval",
    # z = 1.96 exactly; the Wilson center/half-width is ONE float chain
    # over integer (successes, trials), round(9)-pinned
    oracle="""
    WITH t AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS trials,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY user_id
    )
    SELECT user_id, trials, conv,
           round((CAST(conv AS DOUBLE) / trials + 1.96 * 1.96 / (2 * trials)
                  - 1.96 * sqrt((CAST(conv AS DOUBLE) / trials)
                                * (1.0 - CAST(conv AS DOUBLE) / trials) / trials
                                + 1.96 * 1.96 / (4.0 * trials * trials)))
                 / (1.0 + 1.96 * 1.96 / trials), 9) AS wilson_lo,
           round((CAST(conv AS DOUBLE) / trials + 1.96 * 1.96 / (2 * trials)
                  + 1.96 * sqrt((CAST(conv AS DOUBLE) / trials)
                                * (1.0 - CAST(conv AS DOUBLE) / trials) / trials
                                + 1.96 * 1.96 / (4.0 * trials * trials)))
                 / (1.0 + 1.96 * 1.96 / trials), 9) AS wilson_hi
    FROM t WHERE trials >= 5 ORDER BY user_id
    """,
)
def q191_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval for each user's purchase-conversion rate —
    the proportion CI that behaves at small n and p≈0/1 (unlike the
    normal approximation), the standard for conversion dashboards and
    A/B readouts. (successes, trials) are exact integers from ONE
    aggregate; lo/hi are each a single fixed float chain over those
    integers (sqrt is IEEE-exact), round(9). Scale: one groupBy; the CI
    math runs on the #groups-sized table."""
    ev = _t(spark, sf_dir, "events")
    t = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("trials"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("conv"),
    ).filter(F.col("trials") >= 5)
    z = 1.96
    p = F.col("conv").cast("double") / F.col("trials")
    n = F.col("trials")
    center = p + z * z / (2 * n)
    half = z * F.sqrt(p * (F.lit(1.0) - p) / n + z * z / (4.0 * n * n))
    denom = F.lit(1.0) + z * z / n
    return t.select(
        "user_id", "trials", "conv",
        F.round((center - half) / denom, 9).alias("wilson_lo"),
        F.round((center + half) / denom, 9).alias("wilson_hi"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Geometric and harmonic means (rate-correct aggregation)
# ---------------------------------------------------------------------------


@register(
    "q192_geometric_harmonic_means",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS priority, o_totalprice AS x
      FROM orders WHERE o_totalprice > 0
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n,
           round(exp(CAST(sum(CAST(round(ln(x), 9) AS DECIMAL(28,15)))
                          AS DOUBLE) / count(*)), 6) AS geo_mean,
           round(count(*) / CAST(sum(CAST(round(1.0 / x, 12)
                                          AS DECIMAL(28,18))) AS DOUBLE), 6)
             AS harm_mean
    FROM v GROUP BY priority ORDER BY priority
    """,
)
def q192_geometric_harmonic_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means of order value per priority — the
    means that aggregate RATES and RATIOS correctly (growth factors →
    geometric; speeds/unit-costs → harmonic; the arithmetic mean
    overstates both). Determinism: each ln(x) / 1/x term is
    round-pinned (libm), summed as DECIMAL (order-free), ONE exp/divide
    at the end, round(6) — the q146/q168 float-sum contract applied to
    the aggregation family. One hash aggregate; means emerge from the
    group table."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    ln_term = F.round(F.log(F.col("o_totalprice")), 9).cast("decimal(28,15)")
    inv_term = F.round(F.lit(1.0) / F.col("o_totalprice"), 12).cast("decimal(28,18)")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.exp(F.sum(ln_term).cast("double") / F.count(F.lit(1))), 6
            ).alias("geo_mean"),
            F.round(
                F.count(F.lit(1)) / F.sum(inv_term).cast("double"), 6
            ).alias("harm_mean"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling (contrastive-training data prep)
# ---------------------------------------------------------------------------


@register(
    "q193_negative_sampling",
    oracle="""
    WITH ring AS (
      SELECT vec_id, label,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               AS pos
      FROM embeddings
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM ring),
    doubled AS (
      SELECT vec_id, label, pos FROM ring
      UNION ALL
      SELECT vec_id, label, pos + nn FROM ring CROSS JOIN n
    ),
    walled AS (
      SELECT vec_id, label, pos,
             list(struct_pack(p := pos, id := vec_id, lb := label))
               OVER (ORDER BY pos
                     ROWS BETWEEN 1 FOLLOWING AND 8 FOLLOWING) AS nxt
      FROM doubled
    ),
    anchors AS (
      SELECT w.vec_id AS anchor_id, w.label AS anchor_label, u.cand
      FROM walled w CROSS JOIN n
      , LATERAL (SELECT unnest(list_sort(w.nxt, 'ASC')) AS cand) u
      WHERE w.pos <= n.nn
    ),
    negs AS (
      SELECT anchor_id, anchor_label,
             cand.id AS neg_id,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cand.p) AS neg_rank
      FROM anchors WHERE cand.lb <> anchor_label
    )
    SELECT anchor_id, anchor_label, neg_id,
           CAST(neg_rank AS BIGINT) AS neg_rank
    FROM negs WHERE neg_rank <= 2
    ORDER BY anchor_id, neg_rank
    """,
)
def q193_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: every
    vector takes its 2 nearest OTHER-label successors on an md5-ordered
    ring (doubled for wrap-around, so tail anchors sample from the head) —
    reproducible in-batch negatives with NO RNG state, no cross join, no
    label-stratified shuffle: the same (anchor, negative) pairs emerge on
    any cluster size or partition layout, which is what makes training
    runs repeatable.

    Shape: one rank window assigns ring positions (at real scale this is
    the one global-order step — use zipWithIndex over a sorted write or
    q165's shard+offset arithmetic); the 8-successor gather itself is a
    BUCKETED BAND JOIN (anchors explode to their two pos-div-8 candidate
    buckets, equi-join on bucket, range filter) — fully parallel, no
    global window touches the candidate generation; candidates-per-anchor
    is a constant 8, so work is linear in the corpus. On a label-skewed
    corpus raise the lookahead or fall back to per-label rings — stated,
    not needed at fixture label balance."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    ring = emb.select(
        "vec_id", "label",
        F.row_number().over(
            W.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        ).cast("long").alias("pos"),
    ).localCheckpoint(eager=False)
    nn = ring.count()  # one scalar: the ring size (drives the wrap union)
    doubled = ring.unionByName(
        ring.select("vec_id", "label", (F.col("pos") + nn).alias("pos"))
    )
    # band join, bucketed: successor positions pos+1..pos+8 live in the
    # anchor's pos-div-8 bucket or the next one
    anchors = ring.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("pos").alias("apos"),
        F.explode(
            F.array(
                F.expr("pos div 8").cast("long"),
                (F.expr("pos div 8") + 1).cast("long"),
            )
        ).alias("bucket"),
    )
    candidates = doubled.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("pos").alias("cpos"),
        F.expr("pos div 8").cast("long").alias("bucket"),
    )
    cand = (
        anchors.join(candidates, "bucket")
        .filter(
            (F.col("cpos") > F.col("apos"))
            & (F.col("cpos") <= F.col("apos") + 8)
            & (F.col("neg_label") != F.col("anchor_label"))
        )
    )
    wrank = W.partitionBy("anchor_id").orderBy(F.col("cpos"))
    return (
        cand.select(
            "anchor_id", "anchor_label", "neg_id",
            F.row_number().over(wrank).cast("long").alias("neg_rank"),
        )
        .filter(F.col("neg_rank") <= 2)
        .orderBy("anchor_id", "neg_rank")
    )


# ---------------------------------------------------------------------------
# Contrastive training triplets (anchor, positive, negative) — one pass
# ---------------------------------------------------------------------------


@register(
    "q194_contrastive_triplets",
    oracle="""
    WITH ring AS (
      SELECT vec_id, label,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               AS pos
      FROM embeddings
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM ring),
    doubled AS (
      SELECT vec_id, label, pos FROM ring
      UNION ALL
      SELECT vec_id, label, pos + nn FROM ring CROSS JOIN n
    ),
    cand AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             c.vec_id AS cand_id, c.label AS cand_label, c.pos AS cpos
      FROM ring a JOIN doubled c
        ON c.pos > a.pos AND c.pos <= a.pos + 16
    ),
    picks AS (
      SELECT anchor_id, anchor_label,
             arg_min(CASE WHEN cand_label = anchor_label THEN cand_id END,
                     CASE WHEN cand_label = anchor_label THEN cpos END)
               AS pos_id,
             arg_min(CASE WHEN cand_label <> anchor_label THEN cand_id END,
                     CASE WHEN cand_label <> anchor_label THEN cpos END)
               AS neg_id
      FROM cand GROUP BY anchor_id, anchor_label
    )
    SELECT anchor_id, anchor_label, pos_id, neg_id
    FROM picks WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL
    ORDER BY anchor_id
    """,
)
def q194_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets in one pass: each anchor pairs with
    its FIRST same-label ring successor (the positive) and its FIRST
    other-label successor (the negative) within a 16-step lookahead on
    the md5 ring — the (anchor, positive, negative) artifact a triplet-
    loss trainer consumes, deterministic end-to-end (q193's negative
    machinery plus the positive pick, one aggregate instead of a rank
    window). Anchors missing either side within the lookahead drop out
    (bounded, stated). Shape: the same bucketed band join (buckets of 16,
    anchor explodes to 2), then ONE min_by aggregate per anchor —
    candidates per anchor constant, work linear in the corpus."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    ring = emb.select(
        "vec_id", "label",
        F.row_number().over(
            W.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        ).cast("long").alias("pos"),
    ).localCheckpoint(eager=False)
    nn = ring.count()
    doubled = ring.unionByName(
        ring.select("vec_id", "label", (F.col("pos") + nn).alias("pos"))
    )
    anchors = ring.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("pos").alias("apos"),
        F.explode(
            F.array(
                F.expr("pos div 16").cast("long"),
                (F.expr("pos div 16") + 1).cast("long"),
            )
        ).alias("bucket"),
    )
    candidates = doubled.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("pos").alias("cpos"),
        F.expr("pos div 16").cast("long").alias("bucket"),
    )
    same = F.col("cand_label") == F.col("anchor_label")
    picks = (
        anchors.join(candidates, "bucket")
        .filter((F.col("cpos") > F.col("apos")) & (F.col("cpos") <= F.col("apos") + 16))
        .groupBy("anchor_id", "anchor_label")
        .agg(
            F.min_by(
                F.when(same, F.col("cand_id")), F.when(same, F.col("cpos"))
            ).alias("pos_id"),
            F.min_by(
                F.when(~same, F.col("cand_id")), F.when(~same, F.col("cpos"))
            ).alias("neg_id"),
        )
    )
    return (
        picks.filter(F.col("pos_id").isNotNull() & F.col("neg_id").isNotNull())
        .orderBy("anchor_id")
    )


# ---------------------------------------------------------------------------
# Dataset card: the one-row corpus datasheet
# ---------------------------------------------------------------------------


@register(
    "q195_dataset_card",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      FROM documents
    ),
    langs AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY lang
    ),
    lang_entropy AS (
      SELECT round(ln((SELECT CAST(count(*) AS DOUBLE) FROM base))
                   - CAST(sum(CAST(round(n * ln(CAST(n AS DOUBLE)), 9)
                                   AS DECIMAL(28,15))) AS DOUBLE)
                     / (SELECT count(*) FROM base), 6) AS h
      FROM langs
    ),
    ranked AS (
      SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS r
      FROM base
    ),
    qs AS (
      SELECT max(CASE WHEN r <= (SELECT (count(*) + 1) // 2 FROM base)
                      THEN n_chars END) AS len_p50,
             max(CASE WHEN r <= (SELECT (count(*) * 9 + 9) // 10 FROM base)
                      THEN n_chars END) AS len_p90
      FROM ranked
    ),
    dedup AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
      FROM base
    )
    SELECT d.n_docs,
           CAST((SELECT count(*) FROM langs) AS BIGINT) AS n_langs,
           CAST((SELECT count(DISTINCT source) FROM base) AS BIGINT)
             AS n_sources,
           CAST((SELECT sum(n_chars) FROM base) AS BIGINT) AS total_chars,
           CAST(q.len_p50 AS BIGINT) AS len_p50,
           CAST(q.len_p90 AS BIGINT) AS len_p90,
           le.h AS lang_entropy,
           d.n_unique,
           round(1.0 - CAST(d.n_unique AS DOUBLE) / d.n_docs, 6) AS dup_rate
    FROM dedup d CROSS JOIN qs q CROSS JOIN lang_entropy le
    """,
)
def q195_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: one row summarizing the corpus the way a
    datasheet/model card reports it — document and source counts, total
    characters, exact rank-based length quantiles (p50/p90), language-mix
    Shannon entropy (the diversity headline), and the exact-duplicate
    rate (md5 distinct). Every number reuses an established contract:
    rank quantiles (q35), entropy via round-pinned n·ln n DECIMAL sums
    (q168), md5 dedup (q17). Shape: one base scan feeding three
    aggregates and one rank window; everything after is single-row math —
    the cheap, always-on report a curation pipeline emits per snapshot."""
    base = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source",
        F.col("n_chars").cast("long").alias("n_chars"),
    ).localCheckpoint(eager=False)
    n_docs = base.count()  # one scalar; also pins the checkpoint
    langs = base.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    nlnn = F.sum(
        F.round(F.col("n") * F.log(F.col("n").cast("double")), 9)
        .cast("decimal(28,15)")
    )
    lang_entropy = langs.agg(
        F.round(
            F.log(F.lit(float(n_docs))) - nlnn.cast("double") / F.lit(n_docs), 6
        ).alias("lang_entropy")
    )
    w = W.orderBy("n_chars", "doc_id")
    ranked = base.select("n_chars", F.row_number().over(w).alias("r"))
    p50_r = (n_docs + 1) // 2
    p90_r = (n_docs * 9 + 9) // 10
    qs = ranked.agg(
        F.max(F.when(F.col("r") <= p50_r, F.col("n_chars"))).alias("len_p50"),
        F.max(F.when(F.col("r") <= p90_r, F.col("n_chars"))).alias("len_p90"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
    )
    return (
        stats.crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(lang_entropy))
        .select(
            "n_docs", "n_langs", "n_sources", "total_chars",
            F.col("len_p50").cast("long").alias("len_p50"),
            F.col("len_p90").cast("long").alias("len_p90"),
            "lang_entropy",
            "n_unique",
            F.round(
                F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Completing the classic TPC-H 22: Q2, Q8, Q9, Q11, Q13, Q15, Q17, Q19, Q20
# analogues. The fixture schema has no partsupp table and lineitem lacks
# commitdate/shipmode, so supply-cost / availqty shapes are re-derived from
# lineitem history (cost proxy = min extended price per supplier-part pair;
# availability proxy = shipped-quantity concentration) — the JOIN/subquery
# SHAPES are the point, and each is preserved exactly.
# ---------------------------------------------------------------------------


@register(
    "q196_min_cost_supplier",
    oracle="""
    WITH pairs AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    elig AS (
      SELECT pr.p_partkey, pr.p_brand, s.s_name, s.s_acctbal, pa.cost
      FROM pairs pa
      JOIN supplier s ON s.s_suppkey = pa.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
      JOIN part pr ON pr.p_partkey = pa.l_partkey
      WHERE pr.p_type = 'STANDARD' AND pr.p_size <= 10
    )
    SELECT e.p_partkey, e.p_brand, e.s_name, e.s_acctbal, e.cost
    FROM elig e
    JOIN (SELECT p_partkey, min(cost) AS mincost FROM elig GROUP BY p_partkey) m
      ON m.p_partkey = e.p_partkey AND e.cost = m.mincost
    ORDER BY e.s_acctbal DESC, e.p_partkey, e.s_name
    """,
)
def q196_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for every small STANDARD
    part, the EUROPE supplier offering it cheapest — the correlated
    min-subquery becomes a groupBy-min + equality join-back (never a
    window over the whole eligible set). Cost proxy: min l_extendedprice
    per (part, supplier) pair from lineitem history, since the fixture
    has no partsupp (ref regression suite exercises the same correlated
    shape via views). Supplier/nation/region dims broadcast; the only
    big shuffle is the pair aggregation on lineitem."""
    li = _t(spark, sf_dir, "lineitem").groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("cost")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    elig = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select("p_partkey", "p_brand", "s_name", "s_acctbal", "cost")
    )
    mins = elig.groupBy("p_partkey").agg(F.min("cost").alias("mincost"))
    return (
        elig.join(
            F.broadcast(mins.withColumnRenamed("p_partkey", "mk")),
            (F.col("p_partkey") == F.col("mk")) & (F.col("cost") == F.col("mincost")),
        )
        .select("p_partkey", "p_brand", "s_name", "s_acctbal", "cost")
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
    )


@register(
    "q197_national_market_share",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           round(
             CAST(sum(CASE WHEN sn.n_name = 'NATION_2'
                           THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                     AS DECIMAL(38,8))
                           ELSE CAST(0 AS DECIMAL(38,8)) END) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(38,8))) AS DOUBLE), 9) AS mkt_share,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'ASIA'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
    GROUP BY o_year ORDER BY o_year
    """,
)
def q197_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_2's share of the
    ASIA ECONOMY-part market by order year. Seven-table join where every
    dimension (customer/nation/region/supplier/nation/part) broadcasts
    and lineitem->orders is the single big shuffle; the share is two
    DECIMAL sums (order-free) with ONE final IEEE division, round(9)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_reg")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(DEC)
    zero = F.lit(0).cast(DEC)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_reg") == r["r_regionkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("sn_name") == "NATION_2", rev).otherwise(zero))
            .alias("num"),
            F.sum(rev).alias("den"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            "o_year",
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 9
            ).alias("mkt_share"),
            "n_lines",
        )
        .orderBy("o_year")
    )


@register(
    "q198_product_type_profit",
    oracle="""
    SELECT sn.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(38,8))
                    - CAST(0.5 * p.p_retailprice * l.l_quantity
                           AS DECIMAL(38,8))) AS DOUBLE) AS profit,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
    GROUP BY nation, o_year ORDER BY nation, o_year DESC
    """,
)
def q198_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per supplier-nation per
    order-year profit on widget parts, where profit = revenue minus a
    cost proxy (half retail price x quantity — the fixture has no
    ps_supplycost). Both products are cast to DECIMAL(38,8) BEFORE the
    subtraction so the sum is order-free; dims broadcast; the lineitem->
    orders join is the one big shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(DEC)
    cost = (F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")).cast(DEC)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == sn["n_nationkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.sum(rev - cost).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q199_important_stock",
    oracle="""
    WITH v AS (
      SELECT l.l_partkey AS p_key,
             sum(CAST(l.l_quantity * p.p_retailprice AS DECIMAL(38,8))) AS val
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'AFRICA'
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p_key
    ),
    tot AS (SELECT sum(val) AS total, count(*) AS n_parts FROM v)
    SELECT v.p_key AS p_partkey, CAST(v.val AS DOUBLE) AS stock_value
    FROM v, tot
    WHERE v.val * tot.n_parts > tot.total * 2
    ORDER BY stock_value DESC, p_partkey
    """,
)
def q199_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): parts whose
    AFRICA-supplied inventory value exceeds twice the average part's —
    the global-scalar HAVING threshold, made scale-invariant (a fixed
    fraction like TPC-H's 0.0001 empties or floods as the part count
    changes). The scalar (total, n_parts) rides a broadcast crossJoin
    of a 1-row aggregate, and the comparison val*n_parts > total*2
    stays in DECIMAL x BIGINT space — no division, no drift between
    engines. One aggregate shuffle on partkey."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    v = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("l_partkey").alias("p_key"))
        .agg(
            F.sum((F.col("l_quantity") * F.col("p_retailprice")).cast(DEC)).alias(
                "val"
            )
        )
    )
    tot = v.agg(F.sum("val").alias("total"), F.count(F.lit(1)).alias("n_parts"))
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(F.col("val") * F.col("n_parts") > F.col("total") * 2)
        .select(
            F.col("p_key").alias("p_partkey"),
            F.col("val").cast("double").alias("stock_value"),
        )
        .orderBy(F.desc("stock_value"), "p_partkey")
    )


@register(
    "q200_customer_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q200_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join so
    zero-order customers survive with c_count=0, the join predicate (not
    a WHERE) carrying the priority exclusion, then a second aggregate
    over the counts. Two shuffles: custkey join+agg, then the tiny
    distribution agg. count(o_orderkey) — not count(*) — so NULL
    (no-match) rows count as zero, matching SQL semantics exactly."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q201_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,8)))
               AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY supplier_no
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
    FROM supplier s
    JOIN revenue r ON r.supplier_no = s.s_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q201_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    return every supplier tying the maximum — the scalar-max subquery
    over a derived view. The max rides a broadcast crossJoin of a 1-row
    aggregate and the tie test compares DECIMAL to DECIMAL (exact), cast
    to DOUBLE only in the output projection."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(DEC)
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev")
        )
        .orderBy("s_suppkey")
    )


@register(
    "q202_small_quantity_revenue",
    oracle="""
    WITH stats AS (
      SELECT l_partkey AS pk, sum(l_quantity) AS sq,
             count(*) AS cnt
      FROM lineitem GROUP BY pk
    )
    SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,8)))
                 AS DOUBLE) / 7.0, 6) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1'
    JOIN stats st ON st.pk = l.l_partkey
    WHERE l.l_quantity * 5 * st.cnt < st.sq
    """,
)
def q202_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lines whose
    quantity is below 20% of their part's average — the correlated
    per-part AVG becomes a groupBy stats table joined back, and the
    fractional comparison qty < 0.2*sum/cnt is cross-multiplied to
    qty*5*cnt < sum so it stays in exact integral-double space (every
    l_quantity is integral; sums stay under 2^53). One agg shuffle +
    one join-back shuffle; part dim broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    stats = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("l_quantity").alias("sq"), F.count(F.lit(1)).alias("cnt")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(stats, li["l_partkey"] == stats["pk"])
        .filter(F.col("l_quantity") * 5 * F.col("cnt") < F.col("sq"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0, 6
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q203_disjunctive_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(38,8))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q203_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates): an
    OR-of-ANDs mixing both join sides. The partkey equi-join stays
    hashable with the disjunction applied as a join residual — Catalyst
    must NOT fall back to a nested-loop join; part pre-filters to the
    union of the three brands so the broadcast side stays tiny."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#2", "Brand#13", "Brand#24")
    ).select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    q = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(branch)
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                    DEC
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q204_part_promotion_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l.l_suppkey, l.l_partkey,
             sum(CASE WHEN l.l_shipdate >= TIMESTAMP '1997-01-01'
                       AND l.l_shipdate < TIMESTAMP '1998-01-01'
                      THEN l.l_quantity ELSE 0 END) AS q97,
             sum(l.l_quantity) AS qall
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
      GROUP BY l.l_suppkey, l.l_partkey
    )
    SELECT s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM shipped WHERE q97 * 2 > qall)
    ORDER BY s.s_name
    """,
)
def q204_part_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers whose 1997
    shipments of a PROMO part exceed half that pair's all-time volume —
    the nested IN-subquery chain (part filter inside quantity threshold
    inside supplier IN) becomes agg -> filter -> LEFT SEMI join, the
    availqty>0.5*shipped test cross-multiplied (q97*2 > qall) to stay in
    exact integral-double space. No DISTINCT needed: semi join dedups."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    in97 = (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    shipped = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in97, F.col("l_quantity")).otherwise(F.lit(0.0))).alias(
                "q97"
            ),
            F.sum("l_quantity").alias("qall"),
        )
        .filter(F.col("q97") * 2 > F.col("qall"))
        .select("l_suppkey")
        .distinct()  # bounded by supplier count — broadcastable at any scale
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(F.broadcast(shipped), s["s_suppkey"] == shipped["l_suppkey"], "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .select("s_name", F.col("n_name").alias("nation"))
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Sequential-recurrence and manifest operators: EWMA (affine fold), Merkle
# corpus manifest, Lindley-reflected running balance, embedding covariance
# ---------------------------------------------------------------------------


@register(
    "q205_ewma_smoothing",
    oracle="""
    WITH seq AS (
      SELECT user_id, value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, ts, event_id
    )
    SELECT user_id,
           list_reduce(list(value), (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma,
           CAST(count(*) AS BIGINT) AS n_events
    FROM seq GROUP BY user_id ORDER BY user_id
    """,
)
def q205_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.5) of event value per
    user — a sequential recurrence s_t = a*x_t + (1-a)*s_{t-1} that no
    window frame expresses directly. Both engines run the IDENTICAL
    left-fold over the identically-ordered per-user sequence (Spark
    F.aggregate over a sorted collect_list vs DuckDB list_reduce over an
    ordered list), so every IEEE operation matches bit-for-bit — exact
    equality without rounding. The per-user array is bounded by user
    history; at 100 TB the chunked alternative composes affine maps
    (s_out = A*s_in + B per chunk, A=(1-a)^k) which are associative and
    re-combinable — documented, not needed at fixture scale."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    seq = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("hist")
    )
    return seq.select(
        "user_id",
        F.aggregate(
            F.slice("hist", 2, F.size("hist") - 1),
            F.element_at("hist", 1)["value"],
            lambda acc, x: F.lit(0.5) * x["value"] + F.lit(0.5) * acc,
        ).alias("ewma"),
        F.size("hist").cast("long").alias("n_events"),
    ).orderBy("user_id")


@register(
    "q206_merkle_manifest",
    oracle="""
    WITH leaf AS (
      SELECT source, doc_id % 16 AS bucket, md5(text) AS h
      FROM documents
    ),
    shard AS (
      SELECT source, bucket,
             md5(string_agg(h, '' ORDER BY h)) AS shard_hash,
             count(*) AS n_docs
      FROM leaf GROUP BY source, bucket
    )
    SELECT source,
           md5(string_agg(shard_hash, '' ORDER BY bucket)) AS root_hash,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_shards
    FROM shard GROUP BY source ORDER BY source
    """,
)
def q206_merkle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Merkle manifest per corpus source: leaf = md5(text),
    shard hash = md5 over the SORTED concatenation of its leaves (order-
    free by construction), root = md5 over shard hashes in bucket order.
    The audit primitive for corpus snapshots — two manifests differ iff
    some document differs, and the differing shard is locatable without
    rescanning (the reference's checksum-compare mode, sqlserver2pgsql.pl
    diff domain, lifted to content manifests). The two-level tree bounds
    every concat to one shard's hashes — no single giant string_agg at
    100 TB; deepen the tree for wider corpora."""
    d = _t(spark, sf_dir, "documents").select(
        "source",
        (F.col("doc_id") % 16).alias("bucket"),
        F.md5("text").alias("h"),
    )
    shard = d.groupBy("source", "bucket").agg(
        F.md5(F.concat_ws("", F.array_sort(F.collect_list("h")))).alias(
            "shard_hash"
        ),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return (
        shard.groupBy("source")
        .agg(
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("bucket", "shard_hash"))
                        ),
                        lambda s: s["shard_hash"],
                    ),
                )
            ).alias("root_hash"),
            F.sum("n_docs").alias("n_docs"),
            F.count(F.lit(1)).alias("n_shards"),
        )
        .orderBy("source")
    )


@register(
    "q207_clamped_running_balance",
    oracle="""
    WITH RECURSIVE s AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             CAST(floor(value * 100 + 0.5) AS BIGINT) - 10000 AS d
      FROM events WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT user_id, rn, GREATEST(CAST(0 AS BIGINT), d) AS bal
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, GREATEST(CAST(0 AS BIGINT), r.bal + s.d)
      FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id,
           max(CASE WHEN rn = mx THEN bal END) AS final_cents,
           max(bal) AS peak_cents,
           CAST(mx AS BIGINT) AS n_purchases
    FROM (SELECT r.*, max(rn) OVER (PARTITION BY user_id) AS mx FROM r)
    GROUP BY user_id, mx ORDER BY user_id
    """,
)
def q207_clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-clamped running balance (inventory that can't go negative):
    b_t = max(0, b_{t-1} + d_t) — a NON-linear recurrence. The oracle runs
    the literal recursion (recursive CTE, one row per step); the Spark
    side uses the closed-form Lindley/Skorokhod reflection identity
    b_t = p_t - min(0, min_{i<=t} p_i) over plain prefix-sum windows — an
    independent derivation, so a bug in either side surfaces as a
    mismatch (the two-formulation discipline the shared-formula oracle
    trap demands). Deltas are integer cents (floor(v*100+0.5) - 10000),
    so every comparison is exact. Two window passes over one shuffle."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    d = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") - F.lit(10000)
        ).alias("d"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_rn = W.partitionBy("user_id").orderBy("rn")
    bal = (
        d.select(
            "user_id",
            F.row_number().over(w).alias("rn"),
            F.sum("d").over(w).alias("p"),
        )
        .select(
            "user_id",
            "rn",
            "p",
            F.least(F.lit(0).cast("long"), F.min("p").over(w_rn)).alias("floor_p"),
        )
        .select("user_id", "rn", (F.col("p") - F.col("floor_p")).alias("bal"))
    )
    return (
        bal.groupBy("user_id")
        .agg(
            F.max_by("bal", "rn").alias("final_cents"),
            F.max("bal").alias("peak_cents"),
            F.count(F.lit(1)).alias("n_purchases"),
        )
        .orderBy("user_id")
    )


@register(
    "q208_embedding_covariance",
    oracle=f"""
    WITH {_VFX_SQL},
    pairs AS (
      SELECT a.label, a.pos AS pos_x, b.pos AS pos_y,
             CAST(a.v_fx * b.v_fx AS DECIMAL(38,0)) AS xy,
             CAST(a.v_fx AS DECIMAL(38,0)) AS x,
             CAST(b.v_fx AS DECIMAL(38,0)) AS y
      FROM vfx a JOIN vfx b
        ON a.vec_id = b.vec_id AND a.label = b.label
       AND a.pos < 8 AND b.pos < 8 AND a.pos <= b.pos
    )
    SELECT label, pos_x, pos_y,
           round(CAST(count(*) * sum(xy) - sum(x) * sum(y) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * count(*)
                    * {float(EMB_SCALE)} * {float(EMB_SCALE)}), 12) AS cov,
           CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY label, pos_x, pos_y
    ORDER BY label, pos_x, pos_y
    """,
)
def q208_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label covariance matrix over the first 8 embedding dimensions
    (36 upper-triangle cells per label) — the drift-detection /
    whitening primitive. All moments (n, Sx, Sy, Sxy) accumulate in
    DECIMAL(38,0) fixed-point (the +1.0 offset cancels: covariance is
    shift-invariant), so sums are order-free; cov = (n*Sxy - Sx*Sy)/n^2
    is ONE final double expression, round(12). The pair products are
    generated per row BEFORE aggregation (a flat transform over the
    8-dim slice — no self-join, unlike the oracle), so the single
    shuffle carries only 36 partial cells per label per map task."""
    emb = _t(spark, sf_dir, "embeddings")
    fx = emb.select(
        "label",
        F.transform(
            F.slice("embedding", 1, 8),
            lambda v: F.floor((v.cast("double") + F.lit(1.0)) * EMB_SCALE).cast(
                "long"
            ),
        ).alias("fx"),
    )
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: F.transform(
                F.sequence(i, F.lit(7)),
                lambda j: F.struct(
                    i.alias("pos_x"),
                    j.alias("pos_y"),
                    (
                        F.element_at("fx", i + 1) * F.element_at("fx", j + 1)
                    ).alias("xy"),
                    F.element_at("fx", i + 1).alias("x"),
                    F.element_at("fx", j + 1).alias("y"),
                ),
            ),
        )
    )
    cells = fx.select("label", F.explode(pair_structs).alias("c")).select(
        "label",
        F.col("c.pos_x").cast("long").alias("pos_x"),
        F.col("c.pos_y").cast("long").alias("pos_y"),
        F.col("c.xy").cast("decimal(38,0)").alias("xy"),
        F.col("c.x").cast("decimal(38,0)").alias("x"),
        F.col("c.y").cast("decimal(38,0)").alias("y"),
    )
    s2 = float(EMB_SCALE) * float(EMB_SCALE)
    return (
        cells.groupBy("label", "pos_x", "pos_y")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xy").alias("sxy"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
        )
        .select(
            "label",
            "pos_x",
            "pos_y",
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                    "double"
                )
                / (F.col("n").cast("double") * F.col("n") * F.lit(s2)),
                12,
            ).alias("cov"),
            "n",
        )
        .orderBy("label", "pos_x", "pos_y")
    )


@register(
    "q209_span_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    spans AS (
      SELECT doc_id, i, md5(array_to_string(t[i:i+7], ' ')) AS h
      FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i) g
      WHERE len(t) >= 8
    ),
    dup AS (
      SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    marked AS (SELECT s.doc_id, s.i FROM spans s JOIN dup USING (h)),
    islands AS (
      SELECT doc_id, i AS s, i + 7 AS e,
             CASE WHEN i > coalesce(max(i + 7) OVER (
                    PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), -1) + 1 THEN 1 ELSE 0 END AS brk
      FROM marked
    ),
    merged AS (
      SELECT doc_id,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS island,
             s, e
      FROM islands
    ),
    covered AS (
      SELECT doc_id, CAST(sum(mx - mn + 1) AS BIGINT) AS covered_tokens
      FROM (SELECT doc_id, island, min(s) AS mn, max(e) AS mx
            FROM merged GROUP BY doc_id, island)
      GROUP BY doc_id
    ),
    per_doc AS (
      SELECT s.doc_id,
             CAST(count(*) AS BIGINT) AS n_spans,
             CAST(count(*) FILTER (WHERE d.h IS NOT NULL) AS BIGINT)
               AS n_dup_spans
      FROM spans s LEFT JOIN dup d USING (h)
      GROUP BY s.doc_id
    )
    SELECT p.doc_id, p.n_spans, p.n_dup_spans,
           coalesce(c.covered_tokens, 0) AS covered_tokens,
           round(CAST(p.n_dup_spans AS DOUBLE) / p.n_spans, 6) AS dup_ratio
    FROM per_doc p LEFT JOIN covered c ON c.doc_id = p.doc_id
    ORDER BY p.doc_id
    """,
)
def q209_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup (the training-data dedup primitive
    of Lee et al., 'Deduplicating Training Data Makes Language Models
    Better', ACL'22 — suffix-array spans re-expressed as rolling 8-token
    window hashes, which Spark aggregates natively): a span is duplicated
    when its hash appears in >=2 distinct documents. Per doc: total
    spans, duplicated spans, and the token count covered by the MERGED
    duplicated extents (overlapping spans coalesced with the island-gap
    window trick, q144's shape at token granularity) — the number a
    rewrite pass would remove. Scale shape: one postings aggregation on
    span hash (count-distinct-docs), one hash join back, one doc window
    — no suffix array, no global sort; the span table is ~|tokens| rows,
    linear in corpus size."""
    # span hashing is the hot loop and the documents scan is one split —
    # spread the narrow (id, text) rows before the tokenize + explode
    d = spread(_t(spark, sf_dir, "documents").select("doc_id", "text")).select(
        "doc_id", F.split(F.lower("text"), " ").alias("t")
    ).filter(F.size("t") >= 8)
    spans = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 7),
                lambda i: F.struct(
                    i.alias("i"),
                    F.md5(F.concat_ws(" ", F.slice("t", i, 8))).alias("h"),
                ),
            )
        ).alias("sp"),
    ).select("doc_id", F.col("sp.i").alias("i"), F.col("sp.h").alias("h"))
    # "appears in >= 2 distinct docs" is exactly min(doc) != max(doc):
    # min/max partial-aggregate map-side in ONE phase, where countDistinct
    # plans a two-phase distinct expand (an extra exchange keyed
    # (h, doc_id) carrying the whole span table)
    dup = (
        spans.groupBy("h")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("h")
    )
    tagged = spans.join(dup.withColumn("is_dup", F.lit(1)), "h", "left")
    # ONE doc aggregation computes the span counts AND collects the dup-span
    # positions; the island merge (coalesce overlapping [i, i+7] extents,
    # sum merged lengths) is a linear fold over the doc's own sorted
    # position array — dup positions per doc are doc-length-bounded, so the
    # per-doc window pass, the two-level island aggregation and the
    # per_doc ⋈ covered join of the previous shape collapse into this agg.
    # Integer arithmetic throughout — exact.
    per_doc = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("long").alias(
            "n_dup_spans"
        ),
        F.sort_array(
            F.collect_list(
                F.when(F.col("is_dup") == 1, F.col("i").cast("long"))
            )
        ).alias("pos"),
    )
    # fold state: (covered-so-far, current island start, current island end);
    # mn = -1 marks "no island open yet" (positions are >= 1). Ascending
    # positions make the running end monotone, so `i > mx + 1` is exactly
    # the oracle's break condition and the finish lambda closes the last
    # island. Empty pos folds to 0 = the oracle's coalesce(covered, 0).
    covered = F.expr(
        """
        aggregate(
          pos,
          named_struct('cov', CAST(0 AS BIGINT), 'mn', CAST(-1 AS BIGINT),
                       'mx', CAST(-1 AS BIGINT)),
          (st, i) -> IF(st.mn < 0,
                        named_struct('cov', CAST(0 AS BIGINT), 'mn', i,
                                     'mx', i + CAST(7 AS BIGINT)),
                        IF(i > st.mx + 1,
                           named_struct('cov', st.cov + st.mx - st.mn + 1,
                                        'mn', i, 'mx', i + CAST(7 AS BIGINT)),
                           named_struct('cov', st.cov, 'mn', st.mn,
                                        'mx', i + CAST(7 AS BIGINT)))),
          st -> IF(st.mn < 0, CAST(0 AS BIGINT),
                   st.cov + st.mx - st.mn + 1))
        """
    )
    return (
        per_doc.select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            covered.alias("covered_tokens"),
            F.round(
                F.col("n_dup_spans").cast("double") / F.col("n_spans"), 6
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "q210_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE)
             AS sum_price,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q210_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink→source round-trip through ORC (the second columnar format the
    engine supports natively, zlib-compressed): lineitem written as ORC,
    read back with a date predicate that must reach the ORC reader as a
    pushed filter (ORC keeps min/max stripe statistics exactly for this),
    aggregated. The oracle sees only the original parquet — the format
    conversion must be lossless including timestamps and doubles. Extends
    the reference's bulk-load sink surface (sqlserver2pgsql.pl job
    generation) to a second interchange format."""
    import shutil
    import tempfile

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_shipdate",
        "l_extendedprice", "l_quantity",
    )
    out = tempfile.mkdtemp(prefix="spark_graft_q210_")
    try:
        li.write.mode("overwrite").option("compression", "zlib").orc(out)
        back = spark.read.orc(out).filter(F.col("l_shipdate") >= "1997-01-01")
        result = (
            back.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias(
                    "sum_price"
                ),
                F.sum("l_quantity").cast("double").alias("sum_qty"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q211_anova_oneway",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS DECIMAL(38,0)) AS s,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                      * CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS DECIMAL(38,0)) AS q
      FROM events GROUP BY event_type
    ),
    terms AS (
      SELECT event_type, n, s, q,
             CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 9)
                  AS DECIMAL(28,9)) AS sq_over_n
      FROM g
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS k,
             sum(s) AS ss, sum(q) AS qq, sum(sq_over_n) AS b
      FROM terms
    )
    SELECT t.event_type,
           t.n,
           round(CAST(t.s AS DOUBLE) / (t.n * 100.0), 6) AS mean_value,
           round(
             CAST(
               (CAST(tot.b AS DOUBLE)
                - CAST(tot.ss AS DOUBLE) * CAST(tot.ss AS DOUBLE) / tot.nn)
               / (tot.k - 1)
             AS DOUBLE)
             / ((CAST(tot.qq AS DOUBLE) - CAST(tot.b AS DOUBLE))
                / (tot.nn - tot.k)),
             6) AS f_stat
    FROM terms t, tot ORDER BY t.event_type
    """,
)
def q211_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types (completes the hypothesis-test
    suite beside Welch-t, chi-square, KS, Mann-Kendall): F = between-group
    variance / within-group variance. All moments (n, S, Q) accumulate in
    integer-cents DECIMAL(38,0) (order-free); the one order-sensitive
    float reduction — summing S_g^2/n_g across groups — is rounded to 9
    places per term and summed in DECIMAL(28,9), the round-then-decimal
    trick that makes the sum order-free too. One aggregate shuffle over
    k=|event_type| groups; the F math runs on the k-row table with a
    broadcast of the 1-row grand totals."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    g = (
        _t(spark, sf_dir, "events")
        .select("event_type", cents.alias("c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
            F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("q"),
        )
    )
    terms = g.select(
        "*",
        F.round(
            F.col("s").cast("double") * F.col("s").cast("double") / F.col("n"), 9
        ).cast("decimal(28,9)").alias("sq_over_n"),
    )
    tot = terms.agg(
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).alias("k"),
        F.sum("s").alias("ss"),
        F.sum("q").alias("qq"),
        F.sum("sq_over_n").alias("b"),
    )
    ssb = (
        F.col("b").cast("double")
        - F.col("ss").cast("double") * F.col("ss").cast("double") / F.col("nn")
    )
    ssw = F.col("qq").cast("double") - F.col("b").cast("double")
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n",
            F.round(F.col("s").cast("double") / (F.col("n") * F.lit(100.0)), 6)
            .alias("mean_value"),
            F.round(
                (ssb / (F.col("k") - 1)) / (ssw / (F.col("nn") - F.col("k"))), 6
            ).alias("f_stat"),
        )
        .orderBy("event_type")
    )


@register(
    "q212_nested_roundtrip",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(38,8))) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
)
def q212_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema round-trip: orders nested with their lineitems as an
    array<struct> column (the document-shaped layout denormalized feeds
    and JSON-lake tables use), written to parquet, read back, exploded,
    and aggregated — against a flat-join oracle that never sees the
    nested form. Verifies lossless nested parquet encoding, including
    array-of-struct field order and decimal-valued doubles. The nested
    build is one groupBy on orderkey (the same shuffle the join would
    pay); at 100 TB the nested table is written once and every
    per-order access pattern afterwards is shuffle-free."""
    import shutil
    import tempfile

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    nested = (
        li.groupBy("l_orderkey")
        .agg(
            F.collect_list(
                F.struct("l_extendedprice", "l_discount")
            ).alias("lines")
        )
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .select("o_orderkey", "o_orderstatus", "lines")
    )
    out = tempfile.mkdtemp(prefix="spark_graft_q212_")
    try:
        nested.write.mode("overwrite").parquet(out)
        back = spark.read.schema(footer_schema(out)).parquet(out)
        result = (
            back.select("o_orderstatus", F.explode("lines").alias("ln"))
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(
                    (
                        F.col("ln.l_extendedprice")
                        * (F.lit(1) - F.col("ln.l_discount"))
                    ).cast(DEC)
                ).cast("double").alias("revenue"),
            )
            .orderBy("o_orderstatus")
        )
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q213_schema_evolution_merge",
    oracle="""
    WITH unioned AS (
      SELECT event_id, user_id, value, NULL AS event_type
      FROM events WHERE event_id % 2 = 0
      UNION ALL
      SELECT event_id, user_id, value, event_type
      FROM events WHERE event_id % 2 = 1
    )
    SELECT coalesce(event_type, '<pre-schema>') AS event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE) AS sum_value,
           CAST(min(event_id) AS BIGINT) AS min_id
    FROM unioned GROUP BY 1 ORDER BY 1
    """,
)
def q213_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: an old batch written WITHOUT event_type and
    a new batch written WITH it land in the same dataset; the reader
    merges the schemas (mergeSchema=true) and old rows surface with NULL
    in the added column — the append-only schema-evolution contract every
    long-lived lake table needs (the reference handles this as ALTER
    TABLE ADD COLUMN mid-sync; here it's metadata-only). The oracle
    builds the same union explicitly. Aggregation groups the NULL
    old-schema rows under a sentinel."""
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    )
    new = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "value", "event_type"
    )
    out = tempfile.mkdtemp(prefix="spark_graft_q213_")
    try:
        old.write.mode("overwrite").parquet(out + "/batch=1")
        new.write.mode("overwrite").parquet(out + "/batch=2")
        back = spark.read.option("mergeSchema", "true").parquet(out)
        result = (
            back.groupBy(
                F.coalesce("event_type", F.lit("<pre-schema>")).alias(
                    "event_type"
                )
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
                F.min("event_id").alias("min_id"),
            )
            .orderBy("event_type")
        )
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q214_binned_quantile_sketch",
    oracle="""
    WITH cents AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
    ),
    bins AS (
      SELECT c // 64 AS bin, CAST(count(*) AS BIGINT) AS cnt
      FROM cents GROUP BY bin
    ),
    cum AS (
      SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum,
             (SELECT count(*) FROM cents) AS n
      FROM bins
    ),
    qs AS (SELECT unnest([25, 50, 75, 90, 99]) AS q),
    ranks AS (
      SELECT q, CAST(ceil(q * (SELECT count(*) FROM cents) / 100.0)
                     AS BIGINT) AS r
      FROM qs
    ),
    sketch AS (
      SELECT r.q, r.r, min(c.bin) AS hit_bin
      FROM ranks r JOIN cum c ON c.cum >= r.r
      GROUP BY r.q, r.r
    ),
    vals AS (
      SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM cents GROUP BY c
    ),
    vcum AS (SELECT c, sum(cnt) OVER (ORDER BY c) AS cum FROM vals),
    exact AS (
      SELECT r.q, min(v.c) AS exact_cents
      FROM ranks r JOIN vcum v ON v.cum >= r.r
      GROUP BY r.q
    )
    SELECT s.q AS quantile,
           s.hit_bin * 64 AS sketch_lo_cents,
           s.hit_bin * 64 + 63 AS sketch_hi_cents,
           e.exact_cents,
           CAST(e.exact_cents >= s.hit_bin * 64
                AND e.exact_cents <= s.hit_bin * 64 + 63 AS BOOLEAN)
             AS bin_contains_exact
    FROM sketch s JOIN exact e ON e.q = s.q
    ORDER BY quantile
    """,
)
def q214_binned_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable binned-quantile sketch with exact verification (the
    fourth sketch beside HLL, count-min, and Misra-Gries): values bin to
    64-cent buckets — per-partition bin counts merge by addition, the
    mergeability that t-digest/KLL buy with far more machinery — and each
    requested quantile resolves to the first bin whose cumulative count
    reaches ceil(q*n). The verifier computes the true quantile from exact
    value counts and asserts it falls inside the sketch bin (boolean
    column, so the oracle comparison proves the containment guarantee,
    not just the estimate). All integer math. Plan: one ~766-row bin agg
    + one value-count agg bounded by the cents domain; the cumulative
    windows run on sketch-sized tables."""
    ev = _t(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c")
    )
    n_row = ev.agg(F.count(F.lit(1)).alias("n"))
    bins = ev.groupBy((F.col("c") / 64).cast("long").alias("bin")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = bins.select(
        "bin", "cnt", F.sum("cnt").over(W.orderBy("bin")).alias("cum")
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in (25, 50, 75, 90, 99)])).alias("q")
    )
    ranks = qs.crossJoin(F.broadcast(n_row)).select(
        "q", F.ceil(F.col("q") * F.col("n") / F.lit(100.0)).cast("long").alias("r")
    )
    sketch = (
        cum.crossJoin(F.broadcast(ranks))
        .filter(F.col("cum") >= F.col("r"))
        .groupBy("q")
        .agg(F.min("bin").alias("hit_bin"))
    )
    vals = ev.groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    vcum = vals.select("c", F.sum("cnt").over(W.orderBy("c")).alias("cum"))
    exact = (
        vcum.crossJoin(F.broadcast(ranks))
        .filter(F.col("cum") >= F.col("r"))
        .groupBy("q")
        .agg(F.min("c").alias("exact_cents"))
    )
    return (
        sketch.join(exact, "q")
        .select(
            F.col("q").alias("quantile"),
            (F.col("hit_bin") * 64).alias("sketch_lo_cents"),
            (F.col("hit_bin") * 64 + 63).alias("sketch_hi_cents"),
            "exact_cents",
            (
                (F.col("exact_cents") >= F.col("hit_bin") * 64)
                & (F.col("exact_cents") <= F.col("hit_bin") * 64 + 63)
            ).alias("bin_contains_exact"),
        )
        .orderBy("quantile")
    )


@register(
    "q215_silhouette_score",
    oracle=f"""
    WITH {_VFX_SQL},
    cent AS (
      SELECT label, pos, CAST(sum(v_fx) // count(*) AS BIGINT) AS c_fx
      FROM vfx GROUP BY label, pos
    ),
    dist AS (
      SELECT v.vec_id, v.label AS true_label, c.label AS cand,
             CAST(sum((v.v_fx - c.c_fx) * (v.v_fx - c.c_fx)) AS BIGINT) AS d2
      FROM vfx v JOIN cent c ON v.pos = c.pos
      GROUP BY v.vec_id, v.label, c.label
    ),
    ab AS (
      SELECT vec_id, true_label,
             max(CASE WHEN cand = true_label THEN d2 END) AS a2,
             min(CASE WHEN cand <> true_label THEN d2 END) AS b2
      FROM dist GROUP BY vec_id, true_label
    ),
    s AS (
      SELECT vec_id, true_label,
             CASE WHEN greatest(a2, b2) = 0 THEN CAST(0 AS DECIMAL(28,9))
                  ELSE CAST(round((sqrt(CAST(b2 AS DOUBLE))
                                   - sqrt(CAST(a2 AS DOUBLE)))
                                  / sqrt(CAST(greatest(a2, b2) AS DOUBLE)), 9)
                            AS DECIMAL(28,9)) END AS sil
      FROM ab
    )
    SELECT true_label AS label,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(sil) AS DOUBLE) / count(*), 6) AS mean_silhouette
    FROM s GROUP BY true_label ORDER BY label
    """,
)
def q215_silhouette_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per label — the
    clustering-quality metric: a = distance to own centroid, b = distance
    to the nearest other centroid, s = (b-a)/max(a,b). Distances are
    exact BIGINT fixed-point squares; sqrt is IEEE-correctly-rounded so
    both engines produce identical doubles; per-point scores round(9)
    into DECIMAL(28,9) before the per-label mean so the reduction is
    order-free (the round-then-decimal discipline). Same centroid
    broadcast shape as the k-means E-step (q103): the corpus shuffles
    twice, centroid table is k*dim rows."""
    vfx = _vfx(spark, sf_dir).localCheckpoint(eager=False)
    cent = vfx.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.expr("sum(v_fx) div count(1)").cast("long").alias("c_fx")
    )
    diff = F.col("v_fx") - F.col("c_fx")
    dist = (
        vfx.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(diff * diff).cast("long").alias("d2"))
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias("b2"),
    )
    g = F.greatest("a2", "b2")
    sil = F.when(g == 0, F.lit(0).cast("decimal(28,9)")).otherwise(
        F.round(
            (F.sqrt(F.col("b2").cast("double")) - F.sqrt(F.col("a2").cast("double")))
            / F.sqrt(g.cast("double")),
            9,
        ).cast("decimal(28,9)")
    )
    return (
        ab.select("label", sil.alias("sil"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("sil").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("label")
    )


@register(
    "q216_isotonic_calibration",
    oracle="""
    WITH base AS (
      SELECT event_type AS g, value, event_id,
             CAST(event_id % 2 AS BIGINT) AS y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn
      FROM events WHERE user_id < 12
    ),
    pre AS (
      SELECT g, rn, y,
             sum(y) OVER (PARTITION BY g ORDER BY rn) AS p
      FROM base
    ),
    pairs AS (
      SELECT a.g, a.rn AS j, b.rn AS k,
             CAST(b.p - a.p + a.y AS DOUBLE) / (b.rn - a.rn + 1) AS avg_jk
      FROM pre a JOIN pre b ON a.g = b.g AND b.rn >= a.rn
    ),
    suffix_min AS (
      SELECT g, j, min(avg_jk) AS m FROM pairs GROUP BY g, j
    ),
    fitted AS (
      SELECT g, j AS rn,
             max(m) OVER (PARTITION BY g ORDER BY j) AS fit
      FROM suffix_min
    )
    SELECT b.g AS event_type, b.rn AS rn, b.y, round(f.fit, 9) AS fitted
    FROM base b JOIN fitted f ON f.g = b.g AND f.rn = b.rn
    ORDER BY event_type, b.rn
    """,
)
def q216_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (probability calibration) per event type: fit
    the best monotone non-decreasing approximation of a binary outcome
    ordered by score — computed via the minimax closed form
    fit[i] = max_{j<=i} min_{k>=j} avg(y[j..k]), which equals the
    pool-adjacent-violators solution (Robertson et al., 'Order Restricted
    Statistical Inference', the PAV minimax identity) but needs no
    sequential pool-merge loop: prefix sums turn every interval average
    into one identical IEEE division, a pair join + group-min gives the
    suffix minima, a running-max window finishes. Verified against a
    literal numpy PAV in pytest (the oracle shares the minimax formula,
    so the unit test carries the independent-derivation burden). The
    pair join is O(n^2) per group — bounded here by the user filter;
    the scale path is operators/isotonic.py:isotonic_fit (blocked PAV:
    O(B^2) per block + a weighted pool-level pass, verified bit-equal
    to this direct form in test_blocked_pav_equals_direct_minimax)."""
    base = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 12)
        .select(
            F.col("event_type").alias("g"),
            "value",
            "event_id",
            (F.col("event_id") % 2).cast("long").alias("y"),
        )
        .select(
            "g", "y",
            F.row_number()
            .over(W.partitionBy("g").orderBy("value", "event_id"))
            .alias("rn"),
        )
    )
    pre = base.select(
        "g", "rn", "y",
        F.sum("y").over(W.partitionBy("g").orderBy("rn")).alias("p"),
    )
    a = pre.select(
        F.col("g"), F.col("rn").alias("j"), F.col("y").alias("ay"),
        F.col("p").alias("ap"),
    )
    b = pre.select(
        F.col("g").alias("bg"), F.col("rn").alias("k"), F.col("p").alias("bp")
    )
    pairs = a.join(
        b, (a["g"] == b["bg"]) & (F.col("k") >= F.col("j"))
    ).select(
        "g", "j",
        (
            (F.col("bp") - F.col("ap") + F.col("ay")).cast("double")
            / (F.col("k") - F.col("j") + 1)
        ).alias("avg_jk"),
    )
    suffix_min = pairs.groupBy("g", "j").agg(F.min("avg_jk").alias("m"))
    fitted = suffix_min.select(
        "g", F.col("j").alias("rn"),
        F.max("m").over(W.partitionBy("g").orderBy("j")).alias("fit"),
    )
    return (
        base.join(fitted, ["g", "rn"])
        .select(
            F.col("g").alias("event_type"), "rn", "y",
            F.round("fit", 9).alias("fitted"),
        )
        .orderBy("event_type", "rn")
    )


@register(
    "q217_ndcg_eval",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT t.term, x.doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM toks x JOIN (SELECT unnest(['join', 'hash', 'scan']) AS term) t
        ON x.tok = t.term
      GROUP BY t.term, x.doc_id
    ),
    graded AS (
      SELECT term, doc_id, tf, least(tf, 3) AS rel,
             row_number() OVER (PARTITION BY term
                                ORDER BY tf DESC, doc_id) AS rk,
             row_number() OVER (PARTITION BY term
                                ORDER BY least(tf, 3) DESC, doc_id) AS irk
      FROM tf
    ),
    terms AS (
      SELECT term,
             CASE WHEN rk <= 10 THEN
               CAST(round((pow(2, rel) - 1) / log2(rk + 1.0), 9)
                    AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END AS dg,
             CASE WHEN irk <= 10 THEN
               CAST(round((pow(2, rel) - 1) / log2(irk + 1.0), 9)
                    AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END AS ig
      FROM graded
    )
    SELECT term,
           CAST(sum(dg) AS DOUBLE) AS dcg10,
           CAST(sum(ig) AS DOUBLE) AS idcg10,
           round(CAST(sum(dg) AS DOUBLE) / CAST(sum(ig) AS DOUBLE), 6)
             AS ndcg10
    FROM terms GROUP BY term ORDER BY term
    """,
)
def q217_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: nDCG@10 per probe query — the IR
    metric that grades the retrieval stack (q142 index, q147 BM25, q163
    fusion). System ranking orders by exact term frequency; graded
    relevance rel = min(tf, 3); ideal ranking re-sorts by relevance.
    Every DCG term (2^rel - 1)/log2(rank+1) rounds to 9 places into
    DECIMAL(28,9) before summation (log2 differs from libm in the last
    ulp; the round-then-decimal trick pins both engines), and nDCG is
    one final division. Plan: one tf aggregation (probe terms filter
    BEFORE the agg — the scan carries 3 terms, not the vocabulary), two
    rank windows per term partition, one 10-row-per-term reduce."""
    terms = ("join", "hash", "scan")
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.col("tok").isin(*terms))
    tf = toks.groupBy(F.col("tok").alias("term"), "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    rel = F.least(F.col("tf"), F.lit(3))
    graded = tf.select(
        "term", "doc_id", "tf", rel.alias("rel"),
        F.row_number()
        .over(W.partitionBy("term").orderBy(F.desc("tf"), "doc_id"))
        .alias("rk"),
        F.row_number()
        .over(W.partitionBy("term").orderBy(rel.desc(), "doc_id"))
        .alias("irk"),
    )
    zero = F.lit(0).cast("decimal(28,9)")
    gain = lambda r: (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(
        F.col(r) + F.lit(1.0)
    )
    dg = F.when(
        F.col("rk") <= 10, F.round(gain("rk"), 9).cast("decimal(28,9)")
    ).otherwise(zero)
    ig = F.when(
        F.col("irk") <= 10, F.round(gain("irk"), 9).cast("decimal(28,9)")
    ).otherwise(zero)
    return (
        graded.select("term", dg.alias("dg"), ig.alias("ig"))
        .groupBy("term")
        .agg(
            F.sum("dg").cast("double").alias("dcg10"),
            F.sum("ig").cast("double").alias("idcg10"),
        )
        .select(
            "term", "dcg10", "idcg10",
            F.round(F.col("dcg10") / F.col("idcg10"), 6).alias("ndcg10"),
        )
        .orderBy("term")
    )


@register(
    "q218_two_hop_reach",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 3
    ),
    edges AS (
      SELECT p1 AS src, p2 AS dst FROM pairs
      UNION ALL SELECT p2, p1 FROM pairs
    ),
    two_hop AS (
      SELECT e1.src, e2.dst FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
      WHERE e2.dst <> e1.src
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT src, dst FROM two_hop
    )
    SELECT r.src AS part,
           CAST((SELECT count(*) FROM edges e WHERE e.src = r.src)
                AS BIGINT) AS n_1hop,
           CAST(count(*) AS BIGINT) AS n_reach2
    FROM reach r GROUP BY r.src ORDER BY part
    """,
)
def q218_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop neighborhood reach on the co-purchase graph: for every
    part, how many distinct parts are within <=2 hops of co-order edges
    (support >= 3) — the multi-hop graph traversal pattern (friend-of-
    friend, related-item expansion). Edges derive from the same grouped
    pair generator as q126; the 2-hop expansion is ONE self-join on the
    symmetric edge list followed by a UNION-distinct with the 1-hop set.
    At scale the expansion is degree-bounded: cap per-node neighbor
    lists (top-k by support) before the self-join — the support filter
    here plays that role. Two aggregation shuffles + one join shuffle."""
    from .operators.pairs import grouped_pairs

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    pairs = (
        # exactness contract vs the uncapped oracle self-join: a dropped
        # oversized order would silently shrink reach counts — fail loudly
        grouped_pairs(li, "l_orderkey", "l_partkey", left="pa", right="pb",
                      assume_distinct=True, on_overflow="error")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= 3)
        .select("pa", "pb")
    )
    # symmetric edge list is read by the 2-hop join (both sides), the
    # union-distinct, and the 1-hop agg — checkpoint lazily so the pair
    # aggregation is planned (and run) once, not embedded four times
    edges = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionByName(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .localCheckpoint(eager=False)
    )
    e2 = edges.select(F.col("src").alias("mid"), F.col("dst").alias("dst2"))
    two_hop = (
        edges.join(e2, edges["dst"] == e2["mid"])
        .filter(F.col("dst2") != F.col("src"))
        .select("src", F.col("dst2").alias("dst"))
    )
    reach = edges.unionByName(two_hop).distinct()
    one_hop = edges.groupBy("src").agg(F.count(F.lit(1)).alias("n_1hop"))
    return (
        reach.groupBy("src")
        .agg(F.count(F.lit(1)).alias("n_reach2"))
        .join(one_hop, "src")
        .select(F.col("src").alias("part"), "n_1hop", "n_reach2")
        .orderBy("part")
    )


@register(
    "q219_user_feature_matrix",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_type, value,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(max(cents) AS BIGINT) AS max_cents,
           round(CAST(sum(cents) AS DOUBLE) / (100.0 * count(*)), 6)
             AS mean_value,
           CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
             AS tenure_seconds,
           CAST(max(CASE WHEN rn = 1 THEN NULL
                         ELSE date_diff('second', prev_ts, ts) END)
                AS BIGINT) AS max_gap_seconds,
           round(CAST(sum(CASE WHEN event_type = 'purchase' THEN cents
                               ELSE 0 END) AS DOUBLE)
                 / greatest(CAST(sum(cents) AS DOUBLE), 1.0), 6)
             AS purchase_value_share
    FROM base GROUP BY user_id ORDER BY user_id
    """,
)
def q219_user_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store assembly: ten per-user model features — activity
    counts, conditional counts, exact money moments (integer cents),
    tenure and max inter-event gap (a window feature folded into the
    same single pass), and a bounded ratio — in ONE scan, one window
    shuffle and one aggregation on the same key (Catalyst reuses the
    user_id partitioning; no second exchange). The pattern every
    training-data pipeline ends with: wide deterministic projections,
    not a chain of per-feature joins."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id", "ts", "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    gap = F.when(
        F.col("rn") == 1, F.lit(None).cast("long")
    ).otherwise(F.unix_timestamp("ts") - F.unix_timestamp("prev_ts"))
    is_p = F.col("event_type") == "purchase"
    return (
        base.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.sum(F.when(is_p, 1).otherwise(0)).cast("long").alias("n_purchases"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long").alias("n_errors"),
            F.sum("cents").alias("total_cents"),
            F.max("cents").alias("max_cents"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .alias("tenure_seconds"),
            F.max(gap).alias("max_gap_seconds"),
            F.sum(F.when(is_p, F.col("cents")).otherwise(0)).alias("_pcents"),
        )
        .select(
            "user_id", "n_events", "n_types", "n_purchases", "n_errors",
            "total_cents", "max_cents",
            F.round(
                F.col("total_cents").cast("double")
                / (F.lit(100.0) * F.col("n_events")),
                6,
            ).alias("mean_value"),
            "tenure_seconds",
            "max_gap_seconds",
            F.round(
                F.col("_pcents").cast("double")
                / F.greatest(F.col("total_cents").cast("double"), F.lit(1.0)),
                6,
            ).alias("purchase_value_share"),
        )
        .orderBy("user_id")
    )


@register(
    "q220_time_band_counts",
    oracle="""
    SELECT
      (SELECT count(*) FROM events
        WHERE hour(ts) BETWEEN 0 AND 2 AND event_type = 'click') AS h0,
      (SELECT count(*) FROM events
        WHERE hour(ts) BETWEEN 3 AND 5 AND event_type = 'click') AS h3,
      (SELECT count(*) FROM events
        WHERE hour(ts) BETWEEN 6 AND 8 AND event_type = 'view') AS h6,
      (SELECT count(*) FROM events
        WHERE hour(ts) BETWEEN 9 AND 11 AND event_type = 'view') AS h9,
      (SELECT count(*) FROM events
        WHERE hour(ts) BETWEEN 12 AND 14 AND event_type = 'purchase') AS h12,
      (SELECT count(*) FROM events
        WHERE hour(ts) BETWEEN 15 AND 17 AND event_type = 'purchase') AS h15,
      (SELECT count(*) FROM events
        WHERE hour(ts) BETWEEN 18 AND 20 AND event_type = 'signup') AS h18,
      (SELECT count(*) FROM events
        WHERE hour(ts) BETWEEN 21 AND 23 AND event_type = 'error') AS h21
    """,
)
def q220_time_band_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q88 shape (multi-band store-hour counts): eight independent
    filtered counts presented as one row. The oracle states it the
    literal way — eight scalar subqueries, eight scans; the Spark side
    states the OPTIMIZED form the shape demands at scale: ONE scan with
    eight conditional sums (each subquery's predicate becomes a
    when/otherwise), which is the rewrite a fact table read 8x over
    100 TB cannot skip. Zero joins, zero windows, one map-side-combined
    aggregate."""
    ev = _t(spark, sf_dir, "events").select(
        F.hour("ts").alias("h"), "event_type"
    )
    bands = [
        ("h0", 0, 2, "click"), ("h3", 3, 5, "click"),
        ("h6", 6, 8, "view"), ("h9", 9, 11, "view"),
        ("h12", 12, 14, "purchase"), ("h15", 15, 17, "purchase"),
        ("h18", 18, 20, "signup"), ("h21", 21, 23, "error"),
    ]
    return ev.agg(
        *[
            F.sum(
                F.when(
                    F.col("h").between(lo, hi) & (F.col("event_type") == t), 1
                ).otherwise(0)
            ).cast("long").alias(name)
            for name, lo, hi, t in bands
        ]
    )


@register(
    "q221_cross_format_union",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE)
             AS total,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q221_cross_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format federation: the same orders table split three ways —
    one third stays parquet, one third written as ORC, one third as
    JSONL — read back through three format-specific readers with an
    explicit shared schema, unioned, aggregated. The oracle sees only
    the original parquet: the federation must be lossless across all
    three encodings, including timestamps (JSON round-trips them as ISO
    strings — the explicit read schema restores the type; a schema-less
    JSON read would silently degrade to strings and is the classic lake
    bug this query pins). The multi-source union every migration
    pipeline runs during a format transition."""
    import shutil
    import tempfile

    o = _t(spark, sf_dir, "orders")
    part1 = o.filter(F.col("o_orderkey") % 3 == 0)
    part2 = o.filter(F.col("o_orderkey") % 3 == 1)
    part3 = o.filter(F.col("o_orderkey") % 3 == 2)
    out = tempfile.mkdtemp(prefix="spark_graft_q221_")
    try:
        part1.write.mode("overwrite").parquet(out + "/pq")
        part2.write.mode("overwrite").orc(out + "/orc")
        part3.write.mode("overwrite").json(out + "/jsonl")
        schema = o.schema
        back = (
            spark.read.schema(schema).parquet(out + "/pq")
            .unionByName(spark.read.schema(schema).orc(out + "/orc"))
            .unionByName(spark.read.schema(schema).json(out + "/jsonl"))
        )
        result = (
            back.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias(
                    "total"
                ),
                F.countDistinct("o_custkey").alias("n_custs"),
            )
            .orderBy("o_orderstatus")
        )
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q222_blocked_isotonic",
    oracle="""
    WITH base AS (
      SELECT event_type AS g,
             CAST(user_id % 3 AS BIGINT) AS y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    pre AS (
      SELECT g, rn, y, sum(y) OVER (PARTITION BY g ORDER BY rn) AS p
      FROM base
    ),
    pairs AS (
      SELECT a.g, a.rn AS j,
             CAST(b.p - a.p + a.y AS DOUBLE) / (b.rn - a.rn + 1) AS avg_jk
      FROM pre a JOIN pre b ON a.g = b.g AND b.rn >= a.rn
    ),
    suffix_min AS (SELECT g, j, min(avg_jk) AS m FROM pairs GROUP BY g, j),
    fitted AS (
      SELECT g, j AS rn, max(m) OVER (PARTITION BY g ORDER BY j) AS fit
      FROM suffix_min
    )
    SELECT b.g AS event_type, b.rn AS rn, b.y,
           round(f.fit, 9) AS fitted
    FROM base b JOIN fitted f ON f.g = b.g AND f.rn = b.rn
    ORDER BY event_type, b.rn
    """,
)
def q222_blocked_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked PAV at full corpus width (operators/isotonic.py): the
    Spark side runs the SCALED algorithm — block-local minimax, exact
    integer pool summaries, one weighted pool-level pass — while the
    oracle runs the direct O(n^2) minimax. Two INDEPENDENT formulations
    whose exact agreement is the strongest check this suite has for an
    iterative-equivalent operator (q216 verifies the formula; this
    verifies the distributed decomposition). ~2000 rows/group means the
    blocked side touches block-bounded pair rows per group instead of 4M
    (block=256 balances the two stages: bigger blocks cost more in
    stage 1 but collapse stage 3's pool count)."""
    from .operators.isotonic import isotonic_fit

    ev = _t(spark, sf_dir, "events")
    return (
        isotonic_fit(
            ev, "event_type", ["ts", "event_id"],
            (F.col("user_id") % 3), block=128,
        )
        .select(
            "event_type", "rn", "y",
            F.round("fitted", 9).alias("fitted"),
        )
        .orderBy("event_type", "rn")
    )


@register(
    "q223_pandas_udf_polynomial",
    oracle="""
    SELECT event_id,
           ((value * 0.125 + 3.0) * value - 2.5) * value + 1.0 AS score
    FROM events WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def q223_pandas_udf_polynomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-vectorized UDF path under the exactness gate: a Horner-
    form cubic evaluated in a pandas_udf (numpy double ops — the same
    IEEE operations DuckDB's expression engine runs, in the same order,
    so results match bit-for-bit with no rounding). Every other query
    keeps Python out of the hot path; this one exists to prove the
    escape hatch ITSELF is correctness-gated — when a pipeline genuinely
    needs custom Python math, the Arrow batch transfer and the
    column-slice semantics must not perturb values. One scan, one Arrow
    eval, zero shuffles beyond the output sort."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _horner(v: "pd.Series") -> "pd.Series":
        return ((v * 0.125 + 3.0) * v - 2.5) * v + 1.0

    _horner.__annotations__ = {"v": pd.Series, "return": pd.Series}
    horner = pandas_udf(_horner, "double")

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ev.select("event_id", horner("value").alias("score")).orderBy(
        "event_id"
    )


@register(
    "q224_session_paths",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ordered WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path LIMIT 20
    """,
)
def q224_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-path mining: the top opening paths (first three events per
    user, '>'-joined) — the Sankey/flow-analysis primitive that Markov
    transitions (q143) can't give because it keeps ORDER-SENSITIVE
    multi-step sequences, not pairwise rates. WindowGroupLimit prunes
    each user's history to 3 rows before the path concat; the path
    aggregation carries at most |event_type|^3 distinct groups."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.select("user_id", "ts", "event_id", "event_type",
                  F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )
    paths = firsts.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )


@register(
    "q225_compaction_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE) AS sum_value,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q225_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED small-file compaction (q181 plans it; this one does it):
    events deliberately fragmented into 64 tiny files, compacted with a
    4-way repartition rewrite, read back and aggregated against the
    original-table oracle — content must survive the rewrite exactly
    (the compare covers count, DECIMAL sums, and distinct ids). The
    pytest side additionally asserts the file count actually dropped;
    here the oracle-gated claim is losslessness. The small-file problem
    is THE lake maintenance task at 100 TB scale: same shape, bigger
    numbers, partition-pruned per-partition rewrites."""
    import glob
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="spark_graft_q225_")
    try:
        ev.repartition(64).write.mode("overwrite").parquet(out + "/frag")
        frag = spark.read.schema(footer_schema(out + "/frag")).parquet(out + "/frag")
        frag.repartition(4).write.mode("overwrite").parquet(out + "/compact")
        n_files = len(glob.glob(out + "/compact/part-*.parquet"))
        assert n_files <= 4, n_files
        back = spark.read.schema(footer_schema(out + "/compact")).parquet(
            out + "/compact"
        )
        result = (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
                F.countDistinct("event_id").alias("n_ids"),
            )
            .orderBy("event_type")
        )
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q226_fiscal_calendar_rollup",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS lo,
             CAST(max(o_orderdate) AS DATE) AS hi
      FROM orders
    ),
    cal AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS d
      FROM bounds
    ),
    dim AS (
      SELECT d,
             CAST(year(d) + CASE WHEN month(d) >= 2 THEN 1 ELSE 0 END
                  AS BIGINT) AS fiscal_year,
             CAST(((month(d) + 10) % 12) // 3 + 1 AS BIGINT)
               AS fiscal_quarter,
             CAST(week(d) AS BIGINT) AS iso_week,
             CAST(isodow(d) - 1 AS BIGINT) AS weekday,
             isodow(d) >= 6 AS is_weekend
      FROM cal
    )
    SELECT dim.fiscal_year, dim.fiscal_quarter,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,8))) AS DOUBLE)
             AS revenue,
           CAST(sum(CASE WHEN dim.is_weekend THEN 1 ELSE 0 END)
                AS BIGINT) AS weekend_orders,
           CAST(count(DISTINCT dim.iso_week) AS BIGINT) AS weeks_active
    FROM orders o JOIN dim ON CAST(o.o_orderdate AS DATE) = dim.d
    GROUP BY dim.fiscal_year, dim.fiscal_quarter
    ORDER BY fiscal_year, fiscal_quarter
    """,
)
def q226_fiscal_calendar_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated fiscal calendar dimension (Feb-start fiscal year, fiscal
    quarters, ISO weeks, weekend flags) joined to the fact table — the
    warehouse date-dim pattern with the dimension GENERATED via
    sequence(), not stored (a few thousand rows spanning the fact range;
    broadcast, never shuffled). Weekday parity rides Spark weekday() ==
    DuckDB isodow-1 (both Monday=0; raw dayofweek disagrees between
    engines and is avoided). One fact aggregation shuffle."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey", "o_totalprice",
    )
    bounds = o.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    wd = F.weekday("d")
    dim = cal.select(
        "d",
        (
            F.year("d")
            + F.when(F.month("d") >= 2, 1).otherwise(0)
        ).cast("long").alias("fiscal_year"),
        (((F.month("d") + 10) % 12 / 3).cast("long") + 1).alias(
            "fiscal_quarter"
        ),
        F.weekofyear("d").cast("long").alias("iso_week"),
        wd.cast("long").alias("weekday"),
        (wd >= 5).alias("is_weekend"),
    )
    return (
        o.join(F.broadcast(dim), "d")
        .groupBy("fiscal_year", "fiscal_quarter")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias(
                "revenue"
            ),
            F.sum(F.when(F.col("is_weekend"), 1).otherwise(0)).cast("long")
            .alias("weekend_orders"),
            F.countDistinct("iso_week").alias("weeks_active"),
        )
        .orderBy("fiscal_year", "fiscal_quarter")
    )


@register(
    "q227_checksum_repair_roundtrip",
    oracle="""
    WITH chunks AS (
      SELECT DISTINCT event_id // 1000 AS chunk FROM events
    ),
    corrupted AS (
      SELECT DISTINCT event_id // 1000 AS chunk FROM events
      WHERE event_id % 37 = 0
    )
    SELECT CAST((SELECT count(*) FROM chunks) AS BIGINT) AS n_chunks,
           CAST((SELECT count(*) FROM corrupted) AS BIGINT) AS n_repaired,
           CAST((SELECT count(*) FROM events) AS BIGINT) AS n_rows_final,
           CAST((SELECT sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                 FROM events) AS BIGINT) AS cents_final
    """,
)
def q227_checksum_repair_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED anti-entropy repair (q111 detects; this one repairs): a
    target replica with deterministic corruption (value+1 wherever
    event_id%37=0) is chunk-checksummed against the source (md5 over
    sorted row-hashes per 1000-id chunk — q206's manifest shape), only
    the mismatched chunks are rewritten from source, and the repaired
    replica's row count and exact cents total must equal the source
    (the oracle computes them from the source alone — a failed repair
    can't match). Rewrites touch ONLY damaged chunks: the repair cost
    scales with corruption, not table size — the incremental-sync
    contract (reference's diff mode) at maintenance time."""
    import shutil
    import tempfile

    src_df = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    out = tempfile.mkdtemp(prefix="spark_graft_q227_")
    try:
        corrupt = src_df.withColumn(
            "value",
            F.when(F.col("event_id") % 37 == 0, F.col("value") + 1).otherwise(
                F.col("value")
            ),
        )
        chunked = lambda df: df.withColumn(
            "chunk", (F.col("event_id") / 1000).cast("long")
        )
        # write width ~ one task per chunk value (capped): at the session
        # default width each task serializes 3-4 chunk files back to back
        # (measured 2.8s -> 1.0s for the repair write at one-chunk tasks);
        # the id bound costs one narrow column scan
        hi = src_df.agg(F.max("event_id").alias("hi")).first()["hi"] or 0
        n_w = max(1, min(int(hi) // 1000 + 1, 4096))
        # cluster rows by chunk BEFORE the partitioned write (guide §6: an
        # unclustered write opens one file per task×chunk — a small-files
        # explosion at scale), and pin the clustered frame ONCE: the same
        # checkpoint feeds the replica write AND the target checksum pass,
        # so the 100-file read-back the r6 shape paid for tgt_ck is gone
        # (the bytes written ARE the checkpointed rows).
        cc = chunked(corrupt).repartition(n_w, "chunk").localCheckpoint(
            eager=False
        )
        cc.write.mode("overwrite").partitionBy("chunk").parquet(out + "/tgt")

        row_h = F.md5(
            F.concat_ws(
                "|",
                F.col("event_id"),
                F.col("ts").cast("string"),
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            )
        )
        cks = lambda df: (
            df
            .select("chunk", row_h.alias("h"))
            .groupBy("chunk")
            .agg(F.md5(F.concat_ws("", F.array_sort(F.collect_list("h"))))
                 .alias("cksum"))
        )
        src_ck = cks(chunked(src_df))
        tgt_ck = cks(cc)
        # ONE driver action for the whole repair plan: the chunk manifest
        # is chunk-count-sized (small by construction), so collect it with
        # a mismatch flag and derive n_chunks AND the bad list from the
        # same rows — the previous separate src_ck.count() recomputed the
        # source checksum aggregate a second time (r6)
        plan = (
            src_ck.alias("s")
            .join(tgt_ck.alias("t"), "chunk")
            .select(
                "chunk",
                (F.col("s.cksum") != F.col("t.cksum")).alias("mismatch"),
            )
            .collect()
        )
        n_chunks = len(plan)
        bad_chunks = [r.chunk for r in plan if r.mismatch]  # repair plan
        # rewrite ONLY damaged chunk partitions from source, again at one
        # task per damaged chunk (repair-proportional parallelism)
        if bad_chunks:
            rep_w = max(1, min(len(bad_chunks), 4096))
            chunked(src_df).filter(F.col("chunk").isin(bad_chunks)) \
                .repartition(rep_w, "chunk") \
                .write.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).partitionBy("chunk").parquet(out + "/tgt")
        repaired = spark.read.parquet(out + "/tgt")
        result = repaired.agg(
            F.lit(n_chunks).cast("long").alias("n_chunks"),
            F.lit(len(bad_chunks)).cast("long").alias("n_repaired"),
            F.count(F.lit(1)).alias("n_rows_final"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("cents_final"),
        )
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q228_target_encoding_loo",
    oracle="""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(user_id % 2 AS BIGINT) AS y
      FROM events
    ),
    grp AS (
      SELECT event_type, CAST(sum(y) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM base GROUP BY event_type
    )
    SELECT b.event_id, b.event_type,
           CASE WHEN g.n > 1
                THEN round(CAST(g.s - b.y AS DOUBLE) / (g.n - 1), 9)
                ELSE NULL END AS te_loo,
           round(CAST(g.s AS DOUBLE) / g.n, 9) AS te_plain
    FROM base b JOIN grp g USING (event_type)
    ORDER BY b.event_id
    """,
)
def q228_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the feature-engineering transform
    that replaces a categorical with the target mean EXCLUDING the row's
    own label (the standard leakage guard; plain means leak the row's
    own target into its feature). LOO mean = (S - y_i)/(n - 1) from ONE
    group aggregate broadcast back — never a per-row re-aggregation.
    Integer sums, one IEEE division per row, round(9). Singleton
    categories yield NULL (0/0 guarded on both engines)."""
    base = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        (F.col("user_id") % 2).cast("long").alias("y"),
    )
    grp = base.groupBy("event_type").agg(
        F.sum("y").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        base.join(F.broadcast(grp), "event_type")
        .select(
            "event_id",
            "event_type",
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("s") - F.col("y")).cast("double") / (F.col("n") - 1),
                    9,
                ),
            ).otherwise(F.lit(None).cast("double")).alias("te_loo"),
            F.round(F.col("s").cast("double") / F.col("n"), 9).alias("te_plain"),
        )
        .orderBy("event_id")
    )


@register(
    "q229_month_spine_mom",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('month', min(o_orderdate)) AS lo,
             date_trunc('month', max(o_orderdate)) AS hi
      FROM orders
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH))
                  AS DATE) AS m
      FROM bounds
    ),
    rev AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,8)))
                  AS DECIMAL(38,8)) AS r,
             CAST(count(*) AS BIGINT) AS n
      FROM orders WHERE o_orderstatus = 'P'
      GROUP BY m
    ),
    sp AS (
      SELECT s.m, coalesce(rev.n, 0) AS n, rev.r,
             lag(rev.r) OVER (ORDER BY s.m) AS prev_r
      FROM spine s LEFT JOIN rev ON rev.m = s.m
    )
    SELECT CAST(m AS TIMESTAMP) AS m, n,
           CAST(r AS DOUBLE) AS revenue,
           CASE WHEN r IS NOT NULL AND prev_r IS NOT NULL AND prev_r <> 0
                THEN round(CAST(r - prev_r AS DOUBLE)
                           / CAST(prev_r AS DOUBLE), 9)
                ELSE NULL END AS mom_change
    FROM sp ORDER BY m
    """,
)
def q229_month_spine_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-safe month-over-month change: the lag runs over a GENERATED
    month spine, so a month with no qualifying orders contributes a NULL
    comparison instead of silently lagging to the previous ACTIVE month
    — the classic BI off-by-a-gap trap (plain lag over the aggregate
    compares Jan to Nov when Dec is empty). The filter (status 'P')
    makes gaps real in the fixture. Spine rows are #months — generated,
    broadcast, never shuffled; the delta is DECIMAL-exact with one
    final division."""
    o = _t(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        "o_orderstatus", "o_totalprice",
    )
    bounds = o.agg(F.min("m").alias("lo"), F.max("m").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("m0")
    ).select(F.col("m0").cast("date").alias("m"))
    rev = (
        o.filter(F.col("o_orderstatus") == "P")
        .groupBy("m")
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC)).alias("r"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    sp = spine.join(rev, "m", "left").select(
        "m",
        F.coalesce("n", F.lit(0)).alias("n"),
        "r",
        F.lag("r").over(W.orderBy("m")).alias("prev_r"),
    )
    return sp.select(
        F.col("m").cast("timestamp").alias("m"),
        "n",
        F.col("r").cast("double").alias("revenue"),
        F.when(
            F.col("r").isNotNull()
            & F.col("prev_r").isNotNull()
            & (F.col("prev_r") != 0),
            F.round(
                (F.col("r") - F.col("prev_r")).cast("double")
                / F.col("prev_r").cast("double"),
                9,
            ),
        ).alias("mom_change"),
    ).orderBy("m")


@register(
    "q230_quantization_recall",
    oracle=f"""
    WITH {_VFX_SQL},
    raw AS (
      SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM embeddings, LATERAL (SELECT unnest(range(0, 64)) AS i) g
    ),
    rng AS (
      SELECT pos, min(v) AS mn, max(v) AS mx FROM raw GROUP BY pos
    ),
    quant AS (
      SELECT r.vec_id, r.pos,
             CAST(floor((r.v - g.mn) / (g.mx - g.mn) * 255 + 0.5)
                  AS BIGINT) AS q
      FROM raw r JOIN rng g ON g.pos = r.pos
    ),
    probes AS (SELECT unnest([0, 1, 2]) AS qid),
    exact_dot AS (
      SELECT p.qid, v.vec_id,
             CAST(sum((v.v_fx - {EMB_SCALE}) * (qv.v_fx - {EMB_SCALE}))
                  AS BIGINT) AS dot
      FROM vfx v
      JOIN probes p ON true
      JOIN vfx qv ON qv.vec_id = p.qid AND qv.pos = v.pos
      WHERE v.vec_id <> p.qid
      GROUP BY p.qid, v.vec_id
    ),
    quant_dot AS (
      SELECT p.qid, v.vec_id,
             CAST(sum(v.q * qv.q) AS BIGINT) AS dot
      FROM quant v
      JOIN probes p ON true
      JOIN quant qv ON qv.vec_id = p.qid AND qv.pos = v.pos
      WHERE v.vec_id <> p.qid
      GROUP BY p.qid, v.vec_id
    ),
    et AS (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
               AS rk
      FROM exact_dot
    ),
    qt AS (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
               AS rk
      FROM quant_dot
    )
    SELECT e.qid AS query_id,
           CAST(count(q.vec_id) AS BIGINT) AS n_overlap,
           round(count(q.vec_id) / 5.0, 6) AS recall5
    FROM (SELECT * FROM et WHERE rk <= 5) e
    LEFT JOIN (SELECT * FROM qt WHERE rk <= 5) q
      ON q.qid = e.qid AND q.vec_id = e.vec_id
    GROUP BY e.qid ORDER BY query_id
    """,
)
def q230_quantization_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization with measured recall — the ANN memory/
    accuracy tradeoff every vector store ships: per-dimension min/max
    scaling to 0..255 (the quantization division is ONE identical IEEE
    op per value on both engines), then recall@5 of the quantized
    ranking against the exact fixed-point dot ranking for three probe
    vectors. Integer dots both sides (255^2*64 fits easily in BIGINT);
    ranking ties broken by vec_id. Plan: one per-dim min/max aggregate
    broadcast back, probes broadcast (the corpus never shuffles for the
    dot — q21's shape), two rank windows, one 15-row compare."""
    emb = _t(spark, sf_dir, "embeddings")
    raw = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v0")
    ).select("vec_id", "pos", F.col("v0").cast("double").alias("v"))
    rng = raw.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    quant = raw.join(F.broadcast(rng), "pos").select(
        "vec_id", "pos",
        F.floor(
            (F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255
            + F.lit(0.5)
        ).cast("long").alias("q"),
    )
    vfx = _vfx(spark, sf_dir).select("vec_id", "pos", "v_fx")
    probes = [0, 1, 2]

    def ranked(vals, col):
        pr = vals.filter(F.col("vec_id").isin(probes)).select(
            F.col("vec_id").alias("qid"), "pos", F.col(col).alias("pv")
        )
        dots = (
            vals.join(F.broadcast(pr), "pos")
            .filter(F.col("vec_id") != F.col("qid"))
            .groupBy("qid", "vec_id")
            .agg(F.sum(F.col(col) * F.col("pv")).cast("long").alias("dot"))
        )
        w = W.partitionBy("qid").orderBy(F.desc("dot"), "vec_id")
        return dots.select(
            "qid", "vec_id", F.row_number().over(w).alias("rk")
        ).filter(F.col("rk") <= 5)

    centered = vfx.select(
        "vec_id", "pos", (F.col("v_fx") - EMB_SCALE).alias("c")
    )
    et = ranked(centered, "c")
    qt = ranked(quant, "q").select(
        F.col("qid").alias("q_qid"), F.col("vec_id").alias("q_vid")
    )
    return (
        et.join(
            qt,
            (F.col("qid") == F.col("q_qid")) & (F.col("vec_id") == F.col("q_vid")),
            "left",
        )
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.count("q_vid").alias("n_overlap"),
            F.round(F.count("q_vid") / F.lit(5.0), 6).alias("recall5"),
        )
        .orderBy("query_id")
    )


@register(
    "q231_span_corruption_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    tagged AS (
      SELECT doc_id, i, t[i] AS tok,
             CAST(CAST('0x' || substr(md5(doc_id || ':' || ((i - 1) // 4)),
                                      1, 8) AS BIGINT) % 5 AS BIGINT) = 0
               AS masked
      FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) g
      WHERE len(t) >= 8
    )
    SELECT doc_id,
           string_agg(CASE WHEN masked THEN '<X>' ELSE tok END, ' '
                      ORDER BY i) AS corrupted,
           coalesce(string_agg(CASE WHEN masked THEN tok END, ' '
                               ORDER BY i), '') AS target,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_masked,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM tagged GROUP BY doc_id ORDER BY doc_id
    """,
)
def q231_span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: deterministic pseudo-random 4-token
    spans are masked (md5(doc_id:span_index) % 5 == 0 → ~20% corruption
    rate, reproducible across runs and engines — the masking decision is
    data-derived, never an RNG), producing (corrupted input, target)
    training pairs plus mask accounting. Adjacent masked spans collapse
    into the sentinel naturally at 4-token granularity. Pure column
    exprs: one explode, one per-doc aggregation; linear in corpus
    size."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 8)
    tagged = d.select(
        "doc_id",
        F.posexplode("t").alias("i0", "tok"),
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        "tok",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "", F.col("doc_id"), F.lit(":"),
                            ((F.col("i0")) / 4).cast("long"),
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("long") % 5
            == 0
        ).alias("masked"),
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "i",
                                F.when(F.col("masked"), F.lit("<X>"))
                                .otherwise(F.col("tok")).alias("out"),
                            )
                        )
                    ),
                    lambda s: s["out"],
                ),
            ).alias("corrupted"),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "i",
                                    F.when(F.col("masked"), F.col("tok"))
                                    .alias("mt"),
                                )
                            )
                        ),
                        lambda s: s["mt"].isNotNull(),
                    ),
                    lambda s: s["mt"],
                ),
            ).alias("target"),
            F.sum(F.when(F.col("masked"), 1).otherwise(0)).cast("long").alias(
                "n_masked"
            ),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


def _q232_oracle() -> str:
    from .queries_llm import _JACCARD_ORACLE_BODY

    return (
        _JACCARD_ORACLE_BODY.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
        + """
    , pairs AS (SELECT id1, id2 FROM scored WHERE jaccard >= 0.6),
    edges AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION ALL SELECT id2 AS a, id1 AS b FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    clusters AS (
      SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
    ),
    all_docs AS (
      SELECT c.doc_id, coalesce(cl.cluster_id, c.doc_id) AS cluster_id
      FROM corpus c LEFT JOIN clusters cl ON cl.node = c.doc_id
    ),
    csizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
      FROM all_docs GROUP BY cluster_id
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs
    FROM csizes GROUP BY sz ORDER BY cluster_size
    """
    )


@register("q232_cluster_size_histogram", oracle=_q232_oracle())
def q232_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality reporting: the cluster-size distribution of the
    near-dup graph INCLUDING singletons (docs touching no pair — q51
    reports only clustered docs; the histogram needs the whole corpus,
    since the singleton rate IS the headline dedup statistic). Rides the
    same CC output; one left join against the corpus, two sketch-sized
    aggregations. The shape every dedup run reports before anyone
    trusts its keeper list."""
    from .operators.graph import connected_components
    from .queries_llm import _neardup_corpus

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.6)
    cc = connected_components(pairs, "id1", "id2")
    cc = cc.select(F.col("node").alias("doc_id"), "cluster_id")
    all_docs = corpus.select("doc_id").join(cc, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    sizes = all_docs.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@register(
    "q233_sql_text_analytics",
    oracle="""
    WITH seg AS (
      SELECT c.c_mktsegment AS segment, o.o_orderkey, o.o_totalprice,
             year(o.o_orderdate) AS y
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ),
    yearly AS (
      SELECT segment, y,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,8)))
                  AS DECIMAL(38,8)) AS rev
      FROM seg GROUP BY segment, y
    )
    SELECT segment, CAST(y AS INT) AS y, n,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rank() OVER (PARTITION BY y ORDER BY rev DESC, segment)
                AS BIGINT) AS rev_rank
    FROM yearly ORDER BY y, rev_rank
    """,
)
def q233_sql_text_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-TEXT front end as a first-class surface: this query is
    authored as a multi-CTE SQL string executed via spark.sql over
    registered temp views — not the DataFrame API — proving both
    front-ends compile to the same exact-correct plans (every other
    registry query exercises the DataFrame side; a migrating user
    brings SQL text first). Same exactness discipline inside the SQL:
    DECIMAL accumulation, rank tie-broken, final DOUBLE cast."""
    from .sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        WITH seg AS (
          SELECT c.c_mktsegment AS segment, o.o_orderkey, o.o_totalprice,
                 year(o.o_orderdate) AS y
          FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        ),
        yearly AS (
          SELECT segment, y,
                 count(*) AS n,
                 sum(CAST(o_totalprice AS DECIMAL(38,8))) AS rev
          FROM seg GROUP BY segment, y
        )
        SELECT segment, CAST(y AS INT) AS y, n,
               CAST(rev AS DOUBLE) AS revenue,
               CAST(rank() OVER (PARTITION BY y ORDER BY rev DESC, segment)
                    AS BIGINT) AS rev_rank
        FROM yearly ORDER BY y, rev_rank
    """)


@register(
    "q234_equi_depth_histogram",
    oracle="""
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM cents),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c) AS rk FROM cents
    ),
    bucketed AS (
      SELECT c, ((rk - 1) * 8) // total AS bucket
      FROM ranked, n
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(c) AS lo_cents, max(c) AS hi_cents
    FROM bucketed GROUP BY bucket ORDER BY bucket
    """,
)
def q234_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (8 buckets of equal row count — the
    optimizer statistic DuckDB/Postgres keep, where q106's equi-WIDTH
    bins would collapse under skew): bucket = floor((rank-1)*k/n), so
    bucket populations differ by at most one row and the boundaries ARE
    the observed quantiles. Exact integer arithmetic throughout; ties
    split deterministically by the rank's total order. The global rank
    window is the one global sort — at scale this IS the well-known
    sort-based statistics build (or swap in q214's mergeable sketch for
    the approximate variant)."""
    cents = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("c")
    )
    n_row = cents.agg(F.count(F.lit(1)).alias("total"))
    ranked = cents.select(
        "c", F.row_number().over(W.orderBy("c")).alias("rk")
    )
    return (
        ranked.crossJoin(F.broadcast(n_row))
        .select(
            "c",
            ((F.col("rk") - 1) * 8 / F.col("total")).cast("long").alias(
                "bucket"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("c").alias("lo_cents"),
            F.max("c").alias("hi_cents"),
        )
        .orderBy("bucket")
    )


@register(
    "q235_late_arriving_dimension",
    oracle="""
    WITH dim_batch1 AS (
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0
    ),
    first_pass AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, d.c_mktsegment
      FROM orders o LEFT JOIN dim_batch1 d ON d.c_custkey = o.o_custkey
    ),
    parked AS (
      SELECT * FROM first_pass WHERE c_mktsegment IS NULL
    ),
    retry AS (
      SELECT p.o_orderkey, c.c_mktsegment
      FROM parked p JOIN customer c ON c.c_custkey = p.o_custkey
    ),
    final AS (
      SELECT o_orderkey, c_mktsegment FROM first_pass
      WHERE c_mktsegment IS NOT NULL
      UNION ALL
      SELECT o_orderkey, c_mktsegment FROM retry
    )
    SELECT f.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST((SELECT count(*) FROM parked) AS BIGINT) AS n_parked,
           CAST((SELECT count(*) FROM retry) AS BIGINT) AS n_recovered
    FROM final f GROUP BY f.c_mktsegment ORDER BY segment
    """,
)
def q235_late_arriving_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling — the ETL pattern the
    reference's incremental mode hits whenever facts outrun their dims:
    first-pass LEFT join against the incomplete dim (a third of
    customers withheld), unmatched facts PARKED (never dropped, never
    poisoned with defaults), then re-joined when the dimension catches
    up; the final rollup proves zero loss (parked == recovered, and
    every order lands in its true segment). Broadcast dim joins; the
    parked set is the only intermediate, sized by the dim gap, not the
    fact table."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim1 = cust.filter(F.col("c_custkey") % 3 != 0)
    first = o.join(F.broadcast(dim1), o["o_custkey"] == dim1["c_custkey"], "left")
    parked = first.filter(F.col("c_mktsegment").isNull()).select(
        "o_orderkey", "o_custkey"
    )
    n_parked = parked.count()
    retry = parked.join(
        F.broadcast(cust), parked["o_custkey"] == cust["c_custkey"]
    ).select("o_orderkey", "c_mktsegment")
    n_recovered = retry.count()
    final = (
        first.filter(F.col("c_mktsegment").isNotNull())
        .select("o_orderkey", "c_mktsegment")
        .unionByName(retry)
    )
    return (
        final.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.lit(n_parked).cast("long").alias("n_parked"),
            F.lit(n_recovered).cast("long").alias("n_recovered"),
        )
        .orderBy("segment")
    )


@register(
    "q236_csv_adversarial_roundtrip",
    oracle="""
    WITH synth AS (
      SELECT doc_id,
             substr(text, 1, 40) || ',"quoted,comma"' || chr(10)
               || 'line2	tab\\slash' AS payload
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT md5(payload)) AS BIGINT) AS n_distinct,
           min(md5(payload)) AS min_hash,
           max(md5(payload)) AS max_hash
    FROM synth
    """,
)
def q236_csv_adversarial_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV escaping torture test: payloads carrying embedded delimiters,
    double quotes, newlines, tabs and backslashes are written to CSV
    (quoteAll + escaped quotes + multiLine read-back) and must survive
    byte-identical — the oracle computes the payload hashes from the
    SYNTHESIS EXPRESSION alone and never sees the CSV, so any quoting/
    escape asymmetry between writer and reader shows up as a hash
    mismatch. This is the reference's delimited-text interchange surface
    (its Kettle templates move everything as delimited text) under the
    exactness gate."""
    import shutil
    import tempfile

    synth = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(',"quoted,comma"'),
            F.lit("\n"),
            F.lit("line2\ttab\\slash"),
        ).alias("payload"),
    )
    out = tempfile.mkdtemp(prefix="spark_graft_q236_")
    try:
        (
            synth.write.mode("overwrite")
            .option("quoteAll", "true")
            .option("escape", '"')
            .csv(out)
        )
        back = (
            spark.read.schema("doc_id long, payload string")
            .option("multiLine", "true")
            .option("escape", '"')
            .csv(out)
        )
        result = back.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.md5("payload")).alias("n_distinct"),
            F.min(F.md5("payload")).alias("min_hash"),
            F.max(F.md5("payload")).alias("max_hash"),
        )
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# Forecasting & robust-statistics wave: Holt linear smoothing, lagged
# autocorrelation, Theil-Sen robust slope, WOE/IV predictive binning
# ---------------------------------------------------------------------------


@register(
    "q237_holt_linear",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT flag, row_number() OVER (PARTITION BY flag ORDER BY d) AS idx,
             CAST(cents AS DOUBLE) AS x
      FROM (
        SELECT l_returnflag AS flag,
               CAST(date_trunc('month', l_shipdate) AS DATE) AS d,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                    + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem GROUP BY 1, 2
      )
    ),
    fold AS (
      SELECT flag, idx, x AS l, CAST(0 AS DOUBLE) AS b FROM seq WHERE idx = 1
      UNION ALL
      SELECT s.flag, s.idx,
             CAST(0.5 AS DOUBLE) * s.x
               + CAST(0.5 AS DOUBLE) * (f.l + f.b) AS l,
             CAST(0.5 AS DOUBLE)
               * ((CAST(0.5 AS DOUBLE) * s.x
                   + CAST(0.5 AS DOUBLE) * (f.l + f.b)) - f.l)
               + CAST(0.5 AS DOUBLE) * f.b AS b
      FROM fold f JOIN seq s ON s.flag = f.flag AND s.idx = f.idx + 1
    ),
    last AS (
      SELECT flag, CAST(max(idx) AS BIGINT) AS n_months FROM fold GROUP BY flag
    )
    SELECT f.flag, last.n_months, f.l AS level, f.b AS trend,
           f.l + f.b AS forecast_1
    FROM fold f JOIN last ON f.flag = last.flag AND f.idx = last.n_months
    ORDER BY f.flag
    """,
)
def q237_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (alpha=beta=0.5) of monthly revenue
    per returnflag — a COUPLED two-state recurrence (level, trend) that no
    window frame expresses. Both engines run the identical left-fold over
    the identically-ordered month series (Spark F.aggregate over a sorted
    collect_list of (l,b) structs vs DuckDB list_reduce), the observation
    is integer cents cast to double, and alpha/beta are exact binary
    fractions — every IEEE op matches bit-for-bit, so the final level/
    trend/one-step-forecast compare exactly without rounding. l_new is
    spelled out twice inside the lambda (structs can't reference sibling
    fields) — identical expression, identical value. Per-flag series
    length is bounded by the calendar, not the data (~2.5k days), so the
    collect_list is safe at any corpus scale; the 100 TB path chunks the
    fold into per-chunk affine maps (the recurrence is linear in (l,b), so
    chunk composition is an associative 2x2-matrix product) — documented,
    not needed at fixture scale. Extends the reference's throughput
    reporting (kettle_report.pl summary stats) to trend forecasting."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    daily = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("d"),
            cents.alias("c"),
        )
        .groupBy("flag", "d")
        .agg(F.sum("c").alias("cents"))
    )
    seq = daily.groupBy("flag").agg(
        F.array_sort(F.collect_list(F.struct("d", "cents"))).alias("hist")
    )
    vals = F.transform(
        F.col("hist"),
        lambda s: F.struct(
            s["cents"].cast("double").alias("l"), F.lit(0.0).alias("b")
        ),
    )

    def step(acc, x):
        l_new = F.lit(0.5) * x["l"] + F.lit(0.5) * (acc["l"] + acc["b"])
        b_new = (
            F.lit(0.5) * ((F.lit(0.5) * x["l"] + F.lit(0.5) * (acc["l"] + acc["b"]))
                          - acc["l"])
            + F.lit(0.5) * acc["b"]
        )
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    folded = seq.select(
        "flag",
        F.size("hist").cast("long").alias("n_months"),
        F.aggregate(
            F.slice(vals, 2, F.size("hist") - 1),
            F.element_at(vals, 1),
            step,
        ).alias("st"),
    )
    return folded.select(
        "flag",
        "n_months",
        F.col("st")["l"].alias("level"),
        F.col("st")["b"].alias("trend"),
        (F.col("st")["l"] + F.col("st")["b"]).alias("forecast_1"),
    ).orderBy("flag")


@register(
    "q238_autocorrelation",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS lo,
             CAST(max(o_orderdate) AS DATE) AS hi
      FROM orders
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ),
    counts AS (
      SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    series AS (
      SELECT spine.d, COALESCE(counts.c, 0) AS c
      FROM spine LEFT JOIN counts ON spine.d = counts.d
    ),
    pairs AS (
      SELECT lags.lag, a.c AS x, b.c AS y
      FROM series a
      CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) lags
      JOIN series b ON b.d = a.d + CAST(lags.lag AS INTEGER)
    ),
    moms AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf
    FROM moms ORDER BY lag
    """,
)
def q238_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1-7) of the daily order-arrival
    series over a DENSE date spine (missing days count 0 — the spine is
    generated, not assumed). Every moment (n, Sx, Sy, Sxy, Sxx, Syy) is an
    exact BIGINT; the Pearson ratio is ONE final IEEE chain (divide,
    2 sqrts, 1 multiply — sqrt is correctly rounded, so no rounding
    discipline needed). The lag pairing is an equi-join of the spine with
    its date-shifted self (7 lags via explode), not a window over a global
    sort; the series is calendar-bounded (~2.4k rows), so every join side
    is broadcastable at any corpus scale — only the per-day count agg
    scans the fact table. The seasonality-diagnostic companion to q149's
    decomposition."""
    o = _t(spark, sf_dir, "orders")
    counts = (
        o.select(F.to_date("o_orderdate").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    spine = (
        o.agg(
            F.min(F.to_date("o_orderdate")).alias("lo"),
            F.max(F.to_date("o_orderdate")).alias("hi"),
        )
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    series = (
        spine.join(F.broadcast(counts), "d", "left")
        .select("d", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
        .localCheckpoint(eager=False)  # spine+counts feed both join sides
    )
    a = series.withColumn(
        "lag", F.explode(F.array([F.lit(i) for i in range(1, 8)]))
    ).select("lag", F.col("d").alias("da"), F.col("c").alias("x"))
    b = series.select(F.col("d").alias("db"), F.col("c").alias("y"))
    pairs = a.join(
        F.broadcast(b), F.col("db") == F.date_add(F.col("da"), F.col("lag"))
    )
    moms = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return moms.select(
        F.col("lag").cast("long").alias("lag"),
        "n",
        (
            (n * sxy - sx * sy).cast("double")
            / (
                F.sqrt((n * sxx - sx * sx).cast("double"))
                * F.sqrt((n * syy - sy * sy).cast("double"))
            )
        ).alias("acf"),
    ).orderBy("lag")


@register(
    "q239_theil_sen",
    oracle="""
    WITH monthly AS (
      SELECT n.n_name AS nation,
             (CAST(year(l.l_shipdate) AS BIGINT) * 12
              + CAST(month(l.l_shipdate) AS BIGINT) - 1) AS m,
             CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                  + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.nation,
             CAST(b.cents - a.cents AS DOUBLE)
               / CAST(b.m - a.m AS DOUBLE) AS slope
      FROM monthly a JOIN monthly b
        ON a.nation = b.nation AND a.m < b.m
    ),
    ranked AS (
      SELECT nation, slope,
             row_number() OVER (PARTITION BY nation ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY nation) AS cnt
      FROM slopes
    )
    SELECT nation, CAST(max(cnt) AS BIGINT) AS n_pairs,
           sum(slope) / count(*) AS ts_slope
    FROM ranked
    WHERE rn = CAST(floor((cnt + 1) / 2) AS BIGINT)
       OR rn = CAST(floor((cnt + 2) / 2) AS BIGINT)
    GROUP BY nation ORDER BY nation
    """,
)
def q239_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimate: per nation, the MEDIAN of all
    pairwise slopes of the monthly-revenue series — immune to the outlier
    months that wreck least-squares. Slopes are one IEEE division of an
    exact cents-delta by an exact month-delta; the median is selected
    positionally from the sorted slope list on BOTH sides (no engine
    median() — interpolation semantics differ), with the even case
    averaging two doubles (commutative, exact). Pair generation is
    per-nation over the calendar-bounded monthly series (~80 points ->
    ~3.4k pairs), never over raw rows — the fact table is touched only by
    the month agg, and the dims broadcast. Robust-regression companion to
    q125's exact least-squares."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    monthly = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            (
                F.year("l_shipdate").cast("long") * 12
                + F.month("l_shipdate").cast("long")
                - 1
            ).alias("m"),
            cents.alias("c"),
        )
        .groupBy("nation", "m")
        .agg(F.sum("c").alias("cents"))
        .localCheckpoint(eager=False)  # both pair sides read it
    )
    a = monthly.select(
        "nation", F.col("m").alias("ma"), F.col("cents").alias("ca")
    )
    b = monthly.select(
        "nation", F.col("m").alias("mb"), F.col("cents").alias("cb")
    )
    slopes = (
        a.join(F.broadcast(b), "nation")
        .filter(F.col("ma") < F.col("mb"))
        .select(
            "nation",
            (
                (F.col("cb") - F.col("ca")).cast("double")
                / (F.col("mb") - F.col("ma")).cast("double")
            ).alias("slope"),
        )
    )
    wn = W.partitionBy("nation")
    ranked = slopes.select(
        "nation",
        "slope",
        F.row_number().over(wn.orderBy("slope")).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("cnt"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("cnt") + 1) / 2).cast("long"))
        | (F.col("rn") == F.floor((F.col("cnt") + 2) / 2).cast("long"))
    )
    return (
        mid.groupBy("nation")
        .agg(
            F.max("cnt").cast("long").alias("n_pairs"),
            (F.sum("slope") / F.count(F.lit(1))).alias("ts_slope"),
        )
        .orderBy("nation")
    )


@register(
    "q240_woe_iv_binning",
    oracle="""
    WITH binned AS (
      SELECT ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_bad
      FROM orders
    ),
    per_bin AS (
      SELECT bin,
             CAST(sum(1 - is_bad) AS BIGINT) AS n_good,
             CAST(sum(is_bad) AS BIGINT) AS n_bad
      FROM binned GROUP BY bin
    ),
    shares AS (
      SELECT bin, n_good, n_bad,
             CAST(n_good AS DOUBLE)
               / CAST(sum(n_good) OVER () AS DOUBLE) AS gs,
             CAST(n_bad AS DOUBLE)
               / CAST(sum(n_bad) OVER () AS DOUBLE) AS bs
      FROM per_bin
    ),
    woed AS (
      SELECT bin, n_good, n_bad, gs, bs,
             CAST(round(ln(gs), 9) AS DECIMAL(28, 9))
               - CAST(round(ln(bs), 9) AS DECIMAL(28, 9)) AS woe_dec
      FROM shares
    )
    SELECT CAST(bin AS BIGINT) AS bin, n_good, n_bad,
           CAST(woe_dec AS DOUBLE) AS woe,
           CAST(sum(CAST(round((gs - bs) * CAST(woe_dec AS DOUBLE), 9)
                AS DECIMAL(28, 9))) OVER () AS DOUBLE) AS iv_total
    FROM woed ORDER BY bin
    """,
)
def q240_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value binning — the credit-scoring
    (and feature-selection) primitive: decile-bin a continuous driver
    (order totalprice), score each bin's separation of a binary outcome
    (finalized orders) as WOE = ln(good share) - ln(bad share), and roll
    the bins into one IV statistic. Shares are single IEEE divisions of
    exact counts; each ln() is rounded to 9 decimals BEFORE entering
    arithmetic (libm log differs across engines in the last ulp), WOE is
    then exact decimal subtraction and IV an exact decimal sum of
    per-term-rounded products. The global ntile runs on the raw fact rows
    (one range shuffle); at 100 TB the binning would switch to
    approx-quantile fences (q234's equi-depth histogram is that scale
    path) — the WOE/IV layer above is a 10-row computation either way."""
    o = _t(spark, sf_dir, "orders")
    binned = o.select(
        F.ntile(10)
        .over(W.orderBy("o_totalprice", "o_orderkey"))
        .alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("is_bad"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum(F.lit(1) - F.col("is_bad")).alias("n_good"),
        F.sum("is_bad").alias("n_bad"),
    )
    wall = W.partitionBy()
    shares = per_bin.select(
        "bin",
        "n_good",
        "n_bad",
        (
            F.col("n_good").cast("double")
            / F.sum("n_good").over(wall).cast("double")
        ).alias("gs"),
        (
            F.col("n_bad").cast("double")
            / F.sum("n_bad").over(wall).cast("double")
        ).alias("bs"),
    )
    woed = shares.withColumn(
        "woe_dec",
        F.round(F.log("gs"), 9).cast("decimal(28,9)")
        - F.round(F.log("bs"), 9).cast("decimal(28,9)"),
    )
    return woed.select(
        F.col("bin").cast("long").alias("bin"),
        "n_good",
        "n_bad",
        F.col("woe_dec").cast("double").alias("woe"),
        F.sum(
            F.round(
                (F.col("gs") - F.col("bs")) * F.col("woe_dec").cast("double"), 9
            ).cast("decimal(28,9)")
        )
        .over(wall)
        .cast("double")
        .alias("iv_total"),
    ).orderBy("bin")


@register(
    "q241_longest_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    islands AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
      FROM days
    ),
    runs AS (
      SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
             min(d) AS run_start
      FROM islands GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak,
           strftime(min(run_start) FILTER (
             WHERE len = (SELECT max(r2.len) FROM runs r2
                          WHERE r2.user_id = runs.user_id)),
             '%Y-%m-%d') AS first_best_start,
           CAST(sum(len) AS BIGINT) AS n_active_days
    FROM runs GROUP BY user_id ORDER BY user_id
    """,
)
def q241_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands consecutive-day streaks: per user, the longest run
    of consecutive active days (distinct event dates), when that best run
    first started, and total active days. The island key is the classic
    date-minus-row_number constant — one window shuffle on user_id, then
    two hash aggs; no self-join, no spine. All outputs are integers/dates
    (exact). The correlated max-per-user subquery in the oracle is a
    window argmax on the Spark side — same contract. Engagement-streak
    companion to q133's weekly churn."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    wu = W.partitionBy("user_id").orderBy("d")
    islands = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(wu)).alias("grp"),
    )
    runs = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("run_start")
    )
    wbest = W.partitionBy("user_id")
    flagged = runs.select(
        "user_id",
        "len",
        "run_start",
        F.max("len").over(wbest).alias("best"),
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.max("len").cast("long").alias("longest_streak"),
            F.date_format(
                F.min(
                    F.when(F.col("len") == F.col("best"), F.col("run_start"))
                ),
                "yyyy-MM-dd",
            ).alias("first_best_start"),
            F.sum("len").cast("long").alias("n_active_days"),
        )
        .orderBy("user_id")
    )


@register(
    "q242_kruskal_wallis",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority AS grp,
             CAST(rank() OVER (ORDER BY o_totalprice) AS BIGINT) AS rmin,
             CAST(count(*) OVER (PARTITION BY o_totalprice) AS BIGINT) AS tie
      FROM orders
    ),
    per_group AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_j,
             CAST(sum(CAST(rmin AS DECIMAL(28, 1))
                  + CAST(tie - 1 AS DECIMAL(28, 1)) / 2) AS DECIMAL(38, 1))
               AS r_j
      FROM ranked GROUP BY grp
    ),
    ties AS (
      SELECT CAST(sum(tie * tie * tie - tie) AS BIGINT) AS tsum,
             CAST(sum(tie) AS BIGINT) AS n
      FROM (SELECT CAST(count(*) AS BIGINT) AS tie
            FROM orders GROUP BY o_totalprice)
    ),
    s AS (
      SELECT CAST(sum(CAST(round(
               CAST(r_j AS DOUBLE) * CAST(r_j AS DOUBLE)
                 / CAST(n_j AS DOUBLE), 6) AS DECIMAL(38, 6)))
             AS DOUBLE) AS s2
      FROM per_group
    )
    SELECT g.grp, g.n_j, CAST(g.r_j AS DOUBLE) AS rank_sum,
           (CAST(12 AS DOUBLE) / (CAST(t.n AS DOUBLE) * CAST(t.n + 1 AS DOUBLE)))
             * s.s2 - CAST(3 AS DOUBLE) * CAST(t.n + 1 AS DOUBLE) AS h_stat,
           ((CAST(12 AS DOUBLE) / (CAST(t.n AS DOUBLE) * CAST(t.n + 1 AS DOUBLE)))
             * s.s2 - CAST(3 AS DOUBLE) * CAST(t.n + 1 AS DOUBLE))
             / (CAST(1 AS DOUBLE)
                - CAST(t.tsum AS DOUBLE)
                  / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
                     * CAST(t.n AS DOUBLE) - CAST(t.n AS DOUBLE)))
             AS h_corrected
    FROM per_group g CROSS JOIN ties t CROSS JOIN s
    ORDER BY g.grp
    """,
)
def q242_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test (one-way ANOVA on ranks): do the five order
    priorities draw from the same totalprice distribution? Average ranks
    for ties are half-integers (min-rank + (tie-1)/2) kept EXACT as
    DECIMAL(38,1); rank sums are exact decimal; the H statistic is a fixed
    IEEE chain over those exact inputs with the per-group R^2/n terms
    rounded to 6 decimals and decimal-summed (order-free), including the
    standard tie correction from exact integer tie counts. The global rank
    is one range-partitioned sort (at 100 TB: q234's equi-depth fences
    pre-bucket the sort ranges); everything after the first agg is
    group-count-sized. The rank-based robust sibling of q211's ANOVA."""
    o = _t(spark, sf_dir, "orders")
    ranked = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.rank().over(W.orderBy("o_totalprice")).cast("long").alias("rmin"),
        F.count(F.lit(1))
        .over(W.partitionBy("o_totalprice"))
        .cast("long")
        .alias("tie"),
    )
    per_group = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_j"),
        F.sum(
            F.col("rmin").cast("decimal(28,1)")
            + (F.col("tie") - 1).cast("decimal(28,1)") / 2
        )
        .cast("decimal(38,1)")
        .alias("r_j"),
    )
    ties = (
        o.groupBy("o_totalprice")
        .agg(F.count(F.lit(1)).alias("tie"))
        .agg(
            F.sum(
                F.col("tie") * F.col("tie") * F.col("tie") - F.col("tie")
            ).alias("tsum"),
            F.sum("tie").alias("n"),
        )
    )
    s2 = per_group.agg(
        F.sum(
            F.round(
                F.col("r_j").cast("double")
                * F.col("r_j").cast("double")
                / F.col("n_j").cast("double"),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("s2")
    )
    nD = F.col("n").cast("double")
    h = (F.lit(12.0) / (nD * (F.col("n") + 1).cast("double"))) * F.col(
        "s2"
    ) - F.lit(3.0) * (F.col("n") + 1).cast("double")
    corr = F.lit(1.0) - F.col("tsum").cast("double") / (
        nD * nD * nD - nD
    )
    return (
        per_group.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(s2))
        .select(
            "grp",
            F.col("n_j").cast("long").alias("n_j"),
            F.col("r_j").cast("double").alias("rank_sum"),
            h.alias("h_stat"),
            (h / corr).alias("h_corrected"),
        )
        .orderBy("grp")
    )


#: round cap of the part-hierarchy closures (q243, q266, q305): a 5-ary
#: tree 64 levels deep is beyond any int64 key, so it only bounds the loop.
_TREE_ROUNDS = 64


@register(
    "q243_bom_subtree_rollup",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT p_partkey AS node, p_partkey AS anc FROM part
      UNION ALL
      SELECT node, CAST(floor((anc - 1) / 5.0) AS BIGINT) FROM anc
      WHERE anc > 0
    ),
    val AS (
      SELECT p_partkey AS node,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part
    )
    SELECT a.anc AS part_node,
           CAST(count(*) AS BIGINT) AS n_subtree,
           CAST(sum(v.cents) AS BIGINT) AS subtree_cents,
           CAST(max(CASE WHEN a.node = a.anc THEN v.cents END) AS BIGINT)
             AS own_cents
    FROM anc a JOIN val v ON a.node = v.node
    GROUP BY a.anc ORDER BY a.anc
    """,
)
def q243_bom_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials subtree rollup over a synthetic 5-ary part
    hierarchy (parent(k) = floor((k-1)/5), root 0): every node's subtree
    size and total retail cents, computed by EXPLODING each node's
    ancestor-or-self chain with a depth-bounded iterative loop (depth =
    log5(N) — 6 rounds at 2k parts, ~10 at 100 TB part counts) and one
    hash agg on the ancestor key; the oracle derives the same chains with
    a recursive CTE. All values are exact integer cents. This is the
    recursive-hierarchy traversal surface (org charts, category trees,
    BOMs) the reference's flat migration model never had — per round the
    frontier shrinks 5x, and the only full-size shuffle is the final
    groupBy. Complements q169's pointer-doubling (path compression) with
    aggregation OVER the paths."""
    part = _t(spark, sf_dir, "part")
    val = part.select(
        F.col("p_partkey").alias("node"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    pairs = closure(
        val.select("node", F.col("node").alias("anc")),
        lambda lvl: lvl.filter(F.col("anc") > 0).select(
            "node", F.floor((F.col("anc") - 1) / 5.0).cast("long").alias("anc")
        ),
        max_rounds=_TREE_ROUNDS,
    )
    joined = pairs.join(val, "node")
    return (
        joined.groupBy(F.col("anc").alias("part_node"))
        .agg(
            F.count(F.lit(1)).alias("n_subtree"),
            F.sum("cents").alias("subtree_cents"),
            F.max(
                F.when(F.col("node") == F.col("anc"), F.col("cents"))
            ).alias("own_cents"),
        )
        .orderBy("part_node")
    )


@register(
    "q244_logrank_test",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS grp,
             CAST(min(CAST(ts AS DATE)) AS DATE) AS t0,
             min(CASE WHEN event_type = 'error'
                 THEN CAST(ts AS DATE) END) AS t_event,
             CAST(max(CAST(ts AS DATE)) AS DATE) AS t_last
      FROM events GROUP BY user_id
    ),
    surv AS (
      SELECT user_id, grp,
             CAST(datediff('day', t0, COALESCE(t_event, t_last)) AS BIGINT)
               AS dur,
             CASE WHEN t_event IS NOT NULL THEN 1 ELSE 0 END AS observed
      FROM per_user
    ),
    event_days AS (
      SELECT dur AS d,
             CAST(sum(observed) AS BIGINT) AS d_all,
             CAST(sum(CASE WHEN grp = 1 THEN observed ELSE 0 END) AS BIGINT)
               AS d_g1
      FROM surv WHERE observed = 1 GROUP BY dur
    ),
    risk AS (
      SELECT e.d, e.d_all, e.d_g1,
             CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(CASE WHEN s.grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_g1
      FROM event_days e JOIN surv s ON s.dur >= e.d
      GROUP BY e.d, e.d_all, e.d_g1
    ),
    terms AS (
      SELECT d, d_g1,
             CAST(round(CAST(d_all AS DOUBLE) * CAST(n_g1 AS DOUBLE)
                  / CAST(n_all AS DOUBLE), 9) AS DECIMAL(28, 9)) AS e_term,
             CAST(round(CASE WHEN n_all > 1 THEN
                  CAST(d_all AS DOUBLE)
                  * (CAST(n_g1 AS DOUBLE) / CAST(n_all AS DOUBLE))
                  * (1 - CAST(n_g1 AS DOUBLE) / CAST(n_all AS DOUBLE))
                  * (CAST(n_all - d_all AS DOUBLE)
                     / CAST(n_all - 1 AS DOUBLE))
                  ELSE 0 END, 9) AS DECIMAL(28, 9)) AS v_term
      FROM risk
    )
    SELECT CAST(sum(d_g1) AS BIGINT) AS o1,
           CAST(sum(e_term) AS DOUBLE) AS e1,
           CAST(sum(v_term) AS DOUBLE) AS var1,
           round((CAST(sum(d_g1) AS DOUBLE) - CAST(sum(e_term) AS DOUBLE))
                 * (CAST(sum(d_g1) AS DOUBLE) - CAST(sum(e_term) AS DOUBLE))
                 / CAST(sum(v_term) AS DOUBLE), 6) AS chi2
    FROM terms
    """,
)
def q244_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do two user cohorts (even vs odd user ids) share the
    same time-to-first-error survival curve? Durations run from each
    user's first event to first error (censored at last activity).
    Per-event-day terms E and V are fixed double chains over exact
    integer at-risk/event counts, rounded to 9 decimals and decimal-summed
    (order-free); the chi-square is one final rounded chain. The risk-set
    join (event days x user durations) is bounded by distinct DAYS, not
    users — at 100 TB the same rollup comes from a descending-duration
    cumulative window (documented; the day-join keeps the oracle
    literal). Extends q150's single-arm Kaplan-Meier to the two-arm
    hypothesis test."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "error", F.to_date("ts"))
        ).alias("t_event"),
        F.max(F.to_date("ts")).alias("t_last"),
    )
    surv = per_user.select(
        (F.col("user_id") % 2).cast("long").alias("grp"),
        F.datediff(
            F.coalesce("t_event", "t_last"), F.col("t0")
        )
        .cast("long")
        .alias("dur"),
        F.when(F.col("t_event").isNotNull(), 1).otherwise(0).alias("observed"),
    ).localCheckpoint(eager=False)  # feeds event-day agg AND risk join
    event_days = (
        surv.filter(F.col("observed") == 1)
        .groupBy(F.col("dur").alias("d"))
        .agg(
            F.sum("observed").alias("d_all"),
            F.sum(
                F.when(F.col("grp") == 1, F.col("observed")).otherwise(0)
            ).alias("d_g1"),
        )
    )
    risk = (
        F.broadcast(event_days)
        .join(surv, surv["dur"] >= event_days["d"])
        .groupBy("d", "d_all", "d_g1")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n_g1"),
        )
    )
    dA, nA, nG = (
        F.col("d_all").cast("double"),
        F.col("n_all").cast("double"),
        F.col("n_g1").cast("double"),
    )
    terms = risk.select(
        "d",
        "d_g1",
        F.round(dA * nG / nA, 9).cast("decimal(28,9)").alias("e_term"),
        F.round(
            F.when(
                F.col("n_all") > 1,
                dA
                * (nG / nA)
                * (F.lit(1) - nG / nA)
                * (
                    (F.col("n_all") - F.col("d_all")).cast("double")
                    / (F.col("n_all") - 1).cast("double")
                ),
            ).otherwise(F.lit(0.0)),
            9,
        )
        .cast("decimal(28,9)")
        .alias("v_term"),
    )
    agg = terms.agg(
        F.sum("d_g1").cast("long").alias("o1"),
        F.sum("e_term").cast("double").alias("e1"),
        F.sum("v_term").cast("double").alias("var1"),
    )
    diff = F.col("o1").cast("double") - F.col("e1")
    return agg.select(
        "o1",
        "e1",
        "var1",
        F.round(diff * diff / F.col("var1"), 6).alias("chi2"),
    )


@register(
    "q245_js_divergence_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    st AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks WHERE tok <> '' GROUP BY 1, 2
    ),
    vocab AS (SELECT DISTINCT tok FROM st),
    srcs AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n FROM st GROUP BY source
    ),
    grid AS (
      SELECT s.source, s.n, v.tok, COALESCE(st.c, 0) AS c
      FROM srcs s CROSS JOIN vocab v
      LEFT JOIN st ON st.source = s.source AND st.tok = v.tok
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b, a.tok,
             CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE) AS p,
             CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE) AS q
      FROM grid a JOIN grid b ON a.tok = b.tok AND a.source < b.source
      WHERE a.c + b.c > 0
    ),
    terms AS (
      SELECT src_a, src_b,
             CAST(round(
               (CASE WHEN p > 0
                     THEN 0.5 * p * ln(2 * p / (p + q)) ELSE 0 END)
               + (CASE WHEN q > 0
                       THEN 0.5 * q * ln(2 * q / (p + q)) ELSE 0 END),
               9) AS DECIMAL(28, 9)) AS d
      FROM pairs
    )
    SELECT src_a, src_b, CAST(sum(d) AS DOUBLE) AS jsd
    FROM terms GROUP BY src_a, src_b
    ORDER BY jsd DESC, src_a, src_b LIMIT 25
    """,
)
def q245_js_divergence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two sources'
    unigram distributions — the SYMMETRIC, bounded drift metric used to
    pick which corpus slices to mix (q146's KL is one-vs-global and
    asymmetric). Distributions are zero-filled over the shared vocabulary
    so one-sided tokens contribute their full ln(2) mass; each per-token
    term is a fixed double chain rounded to 9 decimals then decimal-
    summed. The pair join is vocabulary x source-pairs sized (never
    corpus-sized): the only full-data pass is the (source, tok) count agg;
    at 100 TB the vocab side is the broadcast side. Top-25 most-divergent
    pairs returned."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(_tok(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    st = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # feeds vocab, totals and the grid
    )
    vocab = st.select("tok").distinct()
    srcs = st.groupBy("source").agg(F.sum("c").alias("n"))
    grid = (
        srcs.crossJoin(F.broadcast(vocab))
        .join(F.broadcast(st), ["source", "tok"], "left")
        .select("source", "n", "tok", F.coalesce("c", F.lit(0)).alias("c"))
        .localCheckpoint(eager=False)  # both pair sides read it
    )
    a = grid.select(
        F.col("source").alias("src_a"),
        "tok",
        (F.col("c").cast("double") / F.col("n").cast("double")).alias("p"),
        F.col("c").alias("ca"),
    )
    b = grid.select(
        F.col("source").alias("src_b"),
        "tok",
        (F.col("c").cast("double") / F.col("n").cast("double")).alias("q"),
        F.col("c").alias("cb"),
    )
    pairs = (
        a.join(F.broadcast(b), "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .filter(F.col("ca") + F.col("cb") > 0)
    )
    p, q = F.col("p"), F.col("q")
    term = F.round(
        F.when(p > 0, F.lit(0.5) * p * F.log(F.lit(2) * p / (p + q))).otherwise(
            F.lit(0.0)
        )
        + F.when(
            q > 0, F.lit(0.5) * q * F.log(F.lit(2) * q / (p + q))
        ).otherwise(F.lit(0.0)),
        9,
    ).cast("decimal(28,9)")
    return (
        pairs.select("src_a", "src_b", term.alias("d"))
        .groupBy("src_a", "src_b")
        .agg(F.sum("d").cast("double").alias("jsd"))
        .orderBy(F.desc("jsd"), "src_a", "src_b")
        .limit(25)
    )


#: 2^40 — the exact power-of-two rescale that keeps power-iteration
#: magnitudes inside DECIMAL(38,6) at any corpus size (fx products carry
#: 2 x 20 fractional bits)
_PI_SCALE = float(1 << 40)


def _power_iter_oracle(n_iter: int = 3) -> str:
    parts = [
        f"WITH {_VFX_SQL}",
        """,
    m AS (
      SELECT a.pos AS i, b.pos AS j,
             CAST(sum(CAST(a.v_fx * b.v_fx AS DECIMAL(38, 0)))
                  AS DECIMAL(38, 0)) AS m
      FROM vfx a JOIN vfx b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    v0 AS (SELECT DISTINCT i, CAST(1.0 AS DOUBLE) AS v FROM m)""",
    ]
    for k in range(1, n_iter + 1):
        parts.append(f""",
    w{k} AS (
      SELECT m.i,
             CAST(sum(CAST(round(CAST(m.m AS DOUBLE) / {_PI_SCALE!r} * v.v, 6)
                  AS DECIMAL(38, 6))) AS DOUBLE) AS w
      FROM m JOIN v{k - 1} v ON m.j = v.i GROUP BY m.i
    ),
    n{k} AS (
      SELECT sqrt(CAST(sum(CAST(round(w * w, 6) AS DECIMAL(38, 6)))
                  AS DOUBLE)) AS nrm
      FROM w{k}
    ),
    v{k} AS (SELECT i, w / nrm AS v FROM w{k}, n{k})""")
    parts.append(f"""
    SELECT CAST(v.i AS BIGINT) AS pos, v.v AS loading, n.nrm AS eigenvalue
    FROM v{n_iter} v, n{n_iter} n
    ORDER BY pos""")
    return "".join(parts)


@register("q246_power_iteration", oracle=_power_iter_oracle())
def q246_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top eigenvector of the 64x64 embedding second-moment (Gram) matrix
    by THREE unrolled power iterations, expressed as distributed matvecs:
    the matrix lives as (i, j, value) triples built from one exact
    fixed-point pair aggregation (the only corpus-sized pass — the same
    flat-transform shuffle shape as q208), and each iteration is a
    64-row join + groupBy. Determinism: matrix cells are exact
    DECIMAL(38,0) fixed-point sums; the power-of-two rescale (2^40) is an
    EXACT double division; every dot-product term is rounded to 6
    decimals then decimal-summed (order-free); normalization is one sqrt
    + one division per element. The eigenvalue is the final pre-
    normalization norm (previous iterate is unit). This is the PCA /
    spectral primitive (whitening direction, dominant drift axis) at the
    scale where the MATRIX fits per-executor but the DATA doesn't —
    exactly the 100 TB embedding-analytics regime."""
    emb = _t(spark, sf_dir, "embeddings")
    fx = emb.select(
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(
                (v.cast("double") + F.lit(1.0)) * F.lit(float(EMB_SCALE))
            ).cast("long"),
        ).alias("fx")
    )
    # Gram matrix is symmetric — emit only the upper triangle (2080 cells
    # per row instead of 4096) in the one corpus-sized explode+shuffle, and
    # mirror the off-diagonal cells AFTER the aggregation (a 2080-row map):
    # halves the heavy pass with bit-identical sums.
    # row-major upper-triangle products as BIGINT structs: the corpus-sized
    # explode ships (i, j, long) instead of (i, j, decimal) — 128-bit cell
    # values were ~25% of the pass; exactness is preserved by the two-level
    # aggregation below
    cell_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.transform(
                F.sequence(i, F.lit(63)),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    (
                        F.element_at("fx", i + 1) * F.element_at("fx", j + 1)
                    ).alias("xy"),
                ),
            ),
        )
    )
    # Two-level exact aggregation (r6): per-SCAN-PARTITION partial sums in
    # BIGINT — provably overflow-free at ANY corpus size because a parquet
    # scan partition is size-bounded by maxPartitionBytes (128 MB / 64
    # doubles ≈ ≤250k rows) and each product is < 2^42, so a partial is
    # < 2^60 — then one DECIMAL(38,0) sum over the ≤2080×P partials. The
    # BIGINT map-side hash agg halves the corpus pass vs 128-bit decimal
    # accumulation (3.7 s → 1.9 s at sf0.1); the final values are the same
    # exact integers.
    partials = (
        fx.select(
            F.spark_partition_id().alias("pid"),
            F.explode(cell_structs).alias("c"),
        )
        .groupBy("pid", F.col("c.i").alias("i"), F.col("c.j").alias("j"))
        .agg(F.sum("c.xy").alias("pm"))
    )
    upper = partials.groupBy("i", "j").agg(
        F.sum(F.col("pm").cast("decimal(38,0)")).alias("m")
    )
    # The matrix is CONSTANT-sized (64×64 — the regime stated above), so the
    # three matvec iterations run as a single-row fold over the
    # collect_list'ed upper triangle (was a 64-row join+agg loop with lazy
    # checkpoints: ~22 jobs of stage latency; guide §1.2 step 1). Term
    # arithmetic is mirrored exactly: md = m/2^40 is computed once (the
    # division result is iteration-invariant), each term is
    # round(md·v_j, 6) cast DECIMAL(38,6), summed exactly (order-free);
    # mirrored lower-triangle terms are generated by the symmetric CASE.
    mat_row = upper.agg(
        F.collect_list(
            F.struct(
                "i",
                "j",
                (F.col("m").cast("double") / F.lit(_PI_SCALE)).alias("md"),
            )
        ).alias("mat")
    )
    dec0 = F.lit(0).cast("decimal(38,6)")
    dims = F.sequence(F.lit(0), F.lit(63))

    def _matvec(v):
        def w_i(i):
            def term(a, c):
                t = F.when(
                    c["i"] == i,
                    F.round(c["md"] * F.element_at(v, c["j"] + 1), 6).cast(
                        "decimal(38,6)"
                    ),
                ).when(
                    (c["j"] == i) & (c["i"] != i),
                    F.round(c["md"] * F.element_at(v, c["i"] + 1), 6).cast(
                        "decimal(38,6)"
                    ),
                )
                return (a + F.coalesce(t, dec0)).cast("decimal(38,6)")

            return F.aggregate(
                F.col("mat"), dec0, term, lambda a: a.cast("double")
            )

        return F.transform(dims, w_i)

    def _let(val, body):
        """Bind ``val`` once as a lambda variable (expression-level let):
        referencing a subexpression from several places re-evaluates it per
        reference site, but a transform's lambda argument is evaluated once."""
        return F.element_at(F.transform(F.array(val), body), 1)

    def _step(state, _i):
        def with_w(w):
            nrm_expr = F.sqrt(
                F.aggregate(
                    w,
                    dec0,
                    lambda a, x: (
                        a + F.round(x * x, 6).cast("decimal(38,6)")
                    ).cast("decimal(38,6)"),
                    lambda a: a.cast("double"),
                )
            )
            return _let(
                nrm_expr,
                lambda nrm: F.struct(
                    F.transform(w, lambda x: x / nrm).alias("v"),
                    nrm.alias("nrm"),
                ),
            )

        return _let(_matvec(state["v"]), with_w)

    state0 = F.struct(
        F.transform(dims, lambda i: F.lit(1.0)).alias("v"),
        F.lit(0.0).alias("nrm"),
    )
    final = F.aggregate(F.sequence(F.lit(1), F.lit(3)), state0, _step)
    # lazy checkpoint: the explode + eigenvalue projection reference the
    # fold twice; one 1-row materialization keeps it evaluated/compiled once
    res = mat_row.select(final.alias("s")).localCheckpoint(eager=False)
    return (
        res.select(
            F.posexplode(F.col("s.v")).alias("pos", "loading"),
            F.col("s.nrm").alias("eigenvalue"),
        )
        .select(
            F.col("pos").cast("long").alias("pos"), "loading", "eigenvalue"
        )
        .orderBy("pos")
    )


@register(
    "q247_item_item_cf",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    item AS (SELECT part, CAST(count(*) AS BIGINT) AS c FROM baskets GROUP BY part),
    co AS (
      SELECT a.part AS pi, b.part AS pj, CAST(count(*) AS BIGINT) AS co
      FROM baskets a JOIN baskets b
        ON a.cust = b.cust AND a.part < b.part
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT pi, pj, co FROM co
      UNION ALL
      SELECT pj AS pi, pi AS pj, co FROM co
    ),
    scored AS (
      SELECT s.pi, s.pj, s.co,
             CAST(s.co AS DOUBLE)
               / (sqrt(CAST(ia.c AS DOUBLE)) * sqrt(CAST(ib.c AS DOUBLE)))
               AS cosine
      FROM sym s
      JOIN item ia ON s.pi = ia.part
      JOIN item ib ON s.pj = ib.part
    ),
    ranked AS (
      SELECT pi, pj, co, cosine,
             row_number() OVER (
               PARTITION BY pi
               ORDER BY cosine DESC, co DESC, pj) AS rnk
      FROM scored
    )
    SELECT pi AS part, CAST(rnk AS BIGINT) AS rnk, pj AS neighbor,
           co AS n_co, cosine
    FROM ranked WHERE rnk <= 5
    ORDER BY part, rnk
    """,
)
def q247_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-5 neighbors per part by
    cosine similarity over binary customer-purchase vectors — cosine =
    co-count / (sqrt(|A|) * sqrt(|B|)), all from exact integers with a
    3-op IEEE chain (2 correctly-rounded sqrts + 1 divide — no rounding
    discipline needed). Pair generation is per-customer (bounded by
    basket size, the q126 shape), co-counts aggregate in one shuffle, the
    part-popularity side is item-count-sized and broadcast, and the top-5
    is a WindowGroupLimit (rank pushdown), not a global sort. At 100 TB
    the grouped_pairs basket-size cap (operators/pairs.py — groups over
    the cap dropped by a window-count filter riding the pair join's own
    exchange, before any quadratic work) bounds the pair explosion; the
    DIMSUM sampling scheme is the probabilistic alternative when baskets
    are power-law."""
    from .operators.pairs import grouped_pairs

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    baskets = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        # ONE exchange for the whole basket build: hash-partition on cust
        # first, then the (cust, part) dedup, grouped_pairs' window count
        # AND its pair equi-join all ride that partitioning (a partitioning
        # on a subset of the grouping/join keys satisfies their clustered
        # distribution) — .distinct() paid a (cust, part) exchange plus a
        # cust re-exchange for the window (cold 23.0 -> 6.5 s, warm -0.7 s)
        .repartition("cust")
        .dropDuplicates(["cust", "part"])
        .localCheckpoint(eager=False)  # feeds item counts AND pair gen
    )
    item = baskets.groupBy("part").agg(F.count(F.lit(1)).alias("c"))
    co = (
        grouped_pairs(baskets, "cust", "part", left="pi", right="pj",
                      assume_distinct=True)
        .groupBy("pi", "pj")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    # symmetrize by exploding each pair into both orientations INLINE —
    # one pass over the co aggregate, no localCheckpoint materialization
    # and no union re-read (the r5 checkpoint+union shape paid a ~240 MB
    # cache write + two cached scans: 7.3s -> 5.9s min-warm at sf0.1)
    sym = co.select(
        F.explode(
            F.array(
                F.struct(F.col("pi"), F.col("pj"), F.col("co")),
                F.struct(
                    F.col("pj").alias("pi"),
                    F.col("pi").alias("pj"),
                    F.col("co"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    ia = item.select(F.col("part").alias("pi"), F.col("c").alias("ca"))
    ib = item.select(F.col("part").alias("pj"), F.col("c").alias("cb"))
    scored = (
        sym.join(F.broadcast(ia), "pi")
        .join(F.broadcast(ib), "pj")
        .select(
            "pi",
            "pj",
            "co",
            (
                F.col("co").cast("double")
                / (
                    F.sqrt(F.col("ca").cast("double"))
                    * F.sqrt(F.col("cb").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    wp = W.partitionBy("pi").orderBy(
        F.desc("cosine"), F.desc("co"), F.asc("pj")
    )
    return (
        scored.select(
            "pi", "pj", "co", "cosine", F.row_number().over(wp).alias("rnk")
        )
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("pi").alias("part"),
            F.col("rnk").cast("long").alias("rnk"),
            F.col("pj").alias("neighbor"),
            F.col("co").alias("n_co"),
            "cosine",
        )
        .orderBy("part", "rnk")
    )


@register(
    "q248_sequence_support",
    oracle="""
    WITH spans AS (
      SELECT user_id, event_type,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id, event_type
    ),
    users AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
              FROM events),
    pairs AS (
      SELECT a.event_type AS src, b.event_type AS dst,
             CAST(count(*) AS BIGINT) AS support
      FROM spans a JOIN spans b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
      WHERE a.first_ts < b.last_ts
      GROUP BY 1, 2
    )
    SELECT p.src, p.dst, p.support,
           CAST(p.support AS DOUBLE) / CAST(u.n_users AS DOUBLE)
             AS support_ratio
    FROM pairs p CROSS JOIN users u
    ORDER BY p.src, p.dst
    """,
)
def q248_sequence_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support: for every ordered event-type pair
    (A -> B), how many users exhibit SOME A before SOME B. The existence
    test collapses to an interval comparison — min_ts(A) < max_ts(B) —
    so the per-user explosion is |event types|^2 rows per user (25), not
    a quadratic self-join over raw events: one (user, type) span agg,
    one span self-join on the user key, one count. Support ratio is a
    single exact-integer IEEE division. The market-basket-style
    sequence-mining primitive (SPADE's co-occurrence step) over the
    event stream; complements q143's adjacent-transition matrix with
    gap-tolerant ordering."""
    ev = _t(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    ).localCheckpoint(eager=False)  # both self-join sides
    n_users = ev.agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    a = spans.select(
        "user_id", F.col("event_type").alias("src"), "first_ts"
    )
    b = spans.select(
        "user_id", F.col("event_type").alias("dst"), "last_ts"
    )
    pairs = (
        a.join(b, "user_id")
        .filter(
            (F.col("src") != F.col("dst"))
            & (F.col("first_ts") < F.col("last_ts"))
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return (
        pairs.crossJoin(F.broadcast(n_users))
        .select(
            "src",
            "dst",
            "support",
            (
                F.col("support").cast("double")
                / F.col("n_users").cast("double")
            ).alias("support_ratio"),
        )
        .orderBy("src", "dst")
    )


@register(
    "q249_source_jaccard_matrix",
    oracle=r"""
    WITH st AS (
      SELECT DISTINCT source,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    clean AS (SELECT source, tok FROM st WHERE tok <> ''),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM clean GROUP BY source
    ),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_inter
      FROM clean a JOIN clean b
        ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_inter,
           sa.n + sb.n - i.n_inter AS n_union,
           CAST(i.n_inter AS DOUBLE)
             / CAST(sa.n + sb.n - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
    ORDER BY i.src_a, i.src_b
    """,
)
def q249_source_jaccard_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level vocabulary-overlap matrix: token-SET Jaccard for every
    source pair, from one distinct (source, token) projection — the
    set-theoretic companion to q245's distribution-level JSD (a pair can
    share all tokens yet diverge in frequencies). Intersections come from
    a vocabulary-keyed equi-join (never a document-level comparison);
    Jaccard is one exact-integer division. At 100 TB the (source, token)
    distinct table is vocabulary x sources sized — the corpus is touched
    once."""
    d = _t(spark, sf_dir, "documents")
    clean = (
        d.select("source", F.explode(_tok(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
        .localCheckpoint(eager=False)  # sizes + both join sides
    )
    sizes = clean.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = clean.select(F.col("source").alias("src_a"), "tok")
    b = clean.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(F.broadcast(b), "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_inter",
            (F.col("na") + F.col("nb") - F.col("n_inter")).alias("n_union"),
            (
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


@register(
    "q250_knn_loo_eval",
    oracle=f"""
    WITH {_VFX_SQL},
    norms AS (
      SELECT vec_id, label,
             CAST(sum(CAST(v_fx * v_fx AS DECIMAL(38, 0))) AS DECIMAL(38, 0))
               AS n2
      FROM vfx GROUP BY vec_id, label
    ),
    dots AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             CAST(sum(CAST(q.v_fx * c.v_fx AS DECIMAL(38, 0)))
                  AS DECIMAL(38, 0)) AS dot
      FROM vfx q JOIN vfx c ON q.pos = c.pos
      WHERE q.vec_id % 10 = 0 AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.qid, d.cid, nc.label AS c_label,
             CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE)))
               AS cos
      FROM dots d
      JOIN norms nq ON d.qid = nq.vec_id
      JOIN norms nc ON d.cid = nc.vec_id
    ),
    top5 AS (
      SELECT qid, cid, c_label, cos,
             row_number() OVER (
               PARTITION BY qid ORDER BY cos DESC, cid) AS rn
      FROM scored
    ),
    votes AS (
      SELECT qid, c_label, CAST(count(*) AS BIGINT) AS n_votes
      FROM top5 WHERE rn <= 5 GROUP BY qid, c_label
    ),
    pred AS (
      SELECT qid, c_label AS pred_label, n_votes,
             row_number() OVER (
               PARTITION BY qid ORDER BY n_votes DESC, c_label) AS vr
      FROM votes
    )
    SELECT p.qid AS vec_id, CAST(n.label AS BIGINT) AS label,
           CAST(p.pred_label AS BIGINT) AS pred_label, p.n_votes,
           CAST(CASE WHEN p.pred_label = n.label THEN 1 ELSE 0 END AS BIGINT)
             AS correct
    FROM pred p JOIN norms n ON p.qid = n.vec_id
    WHERE p.vr = 1
    ORDER BY vec_id
    """,
)
def q250_knn_loo_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN classification audit over the embedding corpus:
    every 10th vector is a query, its 5 nearest neighbors (exact
    fixed-point cosine — integer dot products and norms, one IEEE
    divide + 2 sqrts) vote on its label, majority (ties to the smaller
    label) vs ground truth. This is the embedding-quality measurement a
    curation pipeline runs before trusting semantic dedup (q73) or ANN
    retrieval (q41): if LOO accuracy is low, neighbor-based curation is
    noise. Spark shape: the query subset is BROADCAST against the corpus
    (the corpus never shuffles — q21's topology), dot products are
    zip_with/aggregate over the arrays (no per-dim explode), top-5 is a
    WindowGroupLimit. The oracle re-derives the same from per-dimension
    rows. At 100 TB the query side stays bounded and the brute-force
    scan becomes q41's IVF probe — same output contract."""
    emb = _t(spark, sf_dir, "embeddings")
    fx = emb.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(
                (v.cast("double") + F.lit(1.0)) * F.lit(float(EMB_SCALE))
            ).cast("long"),
        ).alias("fx"),
    )
    # Per-vector terms are scale-INDEPENDENT: fx entries <= 2^21, so each
    # product <= 2^42 and a 64-term sum <= 2^48 — exact in BIGINT at any
    # corpus size (unlike q246's corpus-sized Gram sums, which need
    # DECIMAL). Long arithmetic keeps the hot inner loop out of BigDecimal.
    # spread the corpus across cores BEFORE the checkpoint: the embeddings
    # parquet is one split, and the 400k-pair dot-product crossJoin below
    # otherwise inherits that single partition for its whole hot loop
    norms = spread(fx.select(
        "vec_id",
        "label",
        "fx",
        F.aggregate(
            F.transform(F.col("fx"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n2"),
    )).localCheckpoint(eager=False)  # query side + corpus side
    q = norms.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("fx").alias("qfx"),
        F.col("n2").alias("qn2"),
    )
    c = norms.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("c_label"),
        F.col("fx").alias("cfx"),
        F.col("n2").alias("cn2"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "q_label",
            "cid",
            "c_label",
            (
                F.aggregate(
                    F.zip_with("qfx", "cfx", lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).cast("double")
                / (
                    F.sqrt(F.col("qn2").cast("double"))
                    * F.sqrt(F.col("cn2").cast("double"))
                )
            ).alias("cos"),
        )
    )
    top5 = scored.select(
        "qid",
        "q_label",
        "c_label",
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid")))
        .alias("rn"),
    ).filter(F.col("rn") <= 5)
    votes = top5.groupBy("qid", "q_label", "c_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    pred = votes.select(
        "qid",
        "q_label",
        "c_label",
        "n_votes",
        F.row_number()
        .over(
            W.partitionBy("qid").orderBy(F.desc("n_votes"), F.asc("c_label"))
        )
        .alias("vr"),
    ).filter(F.col("vr") == 1)
    return pred.select(
        F.col("qid").alias("vec_id"),
        F.col("q_label").cast("long").alias("label"),
        F.col("c_label").cast("long").alias("pred_label"),
        "n_votes",
        F.when(F.col("c_label") == F.col("q_label"), 1)
        .otherwise(0)
        .cast("long")
        .alias("correct"),
    ).orderBy("vec_id")


@register(
    "q251_bigram_lm_nll",
    oracle=r"""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS a
      FROM documents
    ),
    bg AS (
      SELECT doc_id, unnest(list_zip(a[1:len(a) - 1], a[2:len(a)])) AS z
      FROM arrs WHERE len(a) >= 2
    ),
    bigrams AS (
      SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bg
    ),
    c12 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bigrams GROUP BY 1, 2
    ),
    c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS n FROM c12 GROUP BY w1),
    vocab AS (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM (
        SELECT unnest(a) AS tok FROM arrs
      )
    ),
    scored AS (
      SELECT b.doc_id,
             CAST(round(-ln(CAST(c12.c + 1 AS DOUBLE)
                            / CAST(c1.n + vocab.v AS DOUBLE)), 9)
                  AS DECIMAL(28, 9)) AS nll
      FROM bigrams b
      JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
      JOIN c1 ON b.w1 = c1.w1
      CROSS JOIN vocab
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(nll) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_nll
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def q251_bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity proxy under a corpus-trained bigram LM with
    add-one smoothing — the statistical quality scorer a curation
    pipeline uses between heuristics (q24) and a real LM: documents
    whose bigrams surprise the corpus model rank as noise. p(w2|w1) =
    (c12+1)/(c1+V) is an exact-integer ratio; each -ln(p) is rounded to
    9 decimals and decimal-summed per doc (order-free), then one final
    division by the bigram count. The model is VOCABULARY-sized (c12 is
    |V|^2-bounded) and broadcast back to the bigram stream — two corpus
    passes (count, score), zero corpus shuffles beyond the doc-level
    agg. The n-gram-LM counterpart of q112's rule-based lm-quality."""
    d = _t(spark, sf_dir, "documents")
    arrs = d.select(
        "doc_id",
        F.filter(_tok(F.col("text")), lambda x: x != "").alias("a"),
    ).localCheckpoint(eager=False)  # bigrams + vocab count
    bigrams = (
        arrs.filter(F.size("a") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("a") - 1),
                    lambda i: F.struct(
                        F.element_at("a", i).alias("w1"),
                        F.element_at("a", i + 1).alias("w2"),
                    ),
                )
            ).alias("z"),
        )
        .select("doc_id", F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
        .localCheckpoint(eager=False)  # counts + scoring pass
    )
    c12 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    c1 = c12.groupBy("w1").agg(F.sum("c").alias("n"))
    vocab = arrs.select(F.explode("a").alias("tok")).agg(
        F.countDistinct("tok").cast("long").alias("v")
    )
    scored = (
        bigrams.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                -F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("n") + F.col("v")).cast("double")
                ),
                9,
            )
            .cast("decimal(28,9)")
            .alias("nll"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum("nll").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


@register(
    "q252_degree_assortativity",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT DISTINCT a.part AS pi, b.part AS pj
      FROM baskets a JOIN baskets b
        ON a.cust = b.cust AND a.part < b.part
    ),
    deg AS (
      SELECT part, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT pi AS part FROM edges UNION ALL SELECT pj AS part FROM edges
      ) GROUP BY part
    ),
    ends AS (
      SELECT da.d AS x, db.d AS y FROM edges e
      JOIN deg da ON e.pi = da.part
      JOIN deg db ON e.pj = db.part
      UNION ALL
      SELECT db.d AS x, da.d AS y FROM edges e
      JOIN deg da ON e.pi = da.part
      JOIN deg db ON e.pj = db.part
    ),
    moms AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM ends
    )
    SELECT CAST(n // 2 AS BIGINT) AS n_edges,
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                          AS DOUBLE))
                * sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
                            AS DOUBLE))) AS assortativity
    FROM moms
    """,
)
def q252_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: Pearson correlation
    of endpoint degrees over all (symmetrized) edges — do hub parts
    connect to hubs (r>0) or to the periphery (r<0)? All six moments are
    exact BIGINTs over the doubled edge list (both orientations, the
    standard definition), the coefficient is one IEEE chain. Edge
    generation goes through grouped_pairs (operators/pairs.py — the capped
    per-customer array generator shared with q247/q126, never a raw
    self-join); degrees come from one count agg on the edge list and
    broadcast back.
    The graph-topology health metric for neighbor-based curation
    (q247/q73): strong disassortativity warns that hub-capping is needed
    before LSH bucketing."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    baskets = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        # one exchange for dedup + window + pair join (the q247 shape):
        # partition on cust, then the (cust, part) dedup and grouped_pairs
        # both ride it
        .repartition("cust")
        .dropDuplicates(["cust", "part"])
        # grouped_pairs references its input from both join sides; the
        # join+distinct is expensive, so honor the generator's caching
        # contract (pairs.py module docstring, ADVICE r5) rather than
        # relying on ReuseExchange to dedupe the subtree
        .localCheckpoint(eager=False)
    )
    from .operators.pairs import grouped_pairs

    # NO checkpoint on the 12.7M-row edge list (sf0.1): caching it held
    # ~0.5 GB of deserialized rows per pass, and under bench-wide storage
    # pressure eviction made the two consumer passes recompute or thrash —
    # q252 ran anywhere from 7 to 37 s. The two consumers below reference
    # the identical distinct subtree, so ReuseExchange dedupes its shuffle
    # and the post-shuffle dedup re-runs from compact shuffle files instead
    # of a fat cache (measured 4.3–6.8 s warm vs 7–30 s, and a 30.7 → 7.6 s
    # cold).
    edges = grouped_pairs(baskets, "cust", "part", left="pi", right="pj",
                          assume_distinct=True).distinct()
    # one explode pass for degrees instead of a two-scan union
    deg = (
        edges.select(F.explode(F.array("pi", "pj")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Five of the six moments over the DOUBLED edge list (the standard
    # definition the oracle computes) are DEGREE-ONLY identities — every
    # vertex v appears in exactly d_v unordered edges, so
    #   n   = 2E       = Σ d          (handshake)
    #   sx  = sy       = Σ_edges(dx+dy) = Σ d²
    #   sxx = syy      = Σ_edges(dx²+dy²) = Σ d³
    # — exact BIGINT sums over the |parts|-sized degree table, no edge join.
    # Only sxy = 2Σ dx·dy genuinely needs the edge list against the
    # broadcast degree sides.
    degmoms = deg.agg(
        F.sum("d").alias("n"),
        F.sum(F.col("d") * F.col("d")).alias("sx"),
        F.sum(F.col("d") * F.col("d") * F.col("d")).alias("sxx"),
    )
    da = deg.select(F.col("part").alias("pi"), F.col("d").alias("dx"))
    db = deg.select(F.col("part").alias("pj"), F.col("d").alias("dy"))
    sxy = (
        edges.join(F.broadcast(da), "pi")
        .join(F.broadcast(db), "pj")
        .agg((F.sum(F.col("dx") * F.col("dy")) * 2).alias("sxy"))
    )
    moms = degmoms.crossJoin(F.broadcast(sxy)).select(
        "n", "sx", F.col("sx").alias("sy"), "sxy", "sxx",
        F.col("sxx").alias("syy"),
    )
    # the cross-sum products (n·sxy, sx·sy, ...) overflow BIGINT at sf0.1+
    # (caught by the bench, not the sf0.01 gate) — run them in exact wide
    # integers on both engines (Spark DECIMAL(38,0) ~ DuckDB HUGEINT), then
    # one cast to double: same exact integer -> same double, no overflow.
    # Shared headroom bound ~1e38 (DECIMAL(38,0) max ≈ 10^38−1, HUGEINT max
    # ≈ 1.7e38): n·sxy stays under it up to ~sf1e4; PAST it the engines
    # diverge in FAILURE MODE, not values — non-ANSI Spark returns NULL
    # silently, DuckDB raises (ADVICE r4). If this query ever runs near that
    # scale, enable spark.sql.ansi.enabled for the job so both fail loudly.
    wide = "decimal(38,0)"
    n, sx, sy = [F.col(c).cast(wide) for c in ("n", "sx", "sy")]
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return moms.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        (
            (n * sxy - sx * sy).cast("double")
            / (
                F.sqrt((n * sxx - sx * sx).cast("double"))
                * F.sqrt((n * syy - sy * sy).cast("double"))
            )
        ).alias("assortativity"),
    )


@register(
    "q253_bitemporal_asof",
    oracle="""
    WITH log AS (
      SELECT user_id, event_id, event_type, value, ts,
             ts + INTERVAL (event_id % 5) DAY AS knowledge_ts
      FROM events
    ),
    visible AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM log
      WHERE ts <= TIMESTAMP '2024-06-30 00:00:00'
        AND knowledge_ts <= TIMESTAMP '2024-07-02 00:00:00'
    )
    SELECT user_id, event_id, event_type, value, ts AS valid_ts,
           knowledge_ts
    FROM visible WHERE rn = 1 ORDER BY user_id
    """,
)
def q253_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal point-in-time query: each user's state as of VALID time
    2024-06-30 *as it was known by* 2024-07-02 — records carry both an
    event time and a (synthesized, deterministic) knowledge time, and
    late-arriving corrections must NOT rewrite what a report dated
    earlier showed. One filter + one per-user window (single shuffle on
    the key). Knowledge time = ts + (event_id % 5) days models 0-4-day
    arrival lag. The two-axis generalization of q97's SCD2 and q109's
    temporal join — the reproducible-snapshot contract an audited
    migration (the reference's domain) must honor."""
    ev = _t(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        "ts",
        (
            F.col("ts")
            + F.make_dt_interval(days=(F.col("event_id") % 5))
        ).alias("knowledge_ts"),
    )
    visible = log.filter(
        (F.col("ts") <= F.lit("2024-06-30 00:00:00").cast("timestamp"))
        & (
            F.col("knowledge_ts")
            <= F.lit("2024-07-02 00:00:00").cast("timestamp")
        )
    )
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        visible.select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.col("ts").alias("valid_ts"),
            "knowledge_ts",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


def _setcover_oracle(rounds: int = 5) -> str:
    parts = [r"""
    WITH arrs AS (
      SELECT source,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS a
      FROM documents
    ),
    items AS (
      SELECT DISTINCT source, z[1] || ' ' || z[2] AS item FROM (
        SELECT source, unnest(list_zip(a[1:len(a) - 1], a[2:len(a)])) AS z
        FROM arrs WHERE len(a) >= 2
      )
    ),
    cand1 AS (
      SELECT source, CAST(count(*) AS BIGINT) AS cnt
      FROM items GROUP BY source
    ),
    pick1 AS (SELECT source, cnt FROM cand1 ORDER BY cnt DESC, source LIMIT 1),
    cov1 AS (SELECT DISTINCT item FROM items JOIN pick1 USING (source)),
    picked1 AS (SELECT source FROM pick1)"""]
    for k in range(2, rounds + 1):
        parts.append(f""",
    cand{k} AS (
      SELECT i.source, CAST(count(*) AS BIGINT) AS cnt FROM items i
      WHERE i.source NOT IN (SELECT source FROM picked{k - 1})
        AND i.item NOT IN (SELECT item FROM cov{k - 1})
      GROUP BY i.source
    ),
    pick{k} AS (SELECT source, cnt FROM cand{k}
                ORDER BY cnt DESC, source LIMIT 1),
    cov{k} AS (SELECT item FROM cov{k - 1}
               UNION
               SELECT item FROM items JOIN pick{k} USING (source)),
    picked{k} AS (SELECT source FROM picked{k - 1}
                  UNION ALL SELECT source FROM pick{k})""")
    sels = [
        f"""SELECT CAST({k} AS BIGINT) AS round, source,
               cnt AS newly_covered,
               (SELECT CAST(count(*) AS BIGINT) FROM cov{k}) AS cum_covered
        FROM pick{k}"""
        for k in range(1, rounds + 1)
    ]
    parts.append("\n    " + "\n    UNION ALL\n    ".join(sels))
    parts.append("\n    ORDER BY round")
    return "".join(parts)


@register("q254_greedy_set_cover", oracle=_setcover_oracle())
def q254_greedy_set_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy set-cover source selection: 5 rounds of 'pick the source
    adding the most still-uncovered bigrams' — the data-mixing primitive
    for assembling a maximal-diversity training subset under a source
    budget (greedy is the classic (1-1/e) approximation). Each round is
    three bounded ops: anti-join away covered items, one per-source
    count, a 1-row argmax (orderBy+limit over the SOURCE-cardinality
    candidate table — never the corpus); the covered set lives as a
    distributed item table, lazily checkpointed per round. All outputs
    are exact integers. The corpus is scanned once to build the
    (source, bigram) incidence; everything iterative is vocabulary-sized
    — the 100 TB shape. Ties break (count desc, source asc) identically
    in both engines.

    r6: cum_covered rides as a broadcast 1-row aggregate instead of a
    per-round covered.count() literal, so the WHOLE 5-round loop is one
    lazy plan forced by the single final action — no driver round trips
    mid-loop (first/cold pass 12.6-13.0 s -> 4.1 s at sf0.1, warm parity,
    identical rows)."""
    d = _t(spark, sf_dir, "documents")
    arrs = d.select(
        "source", F.filter(_tok(F.col("text")), lambda x: x != "").alias("a")
    )
    items = (
        arrs.filter(F.size("a") >= 2)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("a") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("a", i), F.element_at("a", i + 1)
                    ),
                )
            ).alias("item"),
        )
        .distinct()
        # lazy: scanned every round within the one final action; the first
        # round's scan materializes it — no separate barrier job (r6)
        .localCheckpoint(eager=False)
    )
    covered = None
    picked = None
    out_rows = None
    for k in range(1, 6):
        rem = items
        if picked is not None:
            rem = rem.join(picked, "source", "left_anti")
        if covered is not None:
            rem = rem.join(covered, "item", "left_anti")
        cand = rem.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
        pick = (
            cand.orderBy(F.desc("cnt"), F.asc("source"))
            .limit(1)
            # lazy: the final action forces the whole chain; the
            # checkpoint still truncates lineage per round
            .localCheckpoint(eager=False)
        )
        new_cov = items.join(pick.select("source"), "source").select("item")
        covered = (
            new_cov
            if covered is None
            else covered.unionByName(new_cov).distinct()
        ).localCheckpoint(eager=False)
        picked = (
            pick.select("source")
            if picked is None
            else picked.unionByName(pick.select("source"))
        )
        ncov = covered.agg(F.count(F.lit(1)).alias("cum_covered"))
        row = pick.select(
            F.lit(k).cast("long").alias("round"),
            "source",
            F.col("cnt").alias("newly_covered"),
        ).crossJoin(F.broadcast(ncov))
        out_rows = row if out_rows is None else out_rows.unionByName(row)
    return out_rows.select(
        "round", "source", "newly_covered",
        F.col("cum_covered").cast("long").alias("cum_covered"),
    ).orderBy("round")


@register(
    "q255_fano_burstiness",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    hours AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT t.event_type, hrs.h, COALESCE(c.c, 0) AS c
      FROM types t CROSS JOIN hours hrs
      LEFT JOIN counts c ON c.event_type = t.event_type AND c.h = hrs.h
    ),
    moms AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS sx,
             CAST(sum(c * c) AS BIGINT) AS sxx
      FROM series GROUP BY event_type
    )
    SELECT event_type, n AS n_hours, sx AS total,
           CAST(n * sxx - sx * sx AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) AS fano
    FROM moms ORDER BY event_type
    """,
)
def q255_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of hourly arrival counts per
    event type over a DENSE hour spine — the burstiness diagnostic that
    separates Poisson-like traffic (F~1) from bursty (F>1) or clocked
    (F<1) sources. Algebra: var/mean = (n*Sxx - Sx^2)/(n*Sx), ONE IEEE
    division over exact integer moments — no float mean ever
    materializes. The spine is calendar-bounded and broadcast; the fact
    table contributes one hash agg. Companion to q127's burst detection
    (which finds WHEN; this scores HOW MUCH overall)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = ev.select("event_type").distinct()
    series = (
        types.crossJoin(F.broadcast(hours))
        .join(F.broadcast(counts), ["event_type", "h"], "left")
        .select("event_type", "h", F.coalesce("c", F.lit(0)).alias("c"))
    )
    moms = series.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sx"),
        F.sum(F.col("c") * F.col("c")).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    return moms.select(
        "event_type",
        n.alias("n_hours"),
        sx.alias("total"),
        (
            (n * sxx - sx * sx).cast("double")
            / (n.cast("double") * sx.cast("double"))
        ).alias("fano"),
    ).orderBy("event_type")


@register(
    "q256_returns_above_nation_avg",
    oracle="""
    WITH cust_returns AS (
      SELECT c.c_custkey, c.c_nationkey,
             CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                  * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE l.l_returnflag = 'R'
      GROUP BY 1, 2
    ),
    nation_avg AS (
      SELECT c_nationkey,
             CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_cents
      FROM cust_returns GROUP BY c_nationkey
    )
    SELECT r.c_custkey, n.n_name AS nation, r.cents AS return_cents,
           a.avg_cents AS nation_avg_cents
    FROM cust_returns r
    JOIN nation_avg a ON r.c_nationkey = a.c_nationkey
    JOIN nation n ON r.c_nationkey = n.n_nationkey
    WHERE CAST(r.cents AS DOUBLE) > 1.2 * a.avg_cents
    ORDER BY r.c_custkey
    """,
)
def q256_returns_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q1-shaped correlated filter: customers whose returned-item
    revenue exceeds 1.2x the average return revenue of their own nation.
    The correlation is decorrelated into one per-customer agg + one
    nation-level agg broadcast back (what Catalyst does to the correlated
    subquery form). Revenue accumulates in exact integer cents; the
    threshold compare is a deterministic 2-op IEEE chain (one divide, one
    multiply) identical on both sides — exactness survives even AT the
    boundary because both engines compute the same doubles. Dims
    broadcast; the fact table shuffles once on custkey."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    cust_returns = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .select("c_custkey", "c_nationkey", cents.alias("cc"))
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum("cc").alias("cents"))
        .localCheckpoint(eager=False)  # feeds the nation agg and the probe
    )
    nation_avg = cust_returns.groupBy("c_nationkey").agg(
        (
            F.sum("cents").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_cents")
    )
    return (
        cust_returns.join(F.broadcast(nation_avg), "c_nationkey")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .filter(F.col("cents").cast("double") > F.lit(1.2) * F.col("avg_cents"))
        .select(
            "c_custkey",
            F.col("n_name").alias("nation"),
            F.col("cents").alias("return_cents"),
            F.col("avg_cents").alias("nation_avg_cents"),
        )
        .orderBy("c_custkey")
    )


@register(
    "q257_forecast_backtest",
    oracle="""
    WITH monthly AS (
      SELECT (CAST(year(l_shipdate) AS BIGINT) * 12
              + CAST(month(l_shipdate) AS BIGINT) - 1) AS m,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                  + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    lagged AS (
      SELECT m, cents,
             lag(cents, 12) OVER (ORDER BY m) AS f,
             lag(cents, 1) OVER (ORDER BY m) AS prev
      FROM monthly
    ),
    scored AS (
      SELECT m, cents, f,
             abs(cents - f) AS abs_err,
             CAST(round(2 * CAST(abs(cents - f) AS DOUBLE)
                  / CAST(cents + f AS DOUBLE), 9) AS DECIMAL(28, 9)) AS smape,
             abs(cents - prev) AS naive_err
      FROM lagged WHERE f IS NOT NULL
    )
    SELECT m, cents AS actual_cents, f AS forecast_cents, abs_err,
           CAST(smape AS DOUBLE) AS smape,
           CAST(sum(abs_err) OVER () AS DOUBLE)
             / CAST(sum(naive_err) OVER () AS DOUBLE) AS mase_vs_naive1,
           CAST(CAST(sum(smape) OVER () AS DOUBLE)
                / CAST(count(*) OVER () AS DOUBLE) AS DOUBLE) AS avg_smape
    FROM scored ORDER BY m
    """,
)
def q257_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict month m's revenue as
    month m-12's, score every forecastable month with sMAPE and the whole
    backtest with MASE (seasonal error over one-step-naive error). MASE
    is a ratio of two exact-integer error sums — ONE IEEE division, no
    float accumulation anywhere; sMAPE terms are fixed chains rounded to
    9 decimals and decimal-averaged. The monthly series is
    calendar-bounded, so the lag windows run on one tiny partition; the
    corpus contributes a single month agg. The honest-baseline companion
    to q237's Holt smoothing — a model that can't beat this backtest
    shouldn't ship."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    monthly = (
        li.select(
            (
                F.year("l_shipdate").cast("long") * 12
                + F.month("l_shipdate").cast("long")
                - 1
            ).alias("m"),
            cents.alias("c"),
        )
        .groupBy("m")
        .agg(F.sum("c").alias("cents"))
    )
    w = W.orderBy("m")
    lagged = monthly.select(
        "m",
        "cents",
        F.lag("cents", 12).over(w).alias("f"),
        F.lag("cents", 1).over(w).alias("prev"),
    )
    scored = lagged.filter(F.col("f").isNotNull()).select(
        "m",
        "cents",
        "f",
        F.abs(F.col("cents") - F.col("f")).alias("abs_err"),
        F.round(
            F.lit(2)
            * F.abs(F.col("cents") - F.col("f")).cast("double")
            / (F.col("cents") + F.col("f")).cast("double"),
            9,
        )
        .cast("decimal(28,9)")
        .alias("smape"),
        F.abs(F.col("cents") - F.col("prev")).alias("naive_err"),
    )
    wall = W.partitionBy()
    return scored.select(
        "m",
        F.col("cents").alias("actual_cents"),
        F.col("f").alias("forecast_cents"),
        "abs_err",
        F.col("smape").cast("double").alias("smape"),
        (
            F.sum("abs_err").over(wall).cast("double")
            / F.sum("naive_err").over(wall).cast("double")
        ).alias("mase_vs_naive1"),
        (
            F.sum("smape").over(wall).cast("double")
            / F.count(F.lit(1)).over(wall).cast("double")
        ).alias("avg_smape"),
    ).orderBy("m")


@register(
    "q258_mann_whitney_u",
    oracle="""
    WITH two AS (
      SELECT o_orderpriority AS grp, o_totalprice AS v FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    ranked AS (
      SELECT grp,
             CAST(rank() OVER (ORDER BY v) AS BIGINT) AS rmin,
             CAST(count(*) OVER (PARTITION BY v) AS BIGINT) AS tie
      FROM two
    ),
    gsum AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(rmin AS DECIMAL(28, 1))
                  + CAST(tie - 1 AS DECIMAL(28, 1)) / 2) AS DECIMAL(38, 1))
               AS r
      FROM ranked GROUP BY grp
    ),
    u AS (
      SELECT a.n AS n1, b.n AS n2,
             CAST(a.r AS DOUBLE)
               - CAST(a.n AS DOUBLE) * CAST(a.n + 1 AS DOUBLE) / 2 AS u1
      FROM gsum a JOIN gsum b
        ON a.grp = '1-URGENT' AND b.grp = '5-LOW'
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2, u1,
           1 - 2 * u1 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             AS rank_biserial
    FROM u
    """,
)
def q258_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (two-sample Wilcoxon) between urgent and low-
    priority order values, with the rank-biserial effect size — the
    2-group special case of q242's Kruskal-Wallis, reported the way an
    experimenter reads it (direction + magnitude, not just a p-value).
    Tie-averaged ranks are exact half-integers in DECIMAL(38,1);
    U1 = R1 - n1(n1+1)/2 and the effect size are short fixed IEEE chains
    over those exact sums. One global rank (range shuffle on the filtered
    two-group subset), one group agg."""
    o = _t(spark, sf_dir, "orders")
    two = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(F.col("o_orderpriority").alias("grp"), F.col("o_totalprice").alias("v"))
    ranked = two.select(
        "grp",
        F.rank().over(W.orderBy("v")).cast("long").alias("rmin"),
        F.count(F.lit(1)).over(W.partitionBy("v")).cast("long").alias("tie"),
    )
    gsum = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.col("rmin").cast("decimal(28,1)")
            + (F.col("tie") - 1).cast("decimal(28,1)") / 2
        )
        .cast("decimal(38,1)")
        .alias("r"),
    )
    a = gsum.filter(F.col("grp") == "1-URGENT").select(
        F.col("n").alias("n1"), F.col("r").alias("r1")
    )
    b = gsum.filter(F.col("grp") == "5-LOW").select(F.col("n").alias("n2"))
    u1 = (
        F.col("r1").cast("double")
        - F.col("n1").cast("double") * (F.col("n1") + 1).cast("double") / 2
    )
    return (
        a.crossJoin(b)
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            u1.alias("u1"),
            (
                F.lit(1)
                - F.lit(2)
                * u1
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("rank_biserial"),
        )
    )


@register(
    "q259_rfm_segmentation",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(datediff('day', max(CAST(o_orderdate AS DATE)),
                  DATE '2001-09-01') AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey)
               AS m_score,
             monetary_cents
      FROM per_cust
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY 1, 2, 3
    ORDER BY r_score, f_score, m_score
    """,
)
def q259_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — the
    classic CRM cube: per customer, days since last order, order count,
    and lifetime cents; each dimension quintiled (ties broken by custkey
    so NTILE is deterministic), then segment cells aggregated. All
    integers end to end. The three global ntiles run over the CUSTOMER
    table (already one agg down from the fact table); at 100 TB the
    quintile fences would come from q234's equi-depth histogram instead
    of a global sort — same cell contract."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-09-01").cast("date"), F.max(F.to_date("o_orderdate"))
        )
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("monetary_cents"),
    )
    scored = per_cust.select(
        "monetary_cents",
        F.ntile(5).over(W.orderBy("recency_days", "o_custkey")).alias("r_score"),
        F.ntile(5)
        .over(W.orderBy(F.desc("frequency"), F.asc("o_custkey")))
        .alias("f_score"),
        F.ntile(5)
        .over(W.orderBy(F.desc("monetary_cents"), F.asc("o_custkey")))
        .alias("m_score"),
    )
    return (
        scored.groupBy(
            F.col("r_score").cast("long").alias("r_score"),
            F.col("f_score").cast("long").alias("f_score"),
            F.col("m_score").cast("long").alias("m_score"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").alias("segment_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "q260_late_arrival_audit",
    oracle="""
    WITH lagged AS (
      SELECT event_type, CAST(event_id % 5 AS BIGINT) AS lag_days
      FROM events
    ),
    counts AS (
      SELECT event_type, lag_days, CAST(count(*) AS BIGINT) AS n
      FROM lagged GROUP BY 1, 2
    )
    SELECT event_type, lag_days, n,
           CAST(sum(n) OVER (PARTITION BY event_type ORDER BY lag_days)
                AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE)
             AS cum_share,
           CAST(sum(n) OVER (PARTITION BY event_type ORDER BY lag_days)
                AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE) >= 0.95
             AS covers_p95
    FROM counts ORDER BY event_type, lag_days
    """,
)
def q260_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arrival (event-time vs arrival-time) audit: the distribution
    of arrival lag per event type with cumulative shares — the
    measurement that SIZES a streaming watermark (q253's knowledge-time
    model: lag = event_id % 5 days). covers_p95 marks the smallest lag
    bound admitting >=95% of events: choose the watermark delay one row
    past it. Cumulative shares are single IEEE divisions of exact
    integer running sums; the window runs over the type x lag grid (25
    rows), after one corpus-sized agg."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.select(
        "event_type", (F.col("event_id") % 5).cast("long").alias("lag_days")
    ).groupBy("event_type", "lag_days").agg(F.count(F.lit(1)).alias("n"))
    wt = W.partitionBy("event_type")
    cum = F.sum("n").over(wt.orderBy("lag_days")).cast("double") / F.sum(
        "n"
    ).over(wt).cast("double")
    return counts.select(
        "event_type",
        "lag_days",
        "n",
        cum.alias("cum_share"),
        (cum >= 0.95).alias("covers_p95"),
    ).orderBy("event_type", "lag_days")


@register(
    "q261_open_shipments_sweepline",
    oracle="""
    WITH li AS (
      SELECT CAST(o.o_orderdate AS DATE) AS d_start,
             CAST(l.l_shipdate AS DATE) + 1 AS d_end
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deltas AS (
      SELECT d, CAST(sum(delta) AS BIGINT) AS delta FROM (
        SELECT d_start AS d, 1 AS delta FROM li
        UNION ALL
        SELECT d_end AS d, -1 AS delta FROM li
      ) GROUP BY d
    )
    SELECT CAST(d AS TIMESTAMP) AS day, delta,
           CAST(sum(delta) OVER (ORDER BY d) AS BIGINT) AS open_count
    FROM deltas ORDER BY day
    """,
)
def q261_open_shipments_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: how many line items are 'open'
    (ordered but not yet shipped) on each day. The classic max-overlap
    problem solved without a per-day rescan: each interval
    [o_orderdate, l_shipdate] contributes +1 at its start and -1 the day
    after its end; a running sum over the DELTA table (one row per
    distinct boundary day, ~date-range-sized) reconstructs the open
    count. The fact-table work is two hash aggs; the single-partition
    running-sum window runs over #days rows, never the fact table. All
    integers — exact."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("d_start")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.date_add(F.col("l_shipdate").cast("date"), 1).alias("d_end")
    )
    iv = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select("d_start", "d_end")
    deltas = (
        iv.select(F.col("d_start").alias("d"), F.lit(1).alias("delta"))
        .unionAll(iv.select(F.col("d_end").alias("d"), F.lit(-1).alias("delta")))
        .groupBy("d")
        .agg(F.sum("delta").cast("long").alias("delta"))
    )
    return deltas.select(
        F.col("d").cast("timestamp").alias("day"),
        "delta",
        F.sum("delta").over(W.orderBy("d")).cast("long").alias("open_count"),
    ).orderBy("day")


@register(
    "q262_position_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type, value,
             CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT) AS journey
      FROM events
    ),
    touches AS (
      SELECT user_id, journey, event_type,
             CAST(row_number() OVER (PARTITION BY user_id, journey
                                     ORDER BY ts, event_id) AS BIGINT) AS pos,
             CAST(count(*) OVER (PARTITION BY user_id, journey)
                  AS BIGINT) AS n
      FROM seq WHERE event_type <> 'purchase'
    ),
    purchases AS (
      SELECT user_id, journey,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM seq WHERE event_type = 'purchase'
    ),
    attributed AS (
      SELECT t.event_type,
             CAST(p.cents AS DOUBLE)
               * (CASE WHEN t.n = 1 THEN 0.5 + 0.5
                       WHEN t.n = 2 THEN 0.5
                       WHEN t.pos = 1 OR t.pos = t.n THEN 0.4
                       ELSE 0.2 / CAST(t.n - 2 AS DOUBLE) END)
               / 100 AS dollars
      FROM touches t JOIN purchases p
        ON t.user_id = p.user_id AND t.journey = p.journey
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(CAST(round(dollars, 9) AS DECIMAL(28, 9)))
                AS DOUBLE) AS attributed_dollars
    FROM attributed GROUP BY event_type ORDER BY event_type
    """,
)
def q262_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution: each
    purchase's value is credited across the non-purchase touches since the
    user's previous purchase — 40% first touch, 40% last, the middle 20%
    split evenly (100% / 50-50 for 1- and 2-touch journeys). Journey
    assignment is one running count over the user timeline (one key
    shuffle); touches join back to their closing purchase on
    (user, journey). Per-touch dollars are a fixed IEEE chain off integer
    cents, rounded to 9 places and summed in DECIMAL so the total is
    summation-order-free."""
    ev = _t(spark, sf_dir, "events")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .over(wseq.rowsBetween(W.unboundedPreceding, -1))
        .cast("long")
        .alias("journey"),
    )
    wj = W.partitionBy("user_id", "journey")
    touches = seq.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "journey",
        "event_type",
        F.row_number().over(wj.orderBy("ts", "event_id")).cast("long").alias("pos"),
        F.count(F.lit(1)).over(wj).cast("long").alias("n"),
    )
    purchases = seq.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "journey",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = (
        F.when(F.col("n") == 1, F.lit(0.5) + F.lit(0.5))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2).cast("double"))
    )
    dollars = F.col("cents").cast("double") * w / 100
    return (
        touches.join(purchases, ["user_id", "journey"])
        .select("event_type", dollars.alias("dollars"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum(F.round(F.col("dollars"), 9).cast("decimal(28,9)"))
            .cast("double")
            .alias("attributed_dollars"),
        )
        .orderBy("event_type")
    )


@register(
    "q263_damerau_levenshtein_linkage",
    oracle="""
    WITH names AS (
      SELECT p_name,
             regexp_extract(p_name, '([a-z]+)$', 1) AS block,
             CAST(count(*) AS BIGINT) AS cnt
      FROM part GROUP BY 1, 2
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(damerau_levenshtein(a.p_name, b.p_name) AS BIGINT)
             AS distance,
           a.cnt * b.cnt AS n_part_pairs
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE damerau_levenshtein(a.p_name, b.p_name) <= 4
    ORDER BY name_a, name_b
    """,
)
def q263_damerau_levenshtein_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage by UNRESTRICTED Damerau-Levenshtein distance
    (adjacent transposition counts 1 even with later edits between the
    pair — the Lowrance-Wagner DP, strictly stronger than Spark's builtin
    levenshtein and than OSA). Spark lacks the function, so it runs as an
    Arrow-batched pandas UDF over the candidate pairs; DuckDB has it
    natively, giving an independent engine check of the DP. Scale shape:
    distances are computed on DISTINCT names only (vocabulary-sized after
    the first agg), blocked by trailing token, with pair multiplicity
    joined back as cnt_a*cnt_b — the fact table is touched once. Integer
    distances — exact."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _dl_pair(a: str, b: str) -> int:
        da: dict[str, int] = {}
        maxd = len(a) + len(b)
        d = [[maxd] * (len(b) + 2) for _ in range(len(a) + 2)]
        for i in range(len(a) + 1):
            d[i + 1][1] = i
        for j in range(len(b) + 1):
            d[1][j + 1] = j
        for i in range(1, len(a) + 1):
            db = 0
            for j in range(1, len(b) + 1):
                k = da.get(b[j - 1], 0)
                l = db
                if a[i - 1] == b[j - 1]:
                    cost = 0
                    db = j
                else:
                    cost = 1
                d[i + 1][j + 1] = min(
                    d[i][j] + cost,
                    d[i + 1][j] + 1,
                    d[i][j + 1] + 1,
                    d[k][l] + (i - 1 - k) + 1 + (j - 1 - l),
                )
            da[a[i - 1]] = i
        return d[len(a) + 1][len(b) + 1]

    def _dl(a, b):
        return pd.Series(
            [_dl_pair(x, y) for x, y in zip(a, b)], dtype="int64"
        )

    _dl.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    dl = pandas_udf(_dl, "long")

    names = (
        _t(spark, sf_dir, "part")
        .groupBy(
            "p_name",
            F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("block"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("block").alias("block"),
        F.col("cnt").alias("cnt_a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("block").alias("block_b"),
        F.col("cnt").alias("cnt_b"),
    )
    pairs = a.join(
        b, (a["block"] == b["block_b"]) & (a["name_a"] < b["name_b"])
    ).select("name_a", "name_b", (F.col("cnt_a") * F.col("cnt_b")).alias("n_part_pairs"))
    return (
        pairs.withColumn("distance", dl(F.col("name_a"), F.col("name_b")))
        .filter(F.col("distance") <= 4)
        .select("name_a", "name_b", "distance", "n_part_pairs")
        .orderBy("name_a", "name_b")
    )


@register(
    "q264_rolling_median_exact",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    )
    SELECT CAST(d AS TIMESTAMP) AS day, cents,
           median(cents) OVER (ORDER BY d
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
             AS med7
    FROM daily ORDER BY day
    """,
)
def q264_rolling_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day rolling MEDIAN of daily revenue — an order
    statistic over a sliding frame, which (unlike sum/avg) is not
    subtractable, so Spark has no builtin for it. Implemented by
    collecting the frame into an array (bounded: ≤7 elements), sorting,
    and indexing the middle — odd frames take the middle element, even
    frames average the two middles in one IEEE division of exact integer
    cents. DuckDB's native median window aggregate is the independent
    check. The frame logic is JVM-side (collect_list + sort_array +
    element_at); the only shuffle is the daily pre-agg; the global
    day-ordered window runs over #days rows."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )
    frame = F.sort_array(
        F.collect_list("cents").over(W.orderBy("d").rowsBetween(-6, 0))
    )
    n = F.size(frame)
    lo = F.element_at(frame, ((n + 1) / 2).cast("int"))
    hi = F.element_at(frame, (n / 2 + 1).cast("int"))
    return daily.select(
        F.col("d").cast("timestamp").alias("day"),
        "cents",
        ((lo + hi).cast("double") / 2).alias("med7"),
    ).orderBy("day")


@register(
    "q265_allen_interval_relations",
    oracle="""
    WITH iv AS (
      SELECT o.o_custkey AS cust, o.o_orderkey AS k,
             CAST(o.o_orderdate AS DATE) AS s,
             max(CAST(l.l_shipdate AS DATE)) AS e
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2, 3
    ),
    pairs AS (
      SELECT a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2
      FROM iv a JOIN iv b ON a.cust = b.cust AND a.k < b.k
    ),
    classed AS (
      SELECT CASE
        WHEN s1 = s2 AND e1 = e2 THEN 'equals'
        WHEN e1 < s2 THEN 'before'
        WHEN e2 < s1 THEN 'after'
        WHEN e1 = s2 THEN 'meets'
        WHEN e2 = s1 THEN 'met_by'
        WHEN s1 = s2 AND e1 < e2 THEN 'starts'
        WHEN s1 = s2 AND e1 > e2 THEN 'started_by'
        WHEN e1 = e2 AND s1 > s2 THEN 'finishes'
        WHEN e1 = e2 AND s1 < s2 THEN 'finished_by'
        WHEN s1 > s2 AND e1 < e2 THEN 'during'
        WHEN s1 < s2 AND e1 > e2 THEN 'contains'
        WHEN s1 < s2 THEN 'overlaps'
        ELSE 'overlapped_by' END AS relation
      FROM pairs
    )
    SELECT relation, CAST(count(*) AS BIGINT) AS n_pairs
    FROM classed GROUP BY relation ORDER BY relation
    """,
)
def q265_allen_interval_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra: classify every within-customer pair of
    order fulfilment intervals [orderdate, last shipdate] into one of the
    13 Allen relations (before/meets/overlaps/starts/during/finishes,
    their inverses, and equals) — the exhaustive, mutually-exclusive
    taxonomy temporal reasoners are built on. The pair join is keyed on
    customer (bounded fan-out: orders-per-customer, never a global cross
    join) and the classification is a fixed CASE ladder both engines
    evaluate identically on exact DATE comparisons. One agg + key-join
    shuffles; counts are exact integers."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    iv = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderkey").alias("k"),
            F.col("o_orderdate").cast("date").alias("s"),
        )
        .agg(F.max("sd").alias("e"))
    )
    a = iv.select(
        F.col("cust").alias("cust_a"), F.col("k").alias("ka"),
        F.col("s").alias("s1"), F.col("e").alias("e1"),
    )
    b = iv.select(
        F.col("cust").alias("cust_b"), F.col("k").alias("kb"),
        F.col("s").alias("s2"), F.col("e").alias("e2"),
    )
    pairs = a.join(b, (a["cust_a"] == b["cust_b"]) & (a["ka"] < b["kb"]))
    s1, e1, s2, e2 = F.col("s1"), F.col("e1"), F.col("s2"), F.col("e2")
    relation = (
        F.when((s1 == s2) & (e1 == e2), "equals")
        .when(e1 < s2, "before")
        .when(e2 < s1, "after")
        .when(e1 == s2, "meets")
        .when(e2 == s1, "met_by")
        .when((s1 == s2) & (e1 < e2), "starts")
        .when((s1 == s2) & (e1 > e2), "started_by")
        .when((e1 == e2) & (s1 > s2), "finishes")
        .when((e1 == e2) & (s1 < s2), "finished_by")
        .when((s1 > s2) & (e1 < e2), "during")
        .when((s1 < s2) & (e1 > e2), "contains")
        .when(s1 < s2, "overlaps")
        .otherwise("overlapped_by")
    )
    return (
        pairs.select(relation.alias("relation"))
        .groupBy("relation")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("relation")
    )


@register(
    "q266_critical_path",
    oracle="""
    WITH RECURSIVE val AS (
      SELECT p_partkey AS node,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part
    ),
    edges AS (
      SELECT DISTINCT node AS child, parent FROM (
        SELECT node, CAST(floor((node - 1) / 5.0) AS BIGINT) AS parent
        FROM val WHERE node > 0
        UNION ALL
        SELECT node, CAST(floor(node / 7.0) AS BIGINT) AS parent
        FROM val WHERE node > 0
      )
    ),
    paths AS (
      SELECT v.node, v.node AS cur, v.cents AS total FROM val v
      UNION ALL
      SELECT p.node, e.parent, p.total + pv.cents
      FROM paths p
      JOIN edges e ON e.child = p.cur
      JOIN val pv ON pv.node = e.parent
      WHERE p.cur > 0
    )
    SELECT node, CAST(max(total) AS BIGINT) AS critical_cents
    FROM paths WHERE cur = 0
    GROUP BY node ORDER BY node
    """,
)
def q266_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest (max-plus) path to the root through a multi-parent DAG —
    the critical-path DP of project scheduling / build systems, on a
    synthetic DAG over parts where node k has parents floor((k-1)/5) and
    floor(k/7) (both strictly smaller, so acyclic; node weight = retail
    cents). Spark runs the relaxation as a closure: each round extends
    every frontier path one hop toward the root, and one max over the
    closure's completed paths ends it — rounds = DAG depth (log_5 N ≈ 6
    here, ~10 at 100 TB part counts), each round a key-join + agg sized
    to the frontier, lineage cut per round. The oracle enumerates all ancestor
    paths with a recursive CTE and takes the same max — an independent
    derivation of the identical DP. Exact integer cents."""
    part = _t(spark, sf_dir, "part")
    val = part.select(
        F.col("p_partkey").alias("node"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    nz = val.filter(F.col("node") > 0)
    edges = (
        nz.select(
            F.col("node").alias("child"),
            F.floor((F.col("node") - 1) / 5.0).cast("long").alias("parent"),
        )
        .unionAll(
            nz.select(
                F.col("node").alias("child"),
                F.floor(F.col("node") / 7.0).cast("long").alias("parent"),
            )
        )
        .distinct()
        # lazy: round 1's isEmpty probe materializes the edge list; every
        # later round reads the cached blocks (r6)
        .localCheckpoint(eager=False)
    )
    pval = val.select(F.col("node").alias("parent"), F.col("cents").alias("pcents"))

    def extend(paths: DataFrame) -> DataFrame:
        # one hop toward the root for every (node, cur, total) partial path;
        # per-(node,cur) max is safe under max-plus: dominated partial
        # paths can never yield a longer completion
        return (
            paths.filter(F.col("cur") > 0)
            .join(edges, F.col("cur") == edges["child"])
            .join(pval, "parent")
            .groupBy("node", F.col("parent").alias("cur"))
            .agg(F.max(F.col("total") + F.col("pcents")).alias("total"))
        )

    paths = closure(
        val.select("node", F.col("node").alias("cur"), F.col("cents").alias("total")),
        extend,
        max_rounds=_TREE_ROUNDS,
    )
    return (
        paths.filter(F.col("cur") == 0)
        .groupBy("node")
        .agg(F.max("total").cast("long").alias("critical_cents"))
        .orderBy("node")
    )


@register(
    "q267_hodges_lehmann",
    oracle="""
    WITH cents AS (
      SELECT l_orderkey,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
             -- (l_orderkey, l_linenumber) is NOT unique in the fixture, so
             -- pair on a synthetic unique ordinal (the pair SET only depends
             -- on the value multiset, so the tie-break is irrelevant)
             row_number() OVER (PARTITION BY l_orderkey ORDER BY
                                floor(l_extendedprice * 100 + 0.5)) AS rn
      FROM lineitem
    ),
    walsh AS (
      SELECT a.l_orderkey AS k,
             (CAST(a.c AS DOUBLE) + CAST(b.c AS DOUBLE)) / 2 AS m
      FROM cents a JOIN cents b
        ON a.l_orderkey = b.l_orderkey AND a.rn <= b.rn
    ),
    ranked AS (
      SELECT k, m,
             CAST(row_number() OVER (PARTITION BY k ORDER BY m) AS BIGINT)
               AS rn,
             CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS cnt
      FROM walsh
    )
    SELECT k AS o_orderkey, CAST(max(cnt) AS BIGINT) AS n_walsh,
           avg(CASE WHEN rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
                    THEN m END) AS hl_cents
    FROM ranked GROUP BY k
    HAVING max(cnt) >= 3
    ORDER BY o_orderkey
    """,
)
def q267_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann robust location estimator per order: the median of
    all Walsh averages (pairwise means (x_i+x_j)/2, i<=j) of the order's
    line prices — the estimator behind the Wilcoxon signed-rank CI,
    insensitive to a minority of corrupted prices. Spark generates the
    Walsh set entirely JVM-side with array HOFs (collect per key ->
    sort_array -> indexed transform over suffix slices -> flatten), so the
    quadratic blow-up is bounded by lines-per-order (<=7 -> <=28 pairs)
    and never a join; the oracle derives the same set with a keyed
    self-join and a manual rank-median (avoiding DuckDB's interpolating
    quantile, which uses a different IEEE expression). Means of integer
    cents are exact half/quarter doubles; the median average is one more
    exact IEEE op."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    arrs = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("c")).alias("arr")
    )
    walsh = F.flatten(
        F.transform(
            F.col("arr"),
            lambda x, i: F.transform(
                F.slice(F.col("arr"), i + 1, F.size("arr") - i),
                lambda y: (x.cast("double") + y.cast("double")) / 2,
            ),
        )
    )
    s = F.sort_array(walsh)
    m = F.size(s)
    lo = F.element_at(s, ((m + 1) / 2).cast("int"))
    hi = F.element_at(s, (m / 2 + 1).cast("int"))
    return (
        arrs.select(
            F.col("l_orderkey").alias("o_orderkey"),
            m.cast("long").alias("n_walsh"),
            ((lo + hi) / 2).alias("hl_cents"),
        )
        .filter(F.col("n_walsh") >= 3)
        .orderBy("o_orderkey")
    )


@register(
    "q268_rolling_regression",
    oracle="""
    WITH daily AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS x,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    mom AS (
      SELECT x, y,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(x) OVER w AS BIGINT) AS sx,
             CAST(sum(y) OVER w AS BIGINT) AS sy,
             CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
             CAST(sum(x * x) OVER w AS BIGINT) AS sxx
      FROM daily
      WINDOW w AS (ORDER BY x ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT x AS day_num, y AS cents, n,
           CASE WHEN n * sxx - sx * sx > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) END
             AS slope_cents_per_day
    FROM mom ORDER BY day_num
    """,
)
def q268_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day OLS trend: the least-squares slope of daily revenue
    over a trailing window frame, the windowed big sibling of q125's
    grouped regression. All five frame moments (n, Σx, Σy, Σxy, Σx²) are
    exact BIGINT window sums (x is a day ordinal ~1e4, y daily cents
    ~1e9 — Σxy stays < 2^53 by orders of magnitude), so the slope is one
    IEEE division of exact integers — bit-equal across engines and
    summation-order-free. One daily pre-agg shuffle; the frame window
    runs over #days rows. NULL slope on degenerate frames (n=1)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("x")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("y")
    )
    w = W.orderBy("x").rowsBetween(-13, 0)
    mom = daily.select(
        "x",
        "y",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("y").over(w).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mom.select(
        F.col("x").alias("day_num"),
        F.col("y").alias("cents"),
        "n",
        F.when(den > 0, num.cast("double") / den.cast("double")).alias(
            "slope_cents_per_day"
        ),
    ).orderBy("day_num")


@register(
    "q269_reciprocal_best_match",
    oracle="""
    WITH rev AS (
      SELECT l.l_suppkey AS supp, o.o_custkey AS cust,
             CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    best_cust AS (
      SELECT supp, cust, cents FROM (
        SELECT supp, cust, cents,
               row_number() OVER (PARTITION BY supp
                                  ORDER BY cents DESC, cust) AS rn
        FROM rev
      ) WHERE rn = 1
    ),
    best_supp AS (
      SELECT supp, cust FROM (
        SELECT supp, cust,
               row_number() OVER (PARTITION BY cust
                                  ORDER BY cents DESC, supp) AS rn
        FROM rev
      ) WHERE rn = 1
    )
    SELECT bc.supp AS suppkey, bc.cust AS custkey, bc.cents AS pair_cents
    FROM best_cust bc JOIN best_supp bs
      ON bc.supp = bs.supp AND bc.cust = bs.cust
    ORDER BY suppkey
    """,
)
def q269_reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best match: supplier-customer pairs where each is the
    other's top revenue partner — the mutual-nearest-neighbor rule used
    for high-precision entity linking and bilingual lexicon induction
    (match only when the argmax relation holds BOTH ways). One fact-table
    agg to the (supp, cust) revenue matrix, then two row_number argmaxes
    (deterministic tie-breaks on the key) and an equality join of the two
    best-lists — top-1 windows compile to WindowGroupLimit, and the
    final join is best-list-sized (#supp x 1 vs #cust x 1), never the
    matrix. Exact integer cents."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("l_suppkey").alias("supp"), F.col("o_custkey").alias("cust")
        )
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    bc = (
        rev.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("supp").orderBy(F.desc("cents"), F.asc("cust"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("supp", "cust", "cents")
    )
    bs = (
        rev.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("cust").orderBy(F.desc("cents"), F.asc("supp"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("supp").alias("s2"), F.col("cust").alias("c2"))
    )
    return (
        bc.join(bs, (bc["supp"] == bs["s2"]) & (bc["cust"] == bs["c2"]))
        .select(
            F.col("supp").alias("suppkey"),
            F.col("cust").alias("custkey"),
            F.col("cents").alias("pair_cents"),
        )
        .orderBy("suppkey")
    )


@register(
    "q270_benjamini_hochberg",
    oracle="""
    WITH ranked AS (
      SELECT CAST(o_custkey % 40 AS BIGINT) AS stratum,
             o_orderstatus AS grp,
             CAST(rank() OVER (PARTITION BY o_custkey % 40
                               ORDER BY o_totalprice) AS BIGINT) AS rmin,
             CAST(count(*) OVER (PARTITION BY o_custkey % 40, o_totalprice)
                  AS BIGINT) AS tie
      FROM orders
    ),
    per_group AS (
      SELECT stratum, grp, CAST(count(*) AS BIGINT) AS n_j,
             CAST(sum(CAST(rmin AS DECIMAL(28, 1))
                  + CAST(tie - 1 AS DECIMAL(28, 1)) / 2) AS DECIMAL(38, 1))
               AS r_j
      FROM ranked GROUP BY 1, 2
    ),
    ties AS (
      SELECT stratum, CAST(sum(tie * tie * tie - tie) AS BIGINT) AS tsum,
             CAST(sum(tie) AS BIGINT) AS n
      FROM (SELECT CAST(o_custkey % 40 AS BIGINT) AS stratum,
                   CAST(count(*) AS BIGINT) AS tie
            FROM orders GROUP BY 1, o_totalprice)
      GROUP BY stratum
    ),
    s AS (
      SELECT stratum,
             CAST(sum(CAST(round(
               CAST(r_j AS DOUBLE) * CAST(r_j AS DOUBLE)
                 / CAST(n_j AS DOUBLE), 6) AS DECIMAL(38, 6)))
             AS DOUBLE) AS s2
      FROM per_group GROUP BY stratum
    ),
    pvals AS (
      SELECT t.stratum,
             round(exp(-(
               ((CAST(12 AS DOUBLE)
                 / (CAST(t.n AS DOUBLE) * CAST(t.n + 1 AS DOUBLE))) * s.s2
                - CAST(3 AS DOUBLE) * CAST(t.n + 1 AS DOUBLE))
               / (CAST(1 AS DOUBLE)
                  - CAST(t.tsum AS DOUBLE)
                    / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
                       * CAST(t.n AS DOUBLE) - CAST(t.n AS DOUBLE)))
             ) / 2), 9) AS p
      FROM ties t JOIN s ON s.stratum = t.stratum
    ),
    bh AS (
      SELECT stratum, p,
             CAST(row_number() OVER (ORDER BY p, stratum) AS BIGINT) AS k,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pvals
    ),
    adj AS (
      SELECT stratum, p, k, m,
             min(p * CAST(m AS DOUBLE) / CAST(k AS DOUBLE))
               OVER (ORDER BY k ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS padj_raw,
             max(CASE WHEN p <= 0.1 * CAST(k AS DOUBLE) / CAST(m AS DOUBLE)
                      THEN k ELSE 0 END) OVER () AS k_star
      FROM bh
    )
    SELECT stratum, p, k,
           round(CASE WHEN padj_raw < 1 THEN padj_raw ELSE 1 END, 9) AS padj,
           k <= k_star AS reject
    FROM adj ORDER BY k
    """,
)
def q270_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a FAMILY of hypothesis tests —
    the multiple-testing machinery every large-scale experimentation
    platform needs: 40 customer strata each get a per-stratum
    Kruskal-Wallis H across the three order statuses (q242's exact-rank
    recipe, partitioned); the 2-dof chi-square survival function is
    EXACTLY exp(-H/2) (no incomplete-gamma needed), rounded to 9 places
    at the libm boundary; then the BH step-up: rank the p-values, find
    the largest k with p(k) <= alpha*k/m, reject ranks <= k, and report
    the standard step-up adjusted p (suffix-min of p*m/k, capped at 1).
    The rank windows run inside strata; everything after the first agg is
    strata-sized."""
    o = _t(spark, sf_dir, "orders")
    strat = (F.col("o_custkey") % 40).cast("long")
    ranked = o.select(
        strat.alias("stratum"),
        F.col("o_orderstatus").alias("grp"),
        F.rank()
        .over(W.partitionBy(strat).orderBy("o_totalprice"))
        .cast("long")
        .alias("rmin"),
        F.count(F.lit(1))
        .over(W.partitionBy(strat, F.col("o_totalprice")))
        .cast("long")
        .alias("tie"),
    )
    per_group = ranked.groupBy("stratum", "grp").agg(
        F.count(F.lit(1)).alias("n_j"),
        F.sum(
            F.col("rmin").cast("decimal(28,1)")
            + (F.col("tie") - 1).cast("decimal(28,1)") / 2
        )
        .cast("decimal(38,1)")
        .alias("r_j"),
    )
    ties = (
        o.groupBy(strat.alias("stratum"), "o_totalprice")
        .agg(F.count(F.lit(1)).alias("tie"))
        .groupBy("stratum")
        .agg(
            F.sum(
                F.col("tie") * F.col("tie") * F.col("tie") - F.col("tie")
            ).alias("tsum"),
            F.sum("tie").alias("n"),
        )
    )
    s = per_group.groupBy("stratum").agg(
        F.sum(
            F.round(
                F.col("r_j").cast("double")
                * F.col("r_j").cast("double")
                / F.col("n_j").cast("double"),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("s2")
    )
    nD = F.col("n").cast("double")
    h = (F.lit(12.0) / (nD * (F.col("n") + 1).cast("double"))) * F.col("s2") - F.lit(
        3.0
    ) * (F.col("n") + 1).cast("double")
    hc = h / (
        F.lit(1.0) - F.col("tsum").cast("double") / (nD * nD * nD - nD)
    )
    pvals = ties.join(s, "stratum").select(
        "stratum", F.round(F.exp(-hc / 2), 9).alias("p")
    )
    bh = pvals.select(
        "stratum",
        "p",
        F.row_number().over(W.orderBy("p", "stratum")).cast("long").alias("k"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("long").alias("m"),
    )
    padj_raw = F.min(
        F.col("p") * F.col("m").cast("double") / F.col("k").cast("double")
    ).over(W.orderBy("k").rowsBetween(0, W.unboundedFollowing))
    k_star = F.max(
        F.when(
            F.col("p") <= F.lit(0.1) * F.col("k").cast("double") / F.col("m").cast("double"),
            F.col("k"),
        ).otherwise(F.lit(0))
    ).over(W.partitionBy())
    return (
        bh.select(
            "stratum",
            "p",
            "k",
            F.round(F.least(padj_raw, F.lit(1.0)), 9).alias("padj"),
            (F.col("k") <= k_star).alias("reject"),
        )
        .orderBy("k")
    )


@register(
    "q271_simpson_paradox_audit",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority AS stratum, o_orderstatus AS grp,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    by_stratum AS (
      SELECT stratum,
             CAST(sum(CASE WHEN grp = 'F' THEN c END) AS DOUBLE)
               / CAST(count(CASE WHEN grp = 'F' THEN 1 END) AS DOUBLE)
             - CAST(sum(CASE WHEN grp = 'O' THEN c END) AS DOUBLE)
               / CAST(count(CASE WHEN grp = 'O' THEN 1 END) AS DOUBLE)
               AS diff_cents,
             CAST(count(*) AS BIGINT) AS n
      FROM cents GROUP BY stratum
    ),
    overall AS (
      SELECT CAST(sum(CASE WHEN grp = 'F' THEN c END) AS DOUBLE)
               / CAST(count(CASE WHEN grp = 'F' THEN 1 END) AS DOUBLE)
             - CAST(sum(CASE WHEN grp = 'O' THEN c END) AS DOUBLE)
               / CAST(count(CASE WHEN grp = 'O' THEN 1 END) AS DOUBLE)
               AS overall_diff
      FROM cents
    )
    SELECT s.stratum, s.n, s.diff_cents, o.overall_diff,
           (s.diff_cents > 0) <> (o.overall_diff > 0) AS sign_flip
    FROM by_stratum s CROSS JOIN overall o
    ORDER BY s.stratum
    """,
)
def q271_simpson_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit: the F-vs-O mean-value gap computed overall
    AND within every priority stratum, flagging strata whose association
    sign REVERSES the aggregate's — the confounding check any
    observational metric pipeline should run before reporting a
    difference. Means are single IEEE divisions of exact integer-cent
    sums (numerator and denominator both order-free), the gap is one
    subtraction, and the flip flag is a boolean comparison of identically
    derived doubles. One fact agg; the overall row is a broadcast
    1-rower."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    ).select(
        F.col("o_orderpriority").alias("stratum"),
        F.col("o_orderstatus").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )

    def gap(df, keys):
        agg = df.groupBy(*keys).agg(
            F.sum(F.when(F.col("grp") == "F", F.col("c"))).alias("sf"),
            F.count(F.when(F.col("grp") == "F", 1)).alias("nf"),
            F.sum(F.when(F.col("grp") == "O", F.col("c"))).alias("so"),
            F.count(F.when(F.col("grp") == "O", 1)).alias("no"),
            F.count(F.lit(1)).alias("n"),
        )
        d = F.col("sf").cast("double") / F.col("nf").cast("double") - F.col(
            "so"
        ).cast("double") / F.col("no").cast("double")
        return agg, d

    per, d_per = gap(o, ["stratum"])
    tot, d_tot = gap(o, [])
    per = per.select("stratum", "n", d_per.alias("diff_cents"))
    tot = tot.select(d_tot.alias("overall_diff"))
    return (
        per.join(F.broadcast(tot))
        .select(
            "stratum",
            "n",
            "diff_cents",
            "overall_diff",
            ((F.col("diff_cents") > 0) != (F.col("overall_diff") > 0)).alias(
                "sign_flip"
            ),
        )
        .orderBy("stratum")
    )


@register(
    "q272_longest_increasing_subsequence",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT) AS pos,
             CAST(floor(value * 100) AS BIGINT) AS v
      FROM events
    ),
    chains AS (
      SELECT user_id, pos, v, CAST(1 AS BIGINT) AS len FROM seq
      UNION
      SELECT s.user_id, s.pos, s.v, c.len + 1
      FROM chains c JOIN seq s
        ON s.user_id = c.user_id AND s.pos > c.pos AND s.v > c.v
    )
    SELECT user_id, CAST(max(pos) AS BIGINT) AS n_events,
           CAST(max(len) AS BIGINT) AS lis
    FROM chains GROUP BY user_id ORDER BY user_id
    """,
)
def q272_longest_increasing_subsequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest strictly-increasing subsequence of each user's event-value
    timeline — the classic sequence DP (patience sorting's quadratic
    sibling), here as a per-key fold entirely in JVM array HOFs: collect
    the time-ordered values, then F.aggregate threads an array of
    (value, dp) structs where each new element's dp = 1 + max dp over
    earlier smaller values (filter + transform + array_max inside the
    lambda — no Python, no shuffle beyond the one collect agg). The
    oracle independently derives LIS as the longest chain in a recursive
    CTE with DISTINCT state dedup (states are (pos, len), not paths, so
    it stays polynomial). Sequence lengths are bounded by
    events-per-user; at 100 TB the same fold runs unchanged since the
    fold is per-key and linear in state."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.col("ts"), F.col("event_id"),
            F.floor(F.col("value") * 100).cast("long").alias("v"),
        ).alias("s"),
    )
    arrs = ev.groupBy("user_id").agg(
        F.transform(F.sort_array(F.collect_list("s")), lambda s: s["v"]).alias("vs")
    )
    dp = F.aggregate(
        F.col("vs"),
        F.expr("CAST(array() AS array<struct<v: bigint, dp: bigint>>)"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.struct(
                    x.alias("v"),
                    (
                        F.coalesce(
                            F.array_max(
                                F.transform(
                                    F.filter(acc, lambda s: s["v"] < x),
                                    lambda s: s["dp"],
                                )
                            ),
                            F.lit(0),
                        )
                        + 1
                    ).alias("dp"),
                )
            ),
        ),
    )
    return arrs.select(
        "user_id",
        F.size("vs").cast("long").alias("n_events"),
        F.array_max(F.transform(dp, lambda s: s["dp"])).cast("long").alias("lis"),
    ).orderBy("user_id")


@register(
    "q273_v_optimal_histogram",
    oracle="""
    WITH vals AS (
      SELECT CAST(l_quantity AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS w
      FROM lineitem GROUP BY 1
    ),
    ranked AS (
      SELECT v, w, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS i
      FROM vals
    ),
    prefix AS (
      SELECT i,
             CAST(sum(w) OVER (ORDER BY i) AS BIGINT) AS pw,
             CAST(sum(w * v) OVER (ORDER BY i) AS BIGINT) AS ps1,
             CAST(sum(w * v * v) OVER (ORDER BY i) AS BIGINT) AS ps2
      FROM ranked
      UNION ALL SELECT 0, 0, 0, 0
    ),
    cost AS (
      SELECT lo.i AS j, hi.i AS i,
             CAST(hi.ps2 - lo.ps2 AS DOUBLE)
               - CAST(hi.ps1 - lo.ps1 AS DOUBLE)
                 * CAST(hi.ps1 - lo.ps1 AS DOUBLE)
                 / CAST(hi.pw - lo.pw AS DOUBLE) AS sse
      FROM prefix lo JOIN prefix hi ON lo.i < hi.i
    ),
    dp1 AS (SELECT i, sse AS dp FROM cost WHERE j = 0),
    dp2 AS (SELECT c.i, min(d.dp + c.sse) AS dp
            FROM dp1 d JOIN cost c ON c.j = d.i GROUP BY c.i),
    dp3 AS (SELECT c.i, min(d.dp + c.sse) AS dp
            FROM dp2 d JOIN cost c ON c.j = d.i GROUP BY c.i),
    dp4 AS (SELECT c.i, min(d.dp + c.sse) AS dp
            FROM dp3 d JOIN cost c ON c.j = d.i GROUP BY c.i)
    SELECT b, i, round(dp, 6) AS sse
    FROM (
      SELECT CAST(1 AS BIGINT) AS b, i, dp FROM dp1
      UNION ALL SELECT 2, i, dp FROM dp2
      UNION ALL SELECT 3, i, dp FROM dp3
      UNION ALL SELECT 4, i, dp FROM dp4
    ) ORDER BY b, i
    """,
)
def q273_v_optimal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-optimal histogram construction DP (Jagadish et al., VLDB'98 —
    the optimizer-statistics gold standard): dp_b[i] = the minimum total
    within-bucket SSE of splitting the first i distinct values into b
    buckets, for b = 1..4. Bucket SSE comes from exact integer prefix
    moments (W, Σwv, Σwv²) so every candidate cost is the same IEEE
    expression in both engines, and min() over identical doubles is
    order-free. The fact table collapses to #distinct-value rows in one
    agg; the DP state is (values × buckets)-sized with a bounded
    O(N²) candidate join per level — the driver loop runs B-1 = 3
    bounded joins, never touching the fact table again. Output rounds
    once at the boundary."""
    li = _t(spark, sf_dir, "lineitem")
    vals = li.groupBy(F.col("l_quantity").cast("long").alias("v")).agg(
        F.count(F.lit(1)).alias("w")
    )
    ranked = vals.select(
        "v", "w", F.row_number().over(W.orderBy("v")).cast("long").alias("i")
    )
    wp = W.orderBy("i")
    prefix = ranked.select(
        "i",
        F.sum("w").over(wp).cast("long").alias("pw"),
        F.sum(F.col("w") * F.col("v")).over(wp).cast("long").alias("ps1"),
        F.sum(F.col("w") * F.col("v") * F.col("v")).over(wp).cast("long").alias("ps2"),
    ).unionByName(
        li.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("i"),
            F.lit(0).cast("long").alias("pw"),
            F.lit(0).cast("long").alias("ps1"),
            F.lit(0).cast("long").alias("ps2"),
        )
    )
    lo = prefix.select(
        F.col("i").alias("j"), F.col("pw").alias("w0"),
        F.col("ps1").alias("s10"), F.col("ps2").alias("s20"),
    )
    hi = prefix.select("i", "pw", "ps1", "ps2")
    d1 = (F.col("ps1") - F.col("s10")).cast("double")
    cost = (
        lo.join(hi, F.col("j") < F.col("i"))
        .select(
            "j",
            "i",
            (
                (F.col("ps2") - F.col("s20")).cast("double")
                - d1 * d1 / (F.col("pw") - F.col("w0")).cast("double")
            ).alias("sse"),
        )
        # DP state is #distinct-values² rows — single-partition it so the
        # 3 per-level joins don't pay 32-partition shuffle scheduling
        .coalesce(1)
        # lazy: reused by every DP level; the first level's broadcast build
        # materializes it inside the single final action (r6)
        .localCheckpoint(eager=False)
    )
    dp = cost.filter(F.col("j") == 0).select("i", F.col("sse").alias("dp"))
    out = dp.select(F.lit(1).cast("long").alias("b"), "i", "dp")
    for b in (2, 3, 4):
        # dp is #values rows — broadcast it into the candidate join so each
        # level is one map-side join + one (AQE-coalesced) tiny agg
        prev = F.broadcast(
            dp.select(F.col("i").alias("j"), F.col("dp").alias("dprev"))
        )
        dp = (
            cost.join(prev, "j")
            .groupBy("i")
            .agg(F.min(F.col("dprev") + F.col("sse")).alias("dp"))
        )
        out = out.unionByName(dp.select(F.lit(b).cast("long").alias("b"), "i", "dp"))
    return out.select("b", "i", F.round("dp", 6).alias("sse")).orderBy("b", "i")


@register(
    "q274_quantile_migration",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS cust,
             CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                  THEN 0 ELSE 1 END AS era,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    tiled AS (
      SELECT cust, era,
             CAST(ntile(5) OVER (PARTITION BY era ORDER BY cents, cust)
                  AS BIGINT) AS q
      FROM per
    )
    SELECT a.q AS q_before, b.q AS q_after,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM tiled a JOIN tiled b ON a.cust = b.cust AND a.era = 0 AND b.era = 1
    GROUP BY 1, 2 ORDER BY q_before, q_after
    """,
)
def q274_quantile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-migration (rank-transition) matrix: each customer's
    revenue quintile in the pre-1998 era versus after, for customers
    active in both — the mobility table behind churn/upsell cohort
    studies ('how many Q1 customers became Q5?'). Quintiles use
    deterministic tie-breaks (cents, custkey), eras are tiled
    independently inside one window partition each, and the join is
    customer-keyed. Exact integers end to end."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy(
        F.col("o_custkey").alias("cust"),
        F.when(
            F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast("date"), 0
        )
        .otherwise(1)
        .alias("era"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )
    tiled = per.select(
        "cust",
        "era",
        F.ntile(5)
        .over(W.partitionBy("era").orderBy("cents", "cust"))
        .cast("long")
        .alias("q"),
    )
    a = tiled.filter(F.col("era") == 0).select("cust", F.col("q").alias("q_before"))
    b = tiled.filter(F.col("era") == 1).select(
        F.col("cust").alias("cust_b"), F.col("q").alias("q_after")
    )
    return (
        a.join(b, a["cust"] == b["cust_b"])
        .groupBy("q_before", "q_after")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("q_before", "q_after")
    )


@register(
    "q275_postings_compression_plan",
    oracle="""
    WITH postings AS (
      SELECT DISTINCT term, doc_id FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents
      ) WHERE term <> ''
    ),
    gaps AS (
      SELECT term,
             doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id)
               AS gap
      FROM postings
    ),
    sized AS (
      SELECT term, gap,
             CAST(ceil(log2(CAST(gap + 1 AS DOUBLE))) AS BIGINT) AS bits
      FROM gaps WHERE gap IS NOT NULL
    )
    SELECT term,
           CAST(count(*) + 1 AS BIGINT) AS n_postings,
           CAST(max(gap) AS BIGINT) AS max_gap,
           CAST(sum(bits) AS BIGINT) AS gap_bits,
           CAST(count(*) + 1 AS BIGINT) * 32 AS raw_bits,
           round(1 - CAST(sum(bits) + 32 AS DOUBLE)
                     / CAST((count(*) + 1) * 32 AS DOUBLE), 6) AS savings
    FROM sized GROUP BY term ORDER BY term
    """,
)
def q275_postings_compression_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index storage planner: per-term delta-encoding budget for
    the postings lists of q142's index — consecutive doc-id gaps, the
    ceil(log2(gap+1)) bit-width each gap needs, and the savings vs 32-bit
    raw postings (first posting stored raw: +32). This is the sizing
    pass a search/RAG index build runs before choosing a posting codec
    (VByte vs bit-packing). log2 of small integers sits far from
    integer boundaries except at exact powers of two, where IEEE log2 is
    exact — so ceil is stable across engines without rounding guards.
    One distinct shuffle + one term-keyed window + one agg."""
    from .operators.text import WS

    docs = _t(spark, sf_dir, "documents")
    postings = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), WS)).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    gaps = postings.select(
        "term",
        (
            F.col("doc_id")
            - F.lag("doc_id").over(W.partitionBy("term").orderBy("doc_id"))
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    sized = gaps.select(
        "term",
        "gap",
        F.ceil(F.log2((F.col("gap") + 1).cast("double"))).cast("long").alias("bits"),
    )
    n = (F.count(F.lit(1)) + 1).cast("long")
    return (
        sized.groupBy("term")
        .agg(
            n.alias("n_postings"),
            F.max("gap").cast("long").alias("max_gap"),
            F.sum("bits").cast("long").alias("gap_bits"),
            (n * 32).alias("raw_bits"),
            F.round(
                F.lit(1)
                - (F.sum("bits") + 32).cast("double")
                / ((F.count(F.lit(1)) + 1) * 32).cast("double"),
                6,
            ).alias("savings"),
        )
        .orderBy("term")
    )


@register(
    "q276_revenue_recognition",
    oracle="""
    WITH iv AS (
      SELECT k, cents, least(s0, e0) AS s, greatest(s0, e0) AS e FROM (
        SELECT o.o_orderkey AS k,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(o.o_orderdate AS DATE) AS s0,
               max(CAST(l.l_shipdate AS DATE)) AS e0
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3
      )
    ),
    spread AS (
      SELECT k, cents, s, e,
             CAST(date_diff('day', s, e) + 1 AS BIGINT) AS td,
             unnest(generate_series(date_trunc('month', s),
                                    date_trunc('month', e),
                                    INTERVAL 1 MONTH))::DATE AS m
      FROM iv
    ),
    od AS (
      SELECT k, cents, td, m,
             CAST(date_diff('day',
                    greatest(m, s),
                    least(last_day(m), e)) + 1 AS BIGINT) AS od
      FROM spread
    ),
    alloc AS (
      SELECT k, m,
             cents * od // td AS base,
             (cents * od) % td AS frac,
             cents - CAST(sum(cents * od // td) OVER (PARTITION BY k)
                          AS BIGINT) AS r,
             row_number() OVER (PARTITION BY k
                                ORDER BY (cents * od) % td DESC, m) AS rn
      FROM od
    )
    SELECT CAST(m AS TIMESTAMP) AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(base + CASE WHEN rn <= r THEN 1 ELSE 0 END) AS BIGINT)
             AS recognized_cents
    FROM alloc GROUP BY m ORDER BY month
    """,
)
def q276_revenue_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendarized revenue recognition: each order's value is prorated
    across the calendar months its fulfilment interval [orderdate, last
    shipdate] touches, proportional to overlap days — with the
    LARGEST-REMAINDER method distributing the integer remainder cents, so
    per-order allocations sum EXACTLY to the order total (no float
    pennies lost; the same Hamilton apportionment as q57's token mix).
    The month fan-out is a bounded explode (months-per-order); remainder
    ranking is a per-order window; the output is one calendar-month agg.
    All integer arithmetic.

    Plan shape: lineitem is pre-aggregated to max(shipdate) per order BEFORE
    the orders join (the corpus-sized exchange carries only (key, date)
    pairs and collapses map-side), and the join is pinned shuffled-hash with
    the aggregate as the build side (orders is streamed), so the join output
    KEEPS hash(orderkey) partitioning. The month explode preserves that
    partitioning, so both per-order windows ride it — the pre-rework plan
    exchanged the fully exploded frame (~31 months/order, 4.6 M rows at
    sf0.1) just to re-cluster it by the key it was generated under. An
    array-domain largest-remainder variant (rank via nested HOF filters) was
    measured 34 s vs 4.4 s — interpreted lambda evaluation over months² per
    order loses to the codegen'd window sort; kept the windows."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.col("o_orderdate").cast("date").alias("s0"),
    )
    lmax = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.col("l_shipdate").cast("date").alias("sd"))
        .groupBy("l_orderkey")
        .agg(F.max("sd").alias("e0"))
    )
    iv = (
        lmax.hint("shuffle_hash")
        .join(o, lmax["l_orderkey"] == o["o_orderkey"])
        # the synthetic fixture does not force shipdate >= orderdate, so
        # normalize the interval orientation before the month fan-out
        .select(
            F.col("l_orderkey").alias("k"),
            "cents",
            F.least("s0", "e0").alias("s"), F.greatest("s0", "e0").alias("e"),
        )
    )
    spread = iv.select(
        "k",
        "cents",
        "s",
        "e",
        (F.datediff("e", "s") + 1).cast("long").alias("td"),
        F.explode(
            F.sequence(
                F.date_trunc("month", "s").cast("date"),
                F.col("e"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("m"),
    )
    od = spread.select(
        "k",
        "cents",
        "td",
        "m",
        (
            F.datediff(
                F.least(F.last_day("m"), F.col("e")),
                F.greatest(F.col("m"), F.col("s")),
            )
            + 1
        )
        .cast("long")
        .alias("od"),
    )
    wk = W.partitionBy("k")
    alloc = od.select(
        "k",
        "m",
        F.floor(F.col("cents") * F.col("od") / F.col("td")).cast("long").alias("base"),
        ((F.col("cents") * F.col("od")) % F.col("td")).alias("frac"),
        F.col("cents").alias("cents"),
    )
    alloc = alloc.select(
        "k",
        "m",
        "base",
        (F.col("cents") - F.sum("base").over(wk)).alias("r"),
        F.row_number().over(wk.orderBy(F.desc("frac"), F.asc("m"))).alias("rn"),
    )
    return (
        alloc.groupBy(F.col("m").cast("timestamp").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.col("base") + F.when(F.col("rn") <= F.col("r"), 1).otherwise(0)
            )
            .cast("long")
            .alias("recognized_cents"),
        )
        .orderBy("month")
    )


@register(
    "q277_sprt_sequential_test",
    oracle="""
    WITH inc AS (
      SELECT CAST(user_id % 16 AS BIGINT) AS exp_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(ln(CAST(0.22 AS DOUBLE) / 0.18), 9)
                            AS DECIMAL(28, 9))
                  ELSE CAST(round(ln(CAST(0.78 AS DOUBLE) / 0.82), 9)
                            AS DECIMAL(28, 9)) END AS llr
      FROM events
    ),
    walk AS (
      SELECT exp_id,
             CAST(row_number() OVER w AS BIGINT) AS t,
             CAST(sum(llr) OVER (PARTITION BY exp_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS DECIMAL(28, 9)) AS cum
      FROM inc WINDOW w AS (PARTITION BY exp_id ORDER BY ts, event_id)
    ),
    bound AS (SELECT CAST(round(ln(CAST(19 AS DOUBLE)), 9) AS DECIMAL(28, 9)) AS b),
    crossings AS (
      SELECT w.exp_id,
             min(CASE WHEN w.cum >= bd.b OR w.cum <= -bd.b THEN w.t END)
               AS t_cross,
             CAST(max(w.t) AS BIGINT) AS n_obs,
             CAST(max(CASE WHEN w2.mx = w.t THEN w.cum END) AS DOUBLE)
               AS final_llr
      FROM walk w
      CROSS JOIN bound bd
      JOIN (SELECT exp_id, max(t) AS mx FROM walk GROUP BY exp_id) w2
        ON w2.exp_id = w.exp_id
      GROUP BY w.exp_id
    ),
    first_cross AS (
      SELECT c.exp_id, c.t_cross, c.n_obs, c.final_llr,
             CAST(max(CASE WHEN w.t = c.t_cross THEN w.cum END) AS DOUBLE)
               AS llr_at_cross
      FROM crossings c LEFT JOIN walk w ON w.exp_id = c.exp_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT exp_id, CAST(t_cross AS BIGINT) AS t_cross, n_obs, final_llr,
           CASE WHEN t_cross IS NULL THEN 'continue'
                WHEN llr_at_cross > 0 THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision
    FROM first_cross ORDER BY exp_id
    """,
)
def q277_sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over 16 concurrent
    experiments: each arm's event stream walks a cumulative log-likelihood
    ratio (H1: 22% purchase rate vs H0: 18%) and stops at the first
    crossing of the symmetric ln(19) boundaries (alpha = beta = 0.05) —
    the early-stopping machinery of any modern experimentation platform.
    The two per-observation LLR increments are CONSTANTS, rounded to 9
    places at the libm boundary and accumulated as DECIMAL(28,9), so
    every partial sum and the boundary comparison are bit-identical
    across engines. One key-partitioned ordered window + one agg."""
    ev = _t(spark, sf_dir, "events")
    up = F.round(F.log(F.lit(0.22) / F.lit(0.18)), 9).cast("decimal(28,9)")
    dn = F.round(F.log(F.lit(0.78) / F.lit(0.82)), 9).cast("decimal(28,9)")
    b = F.round(F.log(F.lit(19.0)), 9).cast("decimal(28,9)")
    wseq = W.partitionBy("exp_id").orderBy("ts", "event_id")
    walk = ev.select(
        (F.col("user_id") % 16).cast("long").alias("exp_id"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", up).otherwise(dn).alias("llr"),
    ).select(
        "exp_id",
        F.row_number().over(wseq).cast("long").alias("t"),
        F.sum("llr")
        .over(wseq.rowsBetween(W.unboundedPreceding, 0))
        .cast("decimal(28,9)")
        .alias("cum"),
    )
    agg = walk.groupBy("exp_id").agg(
        F.min(
            F.when((F.col("cum") >= b) | (F.col("cum") <= -b), F.col("t"))
        ).alias("t_cross"),
        F.max("t").cast("long").alias("n_obs"),
        F.max_by(F.col("cum"), F.col("t")).cast("double").alias("final_llr"),
    )
    at_cross = walk.select(
        F.col("exp_id").alias("e2"), "t", F.col("cum").alias("cum2")
    )
    return (
        agg.join(
            at_cross,
            (F.col("exp_id") == F.col("e2")) & (F.col("t_cross") == F.col("t")),
            "left",
        )
        .select(
            "exp_id",
            "t_cross",
            "n_obs",
            "final_llr",
            F.when(F.col("t_cross").isNull(), "continue")
            .when(F.col("cum2") > 0, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
        )
        .orderBy("exp_id")
    )


@register(
    "q278_golden_record_survivorship",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_id, event_type, props,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    mode_type AS (
      SELECT user_id, event_type AS modal_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY count(*) DESC, event_type) AS rn
        FROM base GROUP BY user_id, event_type
      ) WHERE rn = 1
    ),
    latest AS (
      SELECT user_id, props AS latest_props FROM (
        SELECT user_id, props,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM base
      ) WHERE rn = 1
    ),
    extremes AS (
      SELECT user_id, CAST(max(cents) AS BIGINT) AS max_cents,
             min(ts) AS first_seen, CAST(count(*) AS BIGINT) AS n_events
      FROM base GROUP BY user_id
    )
    SELECT e.user_id, e.n_events, m.modal_type, l.latest_props,
           e.max_cents, e.first_seen
    FROM extremes e
    JOIN mode_type m ON m.user_id = e.user_id
    JOIN latest l ON l.user_id = e.user_id
    ORDER BY e.user_id
    """,
)
def q278_golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (MDM merge): each field of the merged
    entity is elected by a DIFFERENT rule — modal value for the
    categorical (most frequent, deterministic lexicographic tie-break),
    most-recent for the payload, max for the measure, min for the
    first-seen timestamp — the per-COLUMN complement of q87's whole-row
    keep-best. All three rules reduce to windows/aggs on the same
    user-partitioned shuffle; the three branches join back on the entity
    key (each #users-sized). Exact: counts, cents, timestamps."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "props",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    mode_type = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"))
    )
    latest = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("props").alias("latest_props"))
    )
    extremes = ev.groupBy("user_id").agg(
        F.max("cents").cast("long").alias("max_cents"),
        F.min("ts").alias("first_seen"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        extremes.join(mode_type, "user_id")
        .join(latest, "user_id")
        .select(
            "user_id", "n_events", "modal_type", "latest_props",
            "max_cents", "first_seen",
        )
        .orderBy("user_id")
    )


@register(
    "q279_kfold_complement_cv",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS flag, CAST(l_orderkey % 5 AS BIGINT) AS fold,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    fold_m AS (
      SELECT flag, fold,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(38, 0)) * y) AS DECIMAL(38, 0)) AS syy
      FROM base GROUP BY 1, 2
    ),
    tot_m AS (
      SELECT flag,
             CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
             CAST(sum(sy) AS BIGINT) AS sy, CAST(sum(sxy) AS BIGINT) AS sxy,
             CAST(sum(sxx) AS BIGINT) AS sxx
      FROM fold_m GROUP BY flag
    ),
    fit AS (
      SELECT f.flag, f.fold,
             CAST(t.n - f.n AS DOUBLE) AS tn,
             CAST(t.sx - f.sx AS DOUBLE) AS tsx,
             CAST(t.sy - f.sy AS DOUBLE) AS tsy,
             CAST(t.sxy - f.sxy AS DOUBLE) AS tsxy,
             CAST(t.sxx - f.sxx AS DOUBLE) AS tsxx,
             CAST(f.n AS DOUBLE) AS vn, CAST(f.sx AS DOUBLE) AS vsx,
             CAST(f.sy AS DOUBLE) AS vsy, CAST(f.sxy AS DOUBLE) AS vsxy,
             CAST(f.sxx AS DOUBLE) AS vsxx, CAST(f.syy AS DOUBLE) AS vsyy
      FROM fold_m f JOIN tot_m t ON t.flag = f.flag
    ),
    coef AS (
      SELECT flag, fold, vn, vsx, vsy, vsxy, vsxx, vsyy,
             (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) AS b,
             (tsy - (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) * tsx)
               / tn AS a
      FROM fit
    )
    SELECT flag, fold, CAST(vn AS BIGINT) AS n_test,
           round(b, 9) AS slope,
           -- MSE is ~1e13 cents^2: a raw double's ulp there exceeds 1e-6,
           -- so round(.,6) cannot quantize engine ulp noise. Scale to ~1e3
           -- (1e10 cents^2 units) where round(.,3) is a real grid.
           round((vsyy + vn * a * a + b * b * vsxx
                  - 2 * a * vsy - 2 * b * vsxy + 2 * a * b * vsx) / vn
                 / 10000000000, 3)
             AS test_mse_e10
    FROM coef ORDER BY flag, fold
    """,
)
def q279_kfold_complement_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation WITHOUT per-fold rescans: because OLS
    moments are additive, the training moments of fold f are just
    total - fold (complement aggregation), so one pass computes the
    per-(group, fold) moments and every fold's train fit AND test MSE
    come from algebra — MSE expands to Σy² + na² + b²Σx² - 2aΣy - 2bΣxy
    + 2abΣx over test-fold moments alone. 5-fold CV of price-on-quantity
    per return flag: one fact agg, then 15-row arithmetic. Σy² rides
    DECIMAL(38,0) (cents² would overflow int64 at 10× scale); every
    division is in one identical IEEE chain, rounded once at output."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_orderkey") % 5).cast("long").alias("fold"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    fold_m = base.groupBy("flag", "fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    tot_m = fold_m.groupBy("flag").agg(
        *[F.sum(c).alias(c) for c in ("n", "sx", "sy", "sxy", "sxx")]
    )
    j = fold_m.alias("f").join(
        tot_m.select(
            F.col("flag").alias("tflag"),
            *[F.col(c).alias("t" + c) for c in ("n", "sx", "sy", "sxy", "sxx")],
        ),
        F.col("flag") == F.col("tflag"),
    )
    tn = (F.col("tn") - F.col("n")).cast("double")
    tsx = (F.col("tsx") - F.col("sx")).cast("double")
    tsy = (F.col("tsy") - F.col("sy")).cast("double")
    tsxy = (F.col("tsxy") - F.col("sxy")).cast("double")
    tsxx = (F.col("tsxx") - F.col("sxx")).cast("double")
    b = (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx)
    a = (tsy - b * tsx) / tn
    vn = F.col("n").cast("double")
    vsx = F.col("sx").cast("double")
    vsy = F.col("sy").cast("double")
    vsxy = F.col("sxy").cast("double")
    vsxx = F.col("sxx").cast("double")
    vsyy = F.col("syy").cast("double")
    mse = (
        vsyy + vn * a * a + b * b * vsxx - 2 * a * vsy - 2 * b * vsxy
        + 2 * a * b * vsx
    ) / vn
    return j.select(
        "flag",
        "fold",
        F.col("n").alias("n_test"),
        F.round(b, 9).alias("slope"),
        # see oracle note: quantize in 1e10-cents^2 units where rounding
        # actually absorbs cross-engine ulp noise
        F.round(mse / F.lit(10000000000.0), 3).alias("test_mse_e10"),
    ).orderBy("flag", "fold")


def _morton_sql(xc: str, yc: str) -> str:
    """16-bit Morton (Z-order) interleave of two 8-bit coords, as SQL."""
    terms = []
    for i in range(8):
        terms.append(f"((({xc} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({yc} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _morton_col(x, y):
    """Same 16-bit interleave as a Spark column expression."""
    out = F.lit(0)
    for i in range(8):
        out = out + F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i)
        out = out + F.shiftleft(F.shiftright(y, i).bitwiseAND(1), 2 * i + 1)
    return out


@register(
    "q280_zorder_locality",
    oracle=f"""
    WITH pts AS (
      SELECT CAST(c_custkey % 256 AS BIGINT) AS x,
             CAST((c_custkey * 131) % 256 AS BIGINT) AS y
      FROM customer
    ),
    coded AS (
      SELECT x, y,
             CAST(({_morton_sql('x', 'y')}) >> 8 AS BIGINT) AS z_bucket,
             CAST((x * 256 + y) >> 8 AS BIGINT) AS rm_bucket,
             CASE WHEN x BETWEEN 64 AND 127 AND y BETWEEN 32 AND 95
                  THEN 1 ELSE 0 END AS hit
      FROM pts
    ),
    per AS (
      SELECT 'zorder' AS curve, z_bucket AS bucket,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(hit) AS BIGINT) AS nh
      FROM coded GROUP BY 2
      UNION ALL
      SELECT 'rowmajor', rm_bucket, CAST(count(*) AS BIGINT),
             CAST(sum(hit) AS BIGINT)
      FROM coded GROUP BY 2
    )
    SELECT curve,
           CAST(count(*) AS BIGINT) AS buckets_total,
           CAST(sum(CASE WHEN nh > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS buckets_touched,
           CAST(sum(CASE WHEN nh > 0 THEN n ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(nh) AS BIGINT) AS rows_matching,
           CAST(sum(nh) AS DOUBLE)
             / CAST(sum(CASE WHEN nh > 0 THEN n ELSE 0 END) AS DOUBLE)
             AS scan_efficiency
    FROM per GROUP BY curve ORDER BY curve
    """,
)
def q280_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering locality audit — the measurement
    behind Delta/Iceberg's OPTIMIZE ZORDER: interleave two 8-bit derived
    coordinates into a 16-bit Morton code, bucket by its high byte
    (16x16 tiles), and compare a 2-D range query's data-skipping
    effectiveness against row-major bucketing (buckets touched, rows
    scanned in touched buckets, scan efficiency). The interleave is 16
    shift/and/or terms — pure JVM integer ops, identical in SQL — and
    the audit is two small aggs over the coded points. This is how an
    engine VALIDATES a clustering key choice before rewriting 100 TB."""
    c = _t(spark, sf_dir, "customer")
    x = (F.col("c_custkey") % 256).cast("long")
    y = ((F.col("c_custkey") * 131) % 256).cast("long")
    coded = c.select(
        F.shiftright(_morton_col(x, y), 8).cast("long").alias("z_bucket"),
        F.shiftright(x * 256 + y, 8).cast("long").alias("rm_bucket"),
        F.when(x.between(64, 127) & y.between(32, 95), 1).otherwise(0).alias("hit"),
    )
    per = (
        coded.groupBy(F.col("z_bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("hit").alias("nh"))
        .select(F.lit("zorder").alias("curve"), "bucket", "n", "nh")
        .unionByName(
            coded.groupBy(F.col("rm_bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("hit").alias("nh"))
            .select(F.lit("rowmajor").alias("curve"), "bucket", "n", "nh")
        )
    )
    touched_n = F.sum(F.when(F.col("nh") > 0, F.col("n")).otherwise(0))
    return (
        per.groupBy("curve")
        .agg(
            F.count(F.lit(1)).alias("buckets_total"),
            F.sum(F.when(F.col("nh") > 0, 1).otherwise(0))
            .cast("long")
            .alias("buckets_touched"),
            touched_n.cast("long").alias("rows_scanned"),
            F.sum("nh").cast("long").alias("rows_matching"),
            (F.sum("nh").cast("double") / touched_n.cast("double")).alias(
                "scan_efficiency"
            ),
        )
        .orderBy("curve")
    )


@register(
    "q281_bloom_fpr_audit",
    oracle=f"""
    WITH member AS (
      SELECT DISTINCT unnest({_SHINGLES3}) AS shingle
      FROM documents WHERE doc_id % 97 = 0
    ),
    bits AS (
      SELECT DISTINCT
             ('0x' || substr(md5(s.salt || ':' || shingle), 1, 15))::BIGINT
               % 4096 AS bit_pos
      FROM member, (SELECT unnest(['0', '1', '2']) AS salt) s
    ),
    probes AS (
      SELECT shingle FROM (
        SELECT DISTINCT unnest({_SHINGLES3}) AS shingle FROM documents
      ) ANTI JOIN member USING (shingle)
    ),
    fp AS (
      SELECT p.shingle
      FROM (SELECT shingle,
                   ('0x' || substr(md5(s.salt || ':' || shingle), 1, 15))::BIGINT
                     % 4096 AS bit_pos
            FROM probes, (SELECT unnest(['0', '1', '2']) AS salt) s) p
      SEMI JOIN bits USING (bit_pos)
      GROUP BY p.shingle HAVING count(*) = 3
    ),
    stats AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM member) AS n_items,
             (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
             (SELECT CAST(count(*) AS BIGINT) FROM probes) AS n_probes,
             (SELECT CAST(count(*) AS BIGINT) FROM fp) AS fp_count
    )
    SELECT n_items, n_bits_set, n_probes, fp_count,
           round(CAST(fp_count AS DOUBLE) / CAST(n_probes AS DOUBLE), 9)
             AS fpr_empirical,
           round(pow(1 - pow(1 - CAST(1 AS DOUBLE) / 4096,
                             3 * CAST(n_items AS DOUBLE)), 3), 9)
             AS fpr_theoretical
    FROM stats
    """,
)
def q281_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter QA: measure the EMPIRICAL false-positive rate of
    q105's portable bloom (here m = 2^12 to make FPs plentiful) against
    the textbook prediction (1 - (1 - 1/m)^(kn))^k — the calibration
    check a pipeline runs before trusting a sketch config at 100 TB.
    Ground truth comes from an anti-join of distinct corpus shingles
    against the member set (exact, bounded by vocabulary); the filter is
    deterministic salted-md5 so the oracle replays every FP bit-for-bit.
    The theory term's two libm pows are rounded to 9 places on both
    sides. Output is one audit row."""
    from .operators.dedup import shingle_postings

    M = 4096
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    member = (
        shingle_postings(docs.filter(F.col("doc_id") % 97 == 0), "doc_id", "text", n=3)
        .select("shingle")
        .distinct()
    )
    bits = bloom_build(member, "shingle", k_hashes=3, m_bits=M)
    probes = (
        shingle_postings(docs, "doc_id", "text", n=3)
        .select("shingle")
        .distinct()
        .join(member, "shingle", "left_anti")
    )
    probed = bloom_probe(probes, "shingle", bits, k_hashes=3, m_bits=M)
    counts = (
        member.agg(F.count(F.lit(1)).alias("n_items"))
        .join(F.broadcast(bits.agg(F.count(F.lit(1)).alias("n_bits_set"))))
        .join(
            F.broadcast(
                probed.agg(
                    F.count(F.lit(1)).alias("n_probes"),
                    F.sum(F.col("bloom_hit").cast("long")).alias("fp_count"),
                )
            )
        )
    )
    n_items_d = F.col("n_items").cast("double")
    return counts.select(
        "n_items",
        "n_bits_set",
        "n_probes",
        "fp_count",
        F.round(
            F.col("fp_count").cast("double") / F.col("n_probes").cast("double"), 9
        ).alias("fpr_empirical"),
        F.round(
            F.pow(F.lit(1) - F.pow(F.lit(1) - F.lit(1.0) / M, 3 * n_items_d), 3), 9
        ).alias("fpr_theoretical"),
    )


@register(
    "q282_summed_area_table",
    oracle="""
    WITH grid AS (
      SELECT d.d, h.h FROM
        (SELECT unnest(range(0, 7)) AS d) d,
        (SELECT unnest(range(0, 24)) AS h) h
    ),
    counts AS (
      SELECT CAST(isodow(ts) - 1 AS BIGINT) AS d,
             CAST(hour(ts) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    dense AS (
      SELECT g.d, g.h, COALESCE(c.n, 0) AS n
      FROM grid g LEFT JOIN counts c ON c.d = g.d AND c.h = g.h
    ),
    row_cum AS (
      SELECT d, h, n,
             sum(n) OVER (PARTITION BY d ORDER BY h) AS c1
      FROM dense
    ),
    sat AS (
      SELECT d, h, n,
             CAST(sum(c1) OVER (PARTITION BY h ORDER BY d) AS BIGINT) AS s
      FROM row_cum
    ),
    rects AS (
      SELECT * FROM (VALUES (1, 1, 3, 8, 17), (2, 0, 6, 0, 5),
                            (3, 5, 6, 20, 23))
        AS t(rect_id, d1, d2, h1, h2)
    ),
    corner AS (
      SELECT r.rect_id,
             CAST(sum(CASE WHEN s.d = r.d2 AND s.h = r.h2 THEN s.s END)
                + COALESCE(sum(CASE WHEN s.d = r.d1 - 1 AND s.h = r.h1 - 1
                                    THEN s.s END), 0)
                - COALESCE(sum(CASE WHEN s.d = r.d1 - 1 AND s.h = r.h2
                                    THEN s.s END), 0)
                - COALESCE(sum(CASE WHEN s.d = r.d2 AND s.h = r.h1 - 1
                                    THEN s.s END), 0) AS BIGINT) AS sat_sum,
             CAST(sum(CASE WHEN s.d BETWEEN r.d1 AND r.d2
                            AND s.h BETWEEN r.h1 AND r.h2
                           THEN s.n ELSE 0 END) AS BIGINT) AS direct_sum
      FROM sat s CROSS JOIN rects r GROUP BY r.rect_id
    )
    SELECT rect_id, sat_sum, direct_sum, sat_sum = direct_sum AS consistent
    FROM corner ORDER BY rect_id
    """,
)
def q282_summed_area_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summed-area table (integral image) over the weekday x hour event
    grid: two chained cumulative windows turn the 2-D density into a
    structure answering ANY rectangle-sum in O(1) via the 4-corner
    inclusion-exclusion identity — the pre-materialization trick for
    interactive heatmap/OLAP slicing (compute the SAT once at 100 TB,
    answer every dashboard rectangle from 168 rows). The grid is DENSE
    (generated spine, left-joined counts) so corner lookups always hit;
    three rectangles are verified against direct aggregation in the same
    query. Exact integers; weekday parity pinned (Spark weekday =
    DuckDB isodow - 1)."""
    ev = _t(spark, sf_dir, "events")
    grid = (
        spark.range(7)
        .select(F.col("id").alias("d"))
        .crossJoin(spark.range(24).select(F.col("id").alias("h")))
    )
    counts = ev.groupBy(
        F.weekday("ts").cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("n"))
    dense = grid.join(counts, ["d", "h"], "left").select(
        "d", "h", F.coalesce("n", F.lit(0)).alias("n")
    )
    row_cum = dense.select(
        "d", "h", "n",
        F.sum("n").over(W.partitionBy("d").orderBy("h")).alias("c1"),
    )
    sat = row_cum.select(
        "d", "h", "n",
        F.sum("c1").over(W.partitionBy("h").orderBy("d")).cast("long").alias("s"),
    )
    rects = spark.createDataFrame(
        [(1, 1, 3, 8, 17), (2, 0, 6, 0, 5), (3, 5, 6, 20, 23)],
        "rect_id long, d1 long, d2 long, h1 long, h2 long",
    )
    j = sat.crossJoin(F.broadcast(rects))
    pick = lambda dc, hc: F.sum(  # noqa: E731
        F.when((F.col("d") == dc) & (F.col("h") == hc), F.col("s"))
    )
    corner = j.groupBy("rect_id").agg(
        (
            pick(F.col("d2"), F.col("h2"))
            + F.coalesce(pick(F.col("d1") - 1, F.col("h1") - 1), F.lit(0))
            - F.coalesce(pick(F.col("d1") - 1, F.col("h2")), F.lit(0))
            - F.coalesce(pick(F.col("d2"), F.col("h1") - 1), F.lit(0))
        )
        .cast("long")
        .alias("sat_sum"),
        F.sum(
            F.when(
                F.col("d").between(F.col("d1"), F.col("d2"))
                & F.col("h").between(F.col("h1"), F.col("h2")),
                F.col("n"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("direct_sum"),
    )
    return corner.select(
        "rect_id",
        "sat_sum",
        "direct_sum",
        (F.col("sat_sum") == F.col("direct_sum")).alias("consistent"),
    ).orderBy("rect_id")


@register(
    "q283_weighted_jaccard_sources",
    oracle="""
    WITH tf AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT source,
                   unnest(string_split_regex(trim(text), '\\s+')) AS term
            FROM documents)
      WHERE term <> '' GROUP BY 1, 2
    ),
    totals AS (
      SELECT source, CAST(sum(f) AS BIGINT) AS tot FROM tf GROUP BY source
    ),
    common AS (
      SELECT a.source AS sa, b.source AS sb,
             CAST(sum(least(a.f, b.f)) AS BIGINT) AS smin
      FROM tf a JOIN tf b ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT c.sa AS source_a, c.sb AS source_b, c.smin AS sum_min,
           ta.tot + tb.tot - c.smin AS sum_max,
           CAST(c.smin AS DOUBLE)
             / CAST(ta.tot + tb.tot - c.smin AS DOUBLE)
             AS weighted_jaccard
    FROM common c
    JOIN totals ta ON ta.source = c.sa
    JOIN totals tb ON tb.source = c.sb
    ORDER BY source_a, source_b
    """,
)
def q283_weighted_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (multiset) Jaccard between source term-frequency vectors —
    Σmin(tf_a, tf_b) / Σmax(tf_a, tf_b), the frequency-aware upgrade of
    q249's binary Jaccard matrix that MinHash-for-weighted-sets (ICWS)
    approximates at scale. Key identity: Σmax = T_a + T_b - Σmin, so only
    terms COMMON to both sources ever join — absent terms are covered by
    the per-source totals, and the pair join is vocabulary-sized, never a
    corpus product. Exact integers with one final division."""
    from .operators.text import WS

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "source", F.explode(F.split(F.trim(F.col("text")), WS)).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    totals = tf.groupBy("source").agg(F.sum("f").cast("long").alias("tot"))
    a = tf.select(F.col("source").alias("sa"), "term", F.col("f").alias("fa"))
    b = tf.select(F.col("source").alias("sb"), F.col("term").alias("tb"), F.col("f").alias("fb"))
    common = (
        a.join(b, (a["term"] == b["tb"]) & (a["sa"] < b["sb"]))
        .groupBy("sa", "sb")
        .agg(F.sum(F.least("fa", "fb")).cast("long").alias("smin"))
    )
    ta = totals.select(F.col("source").alias("sa"), F.col("tot").alias("ta"))
    tb2 = totals.select(F.col("source").alias("sb"), F.col("tot").alias("tb2"))
    return (
        common.join(F.broadcast(ta), "sa")
        .join(F.broadcast(tb2), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.col("smin").alias("sum_min"),
            (F.col("ta") + F.col("tb2") - F.col("smin")).alias("sum_max"),
            (
                F.col("smin").cast("double")
                / (F.col("ta") + F.col("tb2") - F.col("smin")).cast("double")
            ).alias("weighted_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def _q284_oracle() -> str:
    from .operators.sketches import hll_oracle_sql

    banded = (
        "(SELECT CAST(length(CAST(event_id AS VARCHAR)) - 1 AS BIGINT)"
        " AS band, user_id FROM events)"
    )
    hll = hll_oracle_sql(banded, ["band"], "user_id", p=10, out_col="approx_users")
    return f"""
    WITH approx AS ({hll}),
    exact AS (
      SELECT CAST(length(CAST(event_id AS VARCHAR)) - 1 AS BIGINT) AS band,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY 1
    )
    SELECT a.band, a.n, e.exact_users, a.approx_users,
           round((a.approx_users - CAST(e.exact_users AS DOUBLE))
                 / CAST(e.exact_users AS DOUBLE), 6) AS rel_error
    FROM approx a JOIN exact e ON e.band = a.band
    ORDER BY a.band
    """


@register("q284_hll_error_curve", oracle=_q284_oracle())
def q284_hll_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL calibration curve: the portable sketch's relative error
    measured against EXACT distinct counts across cardinality bands
    (decades of event_id, derived shuffle-free from digit count) — the
    acceptance test a pipeline runs before trusting a sketch config,
    companion to q281's bloom FPR audit. Small bands exercise the
    linear-counting correction, large bands the raw harmonic estimate.
    The sketch is salted-md5-deterministic so the oracle replays the
    estimate bit-for-bit; the exact side is one distinct agg per band.
    One final IEEE division, rounded once."""
    from .operators.sketches import hll_approx_distinct

    ev = _t(spark, sf_dir, "events").select(
        (F.length(F.col("event_id").cast("string")) - 1).cast("long").alias("band"),
        "user_id",
    )
    approx = hll_approx_distinct(ev, ["band"], "user_id", p=10, out_col="approx_users")
    exact = ev.groupBy("band").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return (
        approx.join(exact, "band")
        .select(
            "band",
            "n",
            "exact_users",
            "approx_users",
            F.round(
                (F.col("approx_users") - F.col("exact_users").cast("double"))
                / F.col("exact_users").cast("double"),
                6,
            ).alias("rel_error"),
        )
        .orderBy("band")
    )


@register(
    "q285_degenerate_text_runs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
      FROM documents
    ),
    pos AS (
      SELECT doc_id, unnest(ts) AS tok,
             unnest(range(1, len(ts) + 1)) AS i
      FROM toks
    ),
    isl AS (
      SELECT doc_id, tok,
             i - row_number() OVER (PARTITION BY doc_id, tok ORDER BY i)
               AS grp
      FROM pos
    ),
    runs AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS run_len
      FROM isl GROUP BY doc_id, tok, grp
    )
    SELECT r.doc_id,
           CAST(len(t.ts) AS BIGINT) AS n_tokens,
           CAST(max(r.run_len) AS BIGINT) AS max_run,
           CAST(sum(CASE WHEN r.run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_long_runs,
           CAST(max(r.run_len) AS DOUBLE) / CAST(len(t.ts) AS DOUBLE)
             AS max_run_share,
           max(r.run_len) >= 4 AS degenerate
    FROM runs r JOIN toks t ON t.doc_id = r.doc_id
    GROUP BY r.doc_id, len(t.ts) ORDER BY r.doc_id
    """,
)
def q285_degenerate_text_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-generation detector: the longest run of CONSECUTIVE
    identical tokens per document (the 'the the the...' loop signature
    every LLM corpus filter screens for), plus the count of runs >= 3 and
    the share of the doc the worst run covers. Spark computes runs with a
    single JVM array fold (aggregate over the token array threading
    (prev, run, max) state — no shuffle beyond the scan); the oracle
    independently derives runs with the classic gaps-and-islands
    row_number trick over positional unnest. Exact integers and one
    division."""
    from .operators.text import WS

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), WS).alias("ts")
    )
    state0 = F.expr(
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'mx', 0L)"
    )
    fold = F.aggregate(
        F.col("ts"),
        state0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["mx"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("mx"),
        ),
    )
    runs3 = F.aggregate(
        F.col("ts"),
        F.expr(
            "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'n3', 0L)"
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            # count a run exactly when it REACHES length 3
            (
                acc["n3"]
                + F.when(
                    (x == acc["prev"]) & (acc["run"] == 2), F.lit(1).cast("long")
                ).otherwise(F.lit(0).cast("long"))
            ).alias("n3"),
        ),
    )
    return docs.select(
        "doc_id",
        F.size("ts").cast("long").alias("n_tokens"),
        fold["mx"].alias("max_run"),
        runs3["n3"].alias("n_long_runs"),
        (fold["mx"].cast("double") / F.size("ts").cast("double")).alias(
            "max_run_share"
        ),
        (fold["mx"] >= 4).alias("degenerate"),
    ).orderBy("doc_id")


#: portable salted-md5 minhash (calibration twin of the xxhash64 production
#: signatures in operators/dedup.py — same LSH math, engine-replayable)
_PMH_K = 16


#: Kirsch-Mitzenmacher double hashing: one md5 yields two independent
#: halves (60-bit h1, 56-bit h2); permutation i is h1 + i*h2 — pure long
#: arithmetic with no overflow (max 60+4 bits < 2^63), no mod needed.


def _pmh_sigs(post):
    """Per-doc portable minhash signatures from a (doc_id, shingle)
    postings table. ONE md5 per posting, split into two hex halves, then
    k = 16 double-hash
    permutations pm_i = h1 + i*h2 in plain BIGINT arithmetic (Kirsch-
    Mitzenmacher) — engine-replayable and 16x cheaper than salted md5s,
    with the same banded-LSH behavior."""
    hexd = F.md5(F.col("shingle"))
    h1 = F.conv(F.substring(hexd, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(hexd, 16, 14), 16, 10).cast("long")
    hashed = post.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"pm{i}")
            for i in range(_PMH_K)
        ]
    )


def _pmh_sql_mins() -> str:
    h1 = "('0x' || substr(md5(shingle), 1, 15))::BIGINT"
    h2 = "('0x' || substr(md5(shingle), 16, 14))::BIGINT"
    return ", ".join(
        f"min({h1} + {i} * {h2}) AS pm{i}" for i in range(_PMH_K)
    )


@register(
    "q286_minhash_jaccard_calibration",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    postings AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLES3}) AS shingle FROM corpus
    ),
    sigs AS (
      SELECT doc_id, {_pmh_sql_mins()} FROM postings GROUP BY doc_id
    ),
    sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM postings GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2,
             CAST(count(*) AS BIGINT) AS inter
      FROM postings a JOIN postings b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT i.id1, i.id2,
             CAST(i.inter AS DOUBLE)
               / CAST(s1.sz + s2.sz - i.inter AS DOUBLE) AS jaccard
      FROM inter i
      JOIN sizes s1 ON s1.doc_id = i.id1
      JOIN sizes s2 ON s2.doc_id = i.id2
      WHERE CAST(i.inter AS DOUBLE)
              / CAST(s1.sz + s2.sz - i.inter AS DOUBLE) >= 0.3
    )
    SELECT p.id1, p.id2, round(p.jaccard, 9) AS jaccard_exact,
           CAST(({" + ".join(f"CASE WHEN a.pm{i} = b.pm{i} THEN 1 ELSE 0 END" for i in range(_PMH_K))})
                AS BIGINT) AS agreeing,
           CAST(({" + ".join(f"CASE WHEN a.pm{i} = b.pm{i} THEN 1 ELSE 0 END" for i in range(_PMH_K))})
                AS DOUBLE) / {_PMH_K} AS jaccard_est
    FROM scored p
    JOIN sigs a ON a.doc_id = p.id1
    JOIN sigs b ON b.doc_id = p.id2
    ORDER BY p.id1, p.id2
    """,
)
def q286_minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash calibration: for every truly-similar pair (exact Jaccard
    >= 0.3 on half the corpus), the fraction of agreeing minhash
    components IS the sketch's Jaccard estimate — this query puts the
    estimate next to the exact value per pair, the acceptance test for a
    signature width before a 100 TB dedup run (companion to q281/q284's
    bloom and HLL audits). Signatures here are the PORTABLE salted-md5
    variant so the oracle replays them bit-for-bit (production keeps the
    cheaper xxhash64 path, dedup.py:141). Exact-pair generation is the
    bounded grouped generator; signatures are one agg over postings."""
    from .operators.dedup import shingle_postings

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    # the fixture is one parquet file -> one input split; spread the
    # shingle explode across cores before the heavy lifting
    post = shingle_postings(docs.repartition(32), "doc_id", "text", n=3)
    sigs = _pmh_sigs(post)
    sizes = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    from .operators.pairs import grouped_pairs

    inter = (
        # exactness contract: the oracle's posting self-join is uncapped and
        # posting-list sizes grow with corpus size, so a silently dropped
        # hot shingle would skew inter/jaccard_exact at a scale the sf0.01
        # gate never sees — fail loudly instead (ADVICE r5)
        grouped_pairs(post, "shingle", "doc_id", left="id1", right="id2",
                      assume_distinct=True, on_overflow="error")
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("sz").alias("sz2"))
    jac = F.col("inter").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("inter")
    ).cast("double")
    scored = (
        inter.join(s1, "id1").join(s2, "id2").filter(jac >= 0.3)
        .select("id1", "id2", jac.alias("jaccard"))
    )
    sa = sigs.select(F.col("doc_id").alias("id1"), *[F.col(f"pm{i}").alias(f"a{i}") for i in range(_PMH_K)])
    sb = sigs.select(F.col("doc_id").alias("id2"), *[F.col(f"pm{i}").alias(f"b{i}") for i in range(_PMH_K)])
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_PMH_K)
    ).cast("long")
    return (
        scored.join(sa, "id1")
        .join(sb, "id2")
        .select(
            "id1",
            "id2",
            F.round("jaccard", 9).alias("jaccard_exact"),
            agree.alias("agreeing"),
            (agree.cast("double") / _PMH_K).alias("jaccard_est"),
        )
        .orderBy("id1", "id2")
    )


@register(
    "q287_lsh_band_planner",
    oracle=f"""
    WITH postings AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLES3}) AS shingle FROM documents
    ),
    sigs AS (
      SELECT doc_id, {_pmh_sql_mins()} FROM postings GROUP BY doc_id
    ),
    configs AS (
      SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4), (2, 8), (1, 16))
        AS t(bands, rpb)
    ),
    keys AS (
      SELECT c.bands, c.rpb, bnd.b,
             md5({" || ':' || ".join(f"CAST(CASE WHEN {i} // c.rpb = bnd.b THEN s.pm{i} ELSE 0 END AS VARCHAR)" for i in range(_PMH_K))})
               AS key
      FROM sigs s
      CROSS JOIN configs c
      JOIN (SELECT unnest(range(0, 16)) AS b) bnd ON bnd.b < c.bands
    ),
    buckets AS (
      SELECT bands, rpb, b, key, CAST(count(*) AS BIGINT) AS n
      FROM keys GROUP BY 1, 2, 3, 4
    )
    SELECT bands, rpb,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs,
           round(1 - pow(1 - pow(0.5, CAST(rpb AS DOUBLE)),
                         CAST(bands AS DOUBLE)), 9) AS p_at_050,
           round(1 - pow(1 - pow(0.8, CAST(rpb AS DOUBLE)),
                         CAST(bands AS DOUBLE)), 9) AS p_at_080
    FROM buckets GROUP BY bands, rpb ORDER BY bands DESC
    """,
)
def q287_lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-configuration planner: for every (bands x rows-per-band)
    split of a 16-component minhash, the MEASURED candidate-pair volume
    (Σ n·(n-1)/2 over actual bucket sizes) next to the theoretical
    S-curve detection probability 1-(1-s^r)^b at Jaccard 0.5 and 0.8 —
    the cost/recall trade-off table consulted before committing a band
    choice to a 100 TB dedup run (q19 hardcodes 16x4; this is how that
    choice is justified). Band keys hash only the in-band components
    (others zeroed in a fixed-width concat, identical both engines);
    the heavy work is one postings agg reused across all five configs.
    Theory pows round at the libm boundary.

    Two docs share a bucket iff every in-band component matches, so the
    bucket key here is the in-band pm tuple itself (array<long>) — the
    oracle's md5-of-zero-padded-concat is just an injective encoding of
    the same tuple, and the output depends only on bucket SIZES, so the
    partition (hence every count) is identical. All 31 (config, band)
    keys come from ONE inline() over the sig row, built as a single SQL
    string: the previous shape (5 unioned selects x 16 md5(concat_ws of
    16 when/otherwise casts)) spent ~5 s per pass building and analyzing
    a ~500-node expression tree through py4j — the query ran 0.7 s but
    billed 5.3 s of driver time (guide §7.3); this shape builds in
    ~0.1 s and needs no eager checkpoint to share the sig agg."""
    from .operators.dedup import shingle_postings

    docs = _t(spark, sf_dir, "documents")
    # one input split in the fixture -> parallelize the shingle explode
    post = shingle_postings(docs.repartition(32), "doc_id", "text", n=3)
    sigs = _pmh_sigs(post)
    configs = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]
    entries = ", ".join(
        f"named_struct('bands', CAST({bands} AS BIGINT), "
        f"'rpb', CAST({rpb} AS BIGINT), 'b', {b}, "
        f"'key', array({', '.join(f'pm{i}' for i in range(b * rpb, (b + 1) * rpb))}))"
        for bands, rpb in configs
        for b in range(bands)
    )
    keys = sigs.selectExpr(f"inline(array({entries}))")
    buckets = keys.groupBy("bands", "rpb", "b", "key").agg(
        F.count(F.lit(1)).alias("n")
    )
    pr = lambda s: F.round(  # noqa: E731
        F.lit(1)
        - F.pow(
            F.lit(1) - F.pow(F.lit(s), F.col("rpb").cast("double")),
            F.col("bands").cast("double"),
        ),
        9,
    )
    return (
        buckets.groupBy("bands", "rpb")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2)
            .cast("long")
            .alias("candidate_pairs"),
            pr(0.5).alias("p_at_050"),
            pr(0.8).alias("p_at_080"),
        )
        .orderBy(F.desc("bands"))
    )


#: q25's marker-word scorer as a reusable oracle CTE (cited: queries_llm q25)
_LANGID_SCORED_SQL = """
    scored AS (
      SELECT doc_id, lang,
        len(list_filter(string_split_regex(trim(text),'\\s+'),
            w -> lower(w) IN ('the','and','of','to','is')))  AS s_en,
        len(list_filter(string_split_regex(trim(text),'\\s+'),
            w -> lower(w) IN ('el','la','de','que','los')))  AS s_es,
        len(list_filter(string_split_regex(trim(text),'\\s+'),
            w -> lower(w) IN ('le','la','les','des','est'))) AS s_fr,
        len(list_filter(string_split_regex(trim(text),'\\s+'),
            w -> lower(w) IN ('der','die','und','das','ist'))) AS s_de,
        len(list_filter(string_split_regex(trim(text),'\\s+'),
            w -> lower(w) IN ('的','是','了','在','我')))      AS s_zh
      FROM documents
    ),
    pred AS (
      SELECT doc_id, lang,
        CASE
          WHEN s_zh > greatest(s_en, s_es, s_fr, s_de, 0) THEN 'zh'
          WHEN s_de > greatest(s_en, s_es, s_fr, 0) AND s_de >= s_zh THEN 'de'
          WHEN s_fr > greatest(s_en, s_es, 0) AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
          WHEN s_es > greatest(s_en, 0) AND s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
          WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
          ELSE 'und'
        END AS lang_pred
      FROM scored
    )
"""


@register(
    "q288_langid_confusion_eval",
    oracle=f"""
    WITH {_LANGID_SCORED_SQL},
    conf AS (
      SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2
    ),
    per_class AS (
      SELECT lang AS cls,
             CAST(sum(CASE WHEN lang_pred = lang THEN n END) AS BIGINT) AS tp,
             CAST(sum(n) AS BIGINT) AS support
      FROM conf GROUP BY lang
    ),
    pred_tot AS (
      SELECT lang_pred AS cls, CAST(sum(n) AS BIGINT) AS predicted
      FROM conf GROUP BY lang_pred
    )
    SELECT c.cls, COALESCE(c.tp, 0) AS tp, c.support,
           COALESCE(p.predicted, 0) AS predicted,
           round(CAST(COALESCE(c.tp, 0) AS DOUBLE)
                 / CAST(p.predicted AS DOUBLE), 9) AS precision,
           round(CAST(COALESCE(c.tp, 0) AS DOUBLE)
                 / CAST(c.support AS DOUBLE), 9) AS recall
    FROM per_class c LEFT JOIN pred_tot p ON p.cls = c.cls
    ORDER BY c.cls
    """,
)
def q288_langid_confusion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-loop evaluation of the ENGINE'S OWN language-ID operator
    (q25 / operators/text.py:detect_language) against the fixture's truth
    labels: per-class true positives, support, predicted volume,
    precision and recall — the confusion-matrix scorecard any classifier
    in the curation pipeline must publish before gating data on its
    output. Both engines re-run the identical marker-word argmax, then
    two tiny aggs; NULL precision where a class is never predicted.
    Exact counts; two rounded divisions."""
    from .operators.text import detect_language

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    pred = detect_language(d).select("lang", "lang_pred")
    conf = pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    per_class = conf.groupBy(F.col("lang").alias("cls")).agg(
        F.sum(F.when(F.col("lang_pred") == F.col("lang"), F.col("n")))
        .cast("long")
        .alias("tp"),
        F.sum("n").cast("long").alias("support"),
    )
    pred_tot = conf.groupBy(F.col("lang_pred").alias("cls")).agg(
        F.sum("n").cast("long").alias("predicted")
    )
    return (
        per_class.join(pred_tot, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            "support",
            F.coalesce("predicted", F.lit(0)).alias("predicted"),
            F.round(
                F.coalesce("tp", F.lit(0)).cast("double")
                / F.col("predicted").cast("double"),
                9,
            ).alias("precision"),
            F.round(
                F.coalesce("tp", F.lit(0)).cast("double")
                / F.col("support").cast("double"),
                9,
            ).alias("recall"),
        )
        .orderBy("cls")
    )


@register(
    "q289_conformal_interval",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS prio, CAST(o_orderkey % 2 AS BIGINT) AS split,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
      FROM orders
    ),
    mu AS (
      SELECT prio,
             CAST(sum(CASE WHEN split = 0 THEN y END) AS DOUBLE)
               / CAST(count(CASE WHEN split = 0 THEN 1 END) AS DOUBLE)
               AS mean_cal
      FROM base GROUP BY prio
    ),
    resid AS (
      SELECT b.prio, abs(CAST(b.y AS DOUBLE) - m.mean_cal) AS r
      FROM base b JOIN mu m ON m.prio = b.prio WHERE b.split = 0
    ),
    qhat AS (
      SELECT prio, CAST(count(*) AS BIGINT) AS n_cal,
             max(CASE WHEN rn <= CAST(ceil(0.9 * (cnt + 1)) AS BIGINT)
                      THEN r END) AS q_hat
      FROM (SELECT prio, r,
                   row_number() OVER (PARTITION BY prio ORDER BY r) AS rn,
                   count(*) OVER (PARTITION BY prio) AS cnt
            FROM resid)
      GROUP BY prio
    )
    SELECT q.prio, q.n_cal, round(q.q_hat, 6) AS q_hat,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN abs(CAST(b.y AS DOUBLE) - m.mean_cal) <= q.q_hat
                         THEN 1 ELSE 0 END) AS BIGINT) AS covered,
           round(CAST(sum(CASE WHEN abs(CAST(b.y AS DOUBLE) - m.mean_cal)
                                    <= q.q_hat THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 9) AS coverage
    FROM base b JOIN mu m ON m.prio = b.prio JOIN qhat q ON q.prio = b.prio
    WHERE b.split = 1
    GROUP BY q.prio, q.n_cal, q.q_hat ORDER BY q.prio
    """,
)
def q289_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals: calibrate the 90th-percentile
    absolute residual (the ceil(0.9·(n+1)) order statistic — the finite-
    sample-valid conformal quantile, not an interpolated percentile) of a
    per-priority mean predictor on the calibration half, then measure
    EMPIRICAL coverage on the held-out half — the distribution-free
    uncertainty wrapper modern ML systems bolt onto any point predictor.
    Residual ranking is one key-partitioned window; coverage is one agg.
    Means are single IEEE divisions of exact cents; the order statistic
    is selected, never interpolated."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_orderkey") % 2).cast("long").alias("split"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    mu = base.filter(F.col("split") == 0).groupBy("prio").agg(
        (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_cal"
        )
    )
    resid = (
        base.filter(F.col("split") == 0)
        .join(F.broadcast(mu), "prio")
        .select("prio", F.abs(F.col("y").cast("double") - F.col("mean_cal")).alias("r"))
    )
    wp = W.partitionBy("prio")
    qhat = (
        resid.select(
            "prio",
            "r",
            F.row_number().over(wp.orderBy("r")).alias("rn"),
            F.count(F.lit(1)).over(wp).alias("cnt"),
        )
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n_cal"),
            F.max(
                F.when(
                    F.col("rn")
                    <= F.ceil(0.9 * (F.col("cnt") + 1)).cast("long"),
                    F.col("r"),
                )
            ).alias("q_hat"),
        )
    )
    test = base.filter(F.col("split") == 1).join(F.broadcast(mu), "prio").join(
        F.broadcast(qhat), "prio"
    )
    cov = F.sum(
        F.when(
            F.abs(F.col("y").cast("double") - F.col("mean_cal")) <= F.col("q_hat"),
            1,
        ).otherwise(0)
    )
    return (
        test.groupBy("prio", "n_cal", F.round("q_hat", 6).alias("q_hat"))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            cov.cast("long").alias("covered"),
            F.round(
                cov.cast("double") / F.count(F.lit(1)).cast("double"), 9
            ).alias("coverage"),
        )
        .orderBy("prio")
    )


@register(
    "q290_threshold_grid_sweep",
    oracle=f"""
    WITH {_LANGID_SCORED_SQL},
    grid AS (
      SELECT t.t, m.m FROM
        (SELECT unnest(range(1, 6)) AS t) t,
        (SELECT unnest([5, 20])      AS m) m
    ),
    labeled AS (
      SELECT s.s_en,
             len(string_split_regex(trim(d.text), '\\s+')) AS n_toks,
             CASE WHEN s.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    )
    SELECT g.t AS min_markers, g.m AS min_tokens,
           CAST(sum(CASE WHEN l.s_en >= g.t AND l.n_toks >= g.m
                          AND l.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN l.s_en >= g.t AND l.n_toks >= g.m
                          AND l.y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN NOT (l.s_en >= g.t AND l.n_toks >= g.m)
                          AND l.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           round(CAST(2 * sum(CASE WHEN l.s_en >= g.t AND l.n_toks >= g.m
                                    AND l.y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(2 * sum(CASE WHEN l.s_en >= g.t AND l.n_toks >= g.m
                                      AND l.y = 1 THEN 1 ELSE 0 END)
                        + sum(CASE WHEN l.s_en >= g.t AND l.n_toks >= g.m
                                    AND l.y = 0 THEN 1 ELSE 0 END)
                        + sum(CASE WHEN NOT (l.s_en >= g.t AND l.n_toks >= g.m)
                                    AND l.y = 1 THEN 1 ELSE 0 END) AS DOUBLE),
                 9) AS f1
    FROM labeled l CROSS JOIN grid g
    GROUP BY g.t, g.m ORDER BY min_markers, min_tokens
    """,
)
def q290_threshold_grid_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperparameter grid sweep in ONE scan: a 5x2 grid of
    (marker-count, min-token) thresholds for an is-English rule
    classifier, every cell's confusion counts and F1 computed
    simultaneously by crossing each row with the broadcast grid — the
    one-pass parameter search that replaces 10 separate filter jobs at
    100 TB. Reuses q25's marker scorer as the feature; F1 uses the
    division-free 2tp/(2tp+fp+fn) form, rounded once. The fact table is
    scanned once; the fan-out is grid-sized."""
    from .operators.text import tokens as _tokens

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    s_en = F.size(
        F.filter(
            F.transform(_tokens(F.col("text")), F.lower),
            lambda w: w.isin("the", "and", "of", "to", "is"),
        )
    )
    labeled = d.select(
        s_en.alias("s_en"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_toks"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    grid = spark.createDataFrame(
        [(t, m) for t in range(1, 6) for m in (5, 20)], "t long, m long"
    )
    j = labeled.crossJoin(F.broadcast(grid))
    hit = (F.col("s_en") >= F.col("t")) & (F.col("n_toks") >= F.col("m"))
    tp = F.sum(F.when(hit & (F.col("y") == 1), 1).otherwise(0))
    fp = F.sum(F.when(hit & (F.col("y") == 0), 1).otherwise(0))
    fn = F.sum(F.when(~hit & (F.col("y") == 1), 1).otherwise(0))
    return (
        j.groupBy(F.col("t").alias("min_markers"), F.col("m").alias("min_tokens"))
        .agg(
            tp.cast("long").alias("tp"),
            fp.cast("long").alias("fp"),
            fn.cast("long").alias("fn"),
            F.round(
                (2 * tp).cast("double") / (2 * tp + fp + fn).cast("double"), 9
            ).alias("f1"),
        )
        .orderBy("min_markers", "min_tokens")
    )


@register(
    "q291_ohlc_bars",
    oracle="""
    WITH pts AS (
      SELECT event_type, date_trunc('hour', ts) AS bar, ts, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    ranked AS (
      SELECT event_type, bar, cents,
             row_number() OVER (PARTITION BY event_type, bar
                                ORDER BY ts, event_id) AS rn_open,
             row_number() OVER (PARTITION BY event_type, bar
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM pts
    )
    SELECT event_type, CAST(bar AS TIMESTAMP) AS bar,
           CAST(max(CASE WHEN rn_open = 1 THEN cents END) AS BIGINT) AS open,
           CAST(max(cents) AS BIGINT) AS high,
           CAST(min(cents) AS BIGINT) AS low,
           CAST(max(CASE WHEN rn_close = 1 THEN cents END) AS BIGINT)
             AS close,
           CAST(count(*) AS BIGINT) AS volume,
           CAST(sum(cents) AS BIGINT) AS turnover_cents
    FROM ranked GROUP BY event_type, bar ORDER BY event_type, bar
    """,
)
def q291_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLCV bar aggregation: per (event type, hour) candle with open
    (first value in event-time order), high, low, close (last), volume
    and turnover — the time-series downsampling primitive of every
    market-data / metrics store. First/last are DETERMINISTIC row_number
    picks on (ts, event_id) (not first()/max_by, whose tie behavior is
    engine-defined); one key-window shuffle + one agg. Exact integer
    cents."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar"),
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    wb = W.partitionBy("event_type", "bar")
    ranked = pts.select(
        "event_type",
        "bar",
        "cents",
        F.row_number().over(wb.orderBy("ts", "event_id")).alias("rn_open"),
        F.row_number()
        .over(wb.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn_close"),
    )
    return (
        ranked.groupBy("event_type", "bar")
        .agg(
            F.max(F.when(F.col("rn_open") == 1, F.col("cents")))
            .cast("long")
            .alias("open"),
            F.max("cents").cast("long").alias("high"),
            F.min("cents").cast("long").alias("low"),
            F.max(F.when(F.col("rn_close") == 1, F.col("cents")))
            .cast("long")
            .alias("close"),
            F.count(F.lit(1)).alias("volume"),
            F.sum("cents").cast("long").alias("turnover_cents"),
        )
        .orderBy("event_type", "bar")
    )


@register(
    "q292_gsp_auction",
    oracle="""
    WITH bids AS (
      SELECT term, source AS bidder, CAST(count(*) AS BIGINT) AS bid
      FROM (SELECT source,
                   unnest(string_split_regex(trim(text), '\\s+')) AS term
            FROM documents)
      WHERE term <> '' GROUP BY 1, 2
    ),
    ranked AS (
      SELECT term, bidder, bid,
             CAST(row_number() OVER (PARTITION BY term
                                     ORDER BY bid DESC, bidder) AS BIGINT)
               AS slot,
             lead(bid) OVER (PARTITION BY term ORDER BY bid DESC, bidder)
               AS next_bid
      FROM bids
    )
    SELECT term, slot, bidder, bid,
           CAST(COALESCE(next_bid, 0) AS BIGINT) AS price
    FROM ranked WHERE slot <= 3 ORDER BY term, slot
    """,
)
def q292_gsp_auction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized second-price auction settlement: per keyword (term),
    bidders (sources, bid = their term frequency) are ranked into 3 ad
    slots and each winner PAYS THE NEXT BID DOWN — the GSP mechanism of
    sponsored search, reduced to a rank window plus lead(). Deterministic
    tie-breaks on bidder; winners below the last competitor pay 0 (the
    reserve). One (term, bidder) agg shuffle + one term window; slots
    select via WindowGroupLimit. Exact integers."""
    from .operators.text import WS

    docs = _t(spark, sf_dir, "documents")
    bids = (
        docs.select(
            F.col("source").alias("bidder"),
            F.explode(F.split(F.trim(F.col("text")), WS)).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term", "bidder")
        .agg(F.count(F.lit(1)).alias("bid"))
    )
    wt = W.partitionBy("term").orderBy(F.desc("bid"), F.asc("bidder"))
    ranked = bids.select(
        "term",
        "bidder",
        "bid",
        F.row_number().over(wt).cast("long").alias("slot"),
        F.lead("bid").over(wt).alias("next_bid"),
    )
    return (
        ranked.filter(F.col("slot") <= 3)
        .select(
            "term",
            "slot",
            "bidder",
            "bid",
            F.coalesce("next_bid", F.lit(0)).cast("long").alias("price"),
        )
        .orderBy("term", "slot")
    )


@register(
    "q293_event_study",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    spike AS (
      SELECT d AS spike_day FROM daily ORDER BY cents DESC, d LIMIT 1
    )
    SELECT CAST(s.spike_day AS TIMESTAMP) AS spike_day,
           CAST(count(CASE WHEN dd.d BETWEEN s.spike_day - 7
                            AND s.spike_day - 1 THEN 1 END) AS BIGINT)
             AS n_pre,
           CAST(count(CASE WHEN dd.d BETWEEN s.spike_day + 1
                            AND s.spike_day + 7 THEN 1 END) AS BIGINT)
             AS n_post,
           CAST(sum(CASE WHEN dd.d BETWEEN s.spike_day - 7
                          AND s.spike_day - 1 THEN dd.cents END) AS DOUBLE)
             / CAST(count(CASE WHEN dd.d BETWEEN s.spike_day - 7
                                AND s.spike_day - 1 THEN 1 END) AS DOUBLE)
             AS pre_mean_cents,
           CAST(sum(CASE WHEN dd.d BETWEEN s.spike_day + 1
                          AND s.spike_day + 7 THEN dd.cents END) AS DOUBLE)
             / CAST(count(CASE WHEN dd.d BETWEEN s.spike_day + 1
                                AND s.spike_day + 7 THEN 1 END) AS DOUBLE)
             AS post_mean_cents
    FROM daily dd CROSS JOIN spike s
    GROUP BY s.spike_day
    """,
)
def q293_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study primitive: locate the spike day (argmax daily revenue,
    deterministic date tie-break) and compare mean daily revenue in the
    [-7,-1] pre-window against the [+1,+7] post-window — the
    before/after scaffold of incident post-mortems and marketing-launch
    measurement. The spike is a broadcast 1-rower crossed into the daily
    series (no second scan of the fact table); means are single IEEE
    divisions of exact integer sums."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )
    spike = daily.orderBy(F.desc("cents"), F.asc("d")).limit(1).select(
        F.col("d").alias("spike_day")
    )
    j = daily.crossJoin(F.broadcast(spike))
    pre = F.col("d").between(F.date_sub("spike_day", 7), F.date_sub("spike_day", 1))
    post = F.col("d").between(F.date_add("spike_day", 1), F.date_add("spike_day", 7))
    return j.groupBy(F.col("spike_day").cast("timestamp").alias("spike_day")).agg(
        F.count(F.when(pre, 1)).alias("n_pre"),
        F.count(F.when(post, 1)).alias("n_post"),
        (
            F.sum(F.when(pre, F.col("cents"))).cast("double")
            / F.count(F.when(pre, 1)).cast("double")
        ).alias("pre_mean_cents"),
        (
            F.sum(F.when(post, F.col("cents"))).cast("double")
            / F.count(F.when(post, 1)).cast("double")
        ).alias("post_mean_cents"),
    )


@register(
    "q294_column_level_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey AS k, o_orderstatus AS st, o_orderpriority AS pr,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    new AS (
      SELECT k, 
             CASE WHEN k % 13 = 0 THEN '9-ALTERED' ELSE pr END AS pr,
             st,
             CASE WHEN k % 11 = 0 THEN cents + 500 ELSE cents END AS cents
      FROM old WHERE k % 97 <> 0
    ),
    joined AS (
      SELECT o.k AS ko, n.k AS kn,
             o.st AS st_o, n.st AS st_n, o.pr AS pr_o, n.pr AS pr_n,
             o.cents AS c_o, n.cents AS c_n
      FROM old o FULL OUTER JOIN new n ON n.k = o.k
    )
    SELECT col, n_changed FROM (
      SELECT 'o_orderstatus' AS col,
             CAST(sum(CASE WHEN ko IS NOT NULL AND kn IS NOT NULL
                            AND st_o IS DISTINCT FROM st_n
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
      FROM joined
      UNION ALL
      SELECT 'o_orderpriority',
             CAST(sum(CASE WHEN ko IS NOT NULL AND kn IS NOT NULL
                            AND pr_o IS DISTINCT FROM pr_n
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM joined
      UNION ALL
      SELECT 'o_totalprice',
             CAST(sum(CASE WHEN ko IS NOT NULL AND kn IS NOT NULL
                            AND c_o IS DISTINCT FROM c_n
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM joined
      UNION ALL
      SELECT '__deleted__',
             CAST(sum(CASE WHEN kn IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM joined
      UNION ALL
      SELECT '__inserted__',
             CAST(sum(CASE WHEN ko IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM joined
    ) ORDER BY col
    """,
)
def q294_column_level_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level snapshot diff: q06's row-level changed-rows detector
    (the reference's incremental-compare, sqlserver2pgsql.pl:4662-4689)
    drilled one level down — per COLUMN, how many common-key rows changed
    value, plus row-level insert/delete counts, from ONE full-outer join
    evaluated once (the per-column counters are conditional sums over the
    same joined relation, not per-column rescans). The 'new' snapshot is
    a deterministic perturbation (price bump on keys %11, priority
    rewrite on %13, deletes on %97). This is the audit a migration runs
    to answer 'WHAT drifted', not just 'how many rows'."""
    o = _t(spark, sf_dir, "orders")
    old = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_orderpriority").alias("pr"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    new = old.filter(F.col("k") % 97 != 0).select(
        "k",
        "st",
        F.when(F.col("k") % 13 == 0, "9-ALTERED").otherwise(F.col("pr")).alias("pr"),
        F.when(F.col("k") % 11 == 0, F.col("cents") + 500)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    ol = old.select(
        F.col("k").alias("ko"), F.col("st").alias("st_o"),
        F.col("pr").alias("pr_o"), F.col("cents").alias("c_o"),
    )
    nw = new.select(
        F.col("k").alias("kn"), F.col("st").alias("st_n"),
        F.col("pr").alias("pr_n"), F.col("cents").alias("c_n"),
    )
    j = ol.join(nw, ol["ko"] == nw["kn"], "full_outer")
    both = F.col("ko").isNotNull() & F.col("kn").isNotNull()

    def changed(a, b):
        return F.sum(
            F.when(both & ~F.col(a).eqNullSafe(F.col(b)), 1).otherwise(0)
        ).cast("long")

    agg = j.agg(
        changed("st_o", "st_n").alias("o_orderstatus"),
        changed("pr_o", "pr_n").alias("o_orderpriority"),
        changed("c_o", "c_n").alias("o_totalprice"),
        F.sum(F.when(F.col("kn").isNull(), 1).otherwise(0)).cast("long").alias(
            "__deleted__"
        ),
        F.sum(F.when(F.col("ko").isNull(), 1).otherwise(0)).cast("long").alias(
            "__inserted__"
        ),
    )
    # melt the 1-row audit to (col, n_changed) rows
    cols = ["__deleted__", "__inserted__", "o_orderpriority", "o_orderstatus", "o_totalprice"]
    stack = ", ".join(f"'{c}', `{c}`" for c in cols)
    return (
        agg.selectExpr(f"stack({len(cols)}, {stack}) AS (col, n_changed)")
        .orderBy("col")
    )


@register(
    "q295_slo_burn_rate",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS errs
      FROM events GROUP BY 1
    ),
    windows AS (
      SELECT h, n, errs,
             CAST(sum(errs) OVER w6 AS BIGINT) AS errs6,
             CAST(sum(n) OVER w6 AS BIGINT) AS n6
      FROM hourly
      WINDOW w6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(h AS TIMESTAMP) AS hour, n, errs,
           CAST(errs AS DOUBLE) / CAST(n AS DOUBLE) / 0.05 AS burn_1h,
           CAST(errs6 AS DOUBLE) / CAST(n6 AS DOUBLE) / 0.05 AS burn_6h,
           CAST(errs AS DOUBLE) / CAST(n AS DOUBLE) / 0.05 > 2
             AND CAST(errs6 AS DOUBLE) / CAST(n6 AS DOUBLE) / 0.05 > 1
             AS page
    FROM windows ORDER BY hour
    """,
)
def q295_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn rate with MULTI-WINDOW alerting (the
    SRE-workbook rule): hourly error rate over a 5% budget gives the
    1-hour burn; a trailing 6-hour frame gives the slow burn; a page
    fires only when BOTH exceed their thresholds — the standard guard
    against one-bucket blips and slow leaks alike. One hourly agg + one
    ordered frame window over #hours rows; rates are single IEEE
    divisions of exact counts, compared identically in both engines."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("errs"),
    )
    w6 = W.orderBy("h").rowsBetween(-5, 0)
    wins = hourly.select(
        "h",
        "n",
        "errs",
        F.sum("errs").over(w6).cast("long").alias("errs6"),
        F.sum("n").over(w6).cast("long").alias("n6"),
    )
    b1 = F.col("errs").cast("double") / F.col("n").cast("double") / 0.05
    b6 = F.col("errs6").cast("double") / F.col("n6").cast("double") / 0.05
    return wins.select(
        F.col("h").cast("timestamp").alias("hour"),
        "n",
        "errs",
        b1.alias("burn_1h"),
        b6.alias("burn_6h"),
        ((b1 > 2) & (b6 > 1)).alias("page"),
    ).orderBy("hour")


@register(
    "q296_shard_rebalance_transport",
    oracle="""
    WITH shards AS (
      SELECT CAST(doc_id % 16 AS BIGINT) AS shard,
             CAST(sum(n_chars) AS BIGINT) AS size
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(size) AS BIGINT) AS total FROM shards),
    flows AS (
      SELECT s.shard, s.size,
             16 * s.size - t.total AS excess_x16,
             CAST(sum(16 * s.size - t.total)
                  OVER (ORDER BY s.shard) AS BIGINT) AS flow_x16
      FROM shards s CROSS JOIN tot t
    )
    SELECT shard, size, excess_x16, flow_x16,
           CAST(sum(abs(flow_x16)) OVER () AS DOUBLE) / 16
             AS total_move_bytes
    FROM flows ORDER BY shard
    """,
)
def q296_shard_rebalance_transport(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-rebalance cost as 1-D optimal transport: with shards on a
    line, the MINIMAL bytes that must move to equalize them is the earth-
    mover's distance Σ|cumulative excess| — each boundary's running
    imbalance IS the flow that must cross it (the classic prefix-sum
    transport identity; no assignment solver needed). Excesses are scaled
    x16 to stay integer-exact against the fractional target (total/16);
    the one window runs over 16 rows. This is the planning number a
    storage layer checks before triggering a 100 TB rebalance."""
    docs = _t(spark, sf_dir, "documents")
    shards = docs.groupBy((F.col("doc_id") % 16).cast("long").alias("shard")).agg(
        F.sum("n_chars").cast("long").alias("size")
    )
    tot = shards.agg(F.sum("size").cast("long").alias("total"))
    flows = shards.crossJoin(F.broadcast(tot)).select(
        "shard",
        "size",
        (16 * F.col("size") - F.col("total")).alias("excess_x16"),
        F.sum(16 * F.col("size") - F.col("total"))
        .over(W.orderBy("shard"))
        .cast("long")
        .alias("flow_x16"),
    )
    return flows.select(
        "shard",
        "size",
        "excess_x16",
        "flow_x16",
        (
            F.sum(F.abs("flow_x16")).over(W.partitionBy()).cast("double") / 16
        ).alias("total_move_bytes"),
    ).orderBy("shard")


@register(
    "q297_haar_wavelet",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    pos AS (
      SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS p, cents
      FROM daily QUALIFY row_number() OVER (ORDER BY d) <= 64
    ),
    levels AS (
      SELECT l.lvl, p.p >> l.lvl AS block,
             CASE WHEN ((p.p >> (l.lvl - 1)) & 1) = 0
                  THEN p.cents ELSE -p.cents END AS signed,
             p.cents AS c
      FROM pos p, (SELECT unnest(range(1, 7)) AS lvl) l
    )
    SELECT CAST(lvl AS BIGINT) AS level, CAST(block AS BIGINT) AS block,
           CAST(sum(c) AS BIGINT) AS block_sum,
           CAST(sum(signed) AS BIGINT) AS haar_detail
    FROM levels GROUP BY lvl, block ORDER BY level, block
    """,
)
def q297_haar_wavelet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized Haar wavelet pyramid of the first 64 days of daily
    revenue — the multiresolution decomposition behind wavelet synopses
    and hierarchical anomaly localization (a large detail coefficient at
    level L pinpoints a disturbance at scale 2^L days). Key identity
    exploited: every Haar coefficient is a CLOSED-FORM block aggregate
    (detail(L, i) = Σ±cents signed by bit L-1 of the position), so the
    whole log-depth pyramid is ONE explode over 6 levels + one group-agg
    — no iterative halving, no recursion. Integer-exact end to end (the
    1/sqrt(2) normalizations are deferred, as synopsis builders do)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )
    pos = (
        daily.select(
            (F.row_number().over(W.orderBy("d")) - 1).cast("long").alias("p"),
            "cents",
        )
        .filter(F.col("p") < 64)
    )
    lv = pos.select(
        "p",
        "cents",
        F.explode(F.sequence(F.lit(1), F.lit(6))).alias("lvl"),
    ).select(
        F.col("lvl").cast("long").alias("level"),
        # pyspark's shiftright only takes int literals — go through SQL,
        # which accepts a column shift amount
        F.expr("shiftright(p, CAST(lvl AS INT))").cast("long").alias("block"),
        F.when(
            F.expr("shiftright(p, CAST(lvl AS INT) - 1) & 1") == 0,
            F.col("cents"),
        )
        .otherwise(-F.col("cents"))
        .alias("signed"),
        F.col("cents").alias("c"),
    )
    return (
        lv.groupBy("level", "block")
        .agg(
            F.sum("c").cast("long").alias("block_sum"),
            F.sum("signed").cast("long").alias("haar_detail"),
        )
        .orderBy("level", "block")
    )


@register(
    "q298_threshold_contagion",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    r0 AS (SELECT DISTINCT l_partkey AS node FROM lineitem
           WHERE l_partkey % 50 = 0),
    r1 AS (
      SELECT node FROM r0
      UNION
      SELECT e.u FROM edges e JOIN r0 f ON f.node = e.v
      GROUP BY e.u HAVING count(*) >= 2
    ),
    r2 AS (
      SELECT node FROM r1
      UNION
      SELECT e.u FROM edges e JOIN r1 f ON f.node = e.v
      GROUP BY e.u HAVING count(*) >= 2
    ),
    r3 AS (
      SELECT node FROM r2
      UNION
      SELECT e.u FROM edges e JOIN r2 f ON f.node = e.v
      GROUP BY e.u HAVING count(*) >= 2
    ),
    r4 AS (
      SELECT node FROM r3
      UNION
      SELECT e.u FROM edges e JOIN r3 f ON f.node = e.v
      GROUP BY e.u HAVING count(*) >= 2
    )
    SELECT CAST(0 AS BIGINT) AS round,
           CAST((SELECT count(*) FROM r0) AS BIGINT) AS n_failed
    UNION ALL SELECT 1, (SELECT count(*) FROM r1)
    UNION ALL SELECT 2, (SELECT count(*) FROM r2)
    UNION ALL SELECT 3, (SELECT count(*) FROM r3)
    UNION ALL SELECT 4, (SELECT count(*) FROM r4)
    ORDER BY round
    """,
)
def q298_threshold_contagion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-contagion (Watts cascade) simulation on the copurchase
    graph: seed failures at every 50th part, then each round a part fails
    when >= 2 already-failed neighbors touch it — the dependency-failure
    / idea-adoption model, run for 4 synchronized rounds. Each round is
    one edge join + one HAVING agg against the (checkpointed) failed
    set — frontier-sized, never quadratic; the oracle unrolls the same 4
    rounds as chained CTEs (aggregation inside recursion is not portable,
    so the unroll IS the spec). Exact set counts per round."""
    from .operators.pairs import grouped_pairs

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Lazy checkpoints throughout: every per-round frame is persisted +
    # lineage-truncated on FIRST use, but materialization rides the single
    # final action instead of 2 eager barrier jobs per round (VERDICT r4 #5
    # — the q364 lesson applied to the whole fixed-point family).
    #
    # Edge build (r6): the raw orderkey self-join shuffled BOTH orientations
    # (~2x the unordered pair volume) into the dedup exchange; generating
    # unordered pairs with grouped_pairs on one up-front orderkey exchange
    # (the q247 basket shape), deduping those, and exploding both
    # orientations afterwards yields the identical ordered edge set with
    # half the distinct's input and one fewer exchange. on_overflow='error':
    # the oracle is uncapped, and an order's line count is far below the
    # cap, so a pathological regeneration fails loudly instead of silently
    # dropping edges.
    pairs = grouped_pairs(
        li.repartition("l_orderkey"),
        "l_orderkey",
        "l_partkey",
        left="u",
        right="v",
        on_overflow="error",
    ).distinct()
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("e")
    ).select("e.*").localCheckpoint(eager=False)
    failed = (
        li.select(F.col("l_partkey").alias("node"))
        .filter(F.col("node") % 50 == 0)
        .distinct()
        .localCheckpoint(eager=False)
    )
    out = failed.groupBy().count().select(
        F.lit(0).cast("long").alias("round"), F.col("count").alias("n_failed")
    )
    for r in range(1, 5):
        # the failed set is node-sized — broadcast it so the cached edge
        # list is scanned, never shuffled, in any round
        newly = (
            edges.join(F.broadcast(failed.withColumnRenamed("node", "v")), "v")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("nf"))
            .filter(F.col("nf") >= 2)
            .select(F.col("u").alias("node"))
        )
        failed = failed.unionByName(newly).distinct().localCheckpoint(eager=False)
        out = out.unionByName(
            failed.groupBy()
            .count()
            .select(
                F.lit(r).cast("long").alias("round"),
                F.col("count").alias("n_failed"),
            )
        )
    return out.orderBy("round")


@register(
    "q299_duplicate_invoices",
    oracle="""
    WITH inv AS (
      SELECT o_custkey AS cust, o_orderkey AS k,
             CAST(o_orderdate AS DATE) AS d,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT a.cust, a.k AS key_a, b.k AS key_b,
           CAST(date_diff('day', a.d, b.d) AS BIGINT) AS gap_days,
           a.cents AS cents_a, b.cents AS cents_b
    FROM inv a JOIN inv b
      ON a.cust = b.cust AND a.k < b.k
     AND abs(date_diff('day', a.d, b.d)) <= 7
     AND abs(a.cents - b.cents) * 100 <= a.cents
    ORDER BY a.cust, key_a, key_b
    """,
)
def q299_duplicate_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-invoice detection: within-customer order pairs at most 7
    days apart whose amounts agree within 1% — the fuzzy-duplicate audit
    every billing / AP system runs (same idea as near-dup text, but the
    blocking key is the entity and the similarity is numeric). The pair
    join is customer-keyed (bounded fan-out) with the tolerance expressed
    in INTEGER form (|Δcents|·100 <= cents_a) so no float thresholds
    enter the match predicate. Exact integers throughout."""
    o = _t(spark, sf_dir, "orders")
    inv = o.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    a = inv.select(
        F.col("cust").alias("cust"), F.col("k").alias("key_a"),
        F.col("d").alias("da"), F.col("cents").alias("cents_a"),
    )
    b = inv.select(
        F.col("cust").alias("cust_b"), F.col("k").alias("key_b"),
        F.col("d").alias("db"), F.col("cents").alias("cents_b"),
    )
    return (
        a.join(
            b,
            (F.col("cust") == F.col("cust_b"))
            & (F.col("key_a") < F.col("key_b"))
            & (F.abs(F.datediff("db", "da")) <= 7)
            & (F.abs(F.col("cents_a") - F.col("cents_b")) * 100 <= F.col("cents_a")),
        )
        .select(
            "cust",
            "key_a",
            "key_b",
            F.datediff("db", "da").cast("long").alias("gap_days"),
            "cents_a",
            "cents_b",
        )
        .orderBy("cust", "key_a", "key_b")
    )


@register(
    "q300_lambda_reconciliation",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS batch_n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS batch_cents,
           CAST(count(*) AS BIGINT) AS stream_n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS stream_cents,
           TRUE AS consistent
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q300_lambda_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture reconciliation, the capstone consistency proof:
    the SAME per-user totals computed through the STREAMING path (q61's
    applyInPandasWithState stateful operator over the event stream,
    integer-cents state) and the BATCH path (one hash agg over the same
    parquet), joined and certified equal — so the query's own output
    carries the serving-layer consistency check, and the DuckDB oracle
    (necessarily the batch semantics) gates both at once: a stream/batch
    divergence surfaces as a hash mismatch on the stream columns, a
    batch bug on the batch columns, and an inconsistency as
    consistent=false. Streaming state is O(#users); the join is
    user-keyed."""
    from .streaming import run_stream_to_memory, stream_events
    from .streaming.jobs import stateful_user_totals

    stream = stateful_user_totals(stream_events(spark, sf_dir))
    run_stream_to_memory(stream, "q300_out", output_mode="update")
    streamed = spark.sql(
        "SELECT user_id, n_events AS stream_n, total_cents AS stream_cents"
        " FROM q300_out"
    )
    ev = _t(spark, sf_dir, "events")
    batch = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("batch_n"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("batch_cents"),
    )
    return (
        batch.join(streamed, "user_id")
        .select(
            "user_id",
            "batch_n",
            "batch_cents",
            "stream_n",
            "stream_cents",
            (
                (F.col("batch_n") == F.col("stream_n"))
                & (F.col("batch_cents") == F.col("stream_cents"))
            ).alias("consistent"),
        )
        .orderBy("user_id")
    )


@register(
    "q301_token_bucket_replay",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT) AS idx,
             epoch_us(ts) AS us,
             CAST(floor(value * 10) AS BIGINT) * 1000000 AS cost
      FROM events
    ),
    fold AS (
      SELECT user_id, idx, us AS last_us,
             CASE WHEN cost <= 500000000
                  THEN 500000000 - cost ELSE 500000000 END AS tok,
             CASE WHEN cost <= 500000000 THEN CAST(1 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS allowed,
             CASE WHEN cost <= 500000000 THEN CAST(0 AS BIGINT)
                  ELSE CAST(1 AS BIGINT) END AS denied
      FROM seq WHERE idx = 1
      UNION ALL
      SELECT s.user_id, s.idx, s.us,
             CASE WHEN s.cost <= least(500000000, f.tok + (s.us - f.last_us))
                  THEN least(500000000, f.tok + (s.us - f.last_us)) - s.cost
                  ELSE least(500000000, f.tok + (s.us - f.last_us)) END,
             f.allowed + CASE WHEN s.cost <= least(500000000,
                                   f.tok + (s.us - f.last_us))
                              THEN 1 ELSE 0 END,
             f.denied + CASE WHEN s.cost <= least(500000000,
                                  f.tok + (s.us - f.last_us))
                             THEN 0 ELSE 1 END
      FROM fold f JOIN seq s
        ON s.user_id = f.user_id AND s.idx = f.idx + 1
    )
    SELECT user_id, CAST(max(idx) AS BIGINT) AS n_events,
           CAST(max(CASE WHEN idx = mx THEN allowed END) AS BIGINT)
             AS allowed,
           CAST(max(CASE WHEN idx = mx THEN denied END) AS BIGINT) AS denied,
           CAST(max(CASE WHEN idx = mx THEN tok END) AS BIGINT)
             AS final_utokens
    FROM (SELECT *, max(idx) OVER (PARTITION BY user_id) AS mx FROM fold)
    GROUP BY user_id ORDER BY user_id
    """,
)
def q301_token_bucket_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate-limiter REPLAY: each user's event stream is run
    through a 500-token bucket refilling 1 token/second, deciding
    allow/deny per event — the audit that answers 'what would this
    rate-limit policy have done to last month's traffic' before rollout.
    The recurrence clamps on BOTH sides (refill cap + spend floor), so no
    closed form exists (unlike q207's one-sided Lindley reflection); both
    engines therefore run the IDENTICAL integer left-fold — micro-token
    units make every state transition exact BIGINT arithmetic (1 token/s
    == 1 microtoken/microsecond), Spark as F.aggregate over the sorted
    per-user history, DuckDB as the equivalent recursive-CTE fold. One
    collect agg; per-user arrays bounded by history (chunked affine
    composition is NOT available here — clamps don't compose — so the
    scale path is state-store streaming, q61's operator)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            "ts",
            "event_id",
            # ts is NTZ; session TZ is pinned UTC so the LTZ cast is lossless
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            (F.floor(F.col("value") * 10).cast("long") * 1000000).alias("cost"),
        ).alias("s"),
    )
    seq = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("s")).alias("hist")
    )
    CAP = F.lit(500000000).cast("long")
    first = F.element_at("hist", 1)
    init = F.struct(
        first["us"].alias("last_us"),
        F.when(first["cost"] <= CAP, CAP - first["cost"]).otherwise(CAP).alias("tok"),
        F.when(first["cost"] <= CAP, F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("allowed"),
        F.when(first["cost"] <= CAP, F.lit(0).cast("long"))
        .otherwise(F.lit(1).cast("long"))
        .alias("denied"),
    )

    def step(acc, x):
        avail = F.least(CAP, acc["tok"] + (x["us"] - acc["last_us"]))
        ok = x["cost"] <= avail
        return F.struct(
            x["us"].alias("last_us"),
            F.when(ok, avail - x["cost"]).otherwise(avail).alias("tok"),
            (acc["allowed"] + F.when(ok, 1).otherwise(0)).alias("allowed"),
            (acc["denied"] + F.when(ok, 0).otherwise(1)).alias("denied"),
        )

    fin = F.aggregate(F.slice("hist", 2, F.size("hist") - 1), init, step)
    return seq.select(
        "user_id",
        F.size("hist").cast("long").alias("n_events"),
        fin["allowed"].alias("allowed"),
        fin["denied"].alias("denied"),
        fin["tok"].alias("final_utokens"),
    ).orderBy("user_id")


@register(
    "q302_bitflag_rollup",
    oracle="""
    WITH flagged AS (
      SELECT user_id,
             CAST(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                + CASE WHEN value > 20 THEN 2 ELSE 0 END
                + CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                            >= 50 THEN 4 ELSE 0 END
                + CASE WHEN isodow(ts) >= 6 THEN 8 ELSE 0 END
                AS BIGINT) AS flags
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(bit_or(flags) AS BIGINT) AS any_flags,
           CAST(bit_and(flags) AS BIGINT) AS all_flags,
           CAST(bit_count(bit_or(flags)) AS BIGINT) AS distinct_conditions
    FROM flagged GROUP BY user_id ORDER BY user_id
    """,
)
def q302_bitflag_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregation surface: per-event condition flags packed into
    an integer bitmask (error / high-value / high-k / weekend), rolled up
    per user with BIT_OR (any event matched), BIT_AND (every event
    matched) and a popcount of distinct conditions seen — the compact
    segment-membership encoding feature stores use instead of four
    boolean columns. Pure JVM bit ops + one hash agg; weekday parity via
    the pinned isodow-1 correspondence. Exact integers."""
    ev = _t(spark, sf_dir, "events")
    flags = (
        F.when(F.col("event_type") == "error", 1).otherwise(0)
        + F.when(F.col("value") > 20, 2).otherwise(0)
        + F.when(
            F.get_json_object("props", "$.k").cast("long") >= 50, 4
        ).otherwise(0)
        + F.when(F.weekday("ts") >= 5, 8).otherwise(0)
    ).cast("long")
    return (
        ev.select("user_id", flags.alias("flags"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.bit_or("flags").cast("long").alias("any_flags"),
            F.bit_and("flags").cast("long").alias("all_flags"),
            F.bit_count(F.bit_or("flags")).cast("long").alias(
                "distinct_conditions"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "q303_rare_category_collapse",
    oracle="""
    WITH cats AS (
      SELECT p_type || '/' || CAST(p_size % 10 AS VARCHAR) AS cat,
             CAST(count(*) AS BIGINT) AS support
      FROM part GROUP BY 1
    ),
    mapped AS (
      SELECT CASE WHEN support >= 30 THEN cat ELSE '__other__' END AS category,
             support,
             CASE WHEN support >= 30 THEN 0 ELSE 1 END AS collapsed
      FROM cats
    )
    SELECT category,
           CAST(sum(support) AS BIGINT) AS n_parts,
           CAST(sum(collapsed) AS BIGINT) AS n_collapsed_cats,
           CAST(count(*) AS BIGINT) AS n_raw_cats
    FROM mapped GROUP BY category ORDER BY category
    """,
)
def q303_rare_category_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-category collapsing ('other'-bucket encoding): composite
    categories under a support threshold fold into __other__, reporting
    how many raw categories each surviving level absorbs — the
    cardinality-control step before one-hot/target encoding that keeps a
    100 TB feature matrix from exploding on long-tail levels. Two tiny
    aggs on the category table; threshold decisions on exact counts."""
    p = _t(spark, sf_dir, "part")
    cats = p.groupBy(
        F.concat_ws(
            "/", F.col("p_type"), (F.col("p_size") % 10).cast("string")
        ).alias("cat")
    ).agg(F.count(F.lit(1)).alias("support"))
    mapped = cats.select(
        F.when(F.col("support") >= 30, F.col("cat"))
        .otherwise("__other__")
        .alias("category"),
        "support",
        F.when(F.col("support") >= 30, 0).otherwise(1).alias("collapsed"),
    )
    return (
        mapped.groupBy("category")
        .agg(
            F.sum("support").cast("long").alias("n_parts"),
            F.sum("collapsed").cast("long").alias("n_collapsed_cats"),
            F.count(F.lit(1)).alias("n_raw_cats"),
        )
        .orderBy("category")
    )


@register(
    "q304_range_frame_window",
    oracle="""
    WITH daily AS (
      SELECT o_custkey AS cust,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS dnum,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    )
    SELECT cust, dnum, cents,
           CAST(sum(cents) OVER (PARTITION BY cust ORDER BY dnum
                                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS trailing_30d_cents,
           CAST(count(*) OVER (PARTITION BY cust ORDER BY dnum
                               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS trailing_30d_orders
    FROM daily ORDER BY cust, dnum
    """,
)
def q304_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window semantics — the VALUE-based frame (all rows
    within 30 day-ordinals, regardless of row count), a different
    executor path from every ROWS frame in the registry: with sparse
    order days, ROWS BETWEEN 30 PRECEDING would reach back months, while
    RANGE clips to the calendar distance. Trailing 30-day spend per
    customer over a gap-heavy per-customer daily series. Exact integers;
    one key-partitioned window."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_custkey").alias("cust"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("dnum"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = W.partitionBy("cust").orderBy("dnum").rangeBetween(-30, 0)
    return daily.select(
        "cust",
        "dnum",
        "cents",
        F.sum("cents").over(w).cast("long").alias("trailing_30d_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("trailing_30d_orders"),
    ).orderBy("cust", "dnum")


@register(
    "q305_materialized_paths",
    oracle="""
    WITH RECURSIVE up AS (
      SELECT p_partkey AS node, CAST(floor((p_partkey - 1) / 5.0) AS BIGINT)
               AS cur,
             CAST(p_partkey AS VARCHAR) AS path,
             CAST(0 AS BIGINT) AS depth
      FROM part
      UNION ALL
      SELECT node, CAST(floor((cur - 1) / 5.0) AS BIGINT),
             CAST(cur AS VARCHAR) || '/' || path, depth + 1
      FROM up WHERE cur >= 0 AND node > 0 AND cur IS NOT NULL
              AND (depth = 0 OR cur <> 0 OR path NOT LIKE '0/%')
    ),
    best AS (
      SELECT node, path, depth,
             row_number() OVER (PARTITION BY node ORDER BY depth DESC) AS rn
      FROM up
    )
    SELECT node, '/' || path AS path, depth
    FROM best WHERE rn = 1 ORDER BY node
    """,
)
def q305_materialized_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-path construction for the q243 5-ary part hierarchy:
    every node's full root-to-node breadcrumb ('/0/3/17/...') plus its
    depth — the denormalization that turns recursive ancestor queries
    into prefix LIKE scans (the standard trade for read-heavy trees at
    scale). Spark builds paths iteratively from the leaf up (depth =
    log5(N) bounded rounds, lineage cut per round); the oracle climbs
    the same chains with a recursive CTE and takes each node's deepest
    (= complete) expansion. Exact strings and integers."""
    part = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("node"))

    def climb(lvl: DataFrame) -> DataFrame:
        # (node, cur, path, depth): path runs from cur down to node; prepend
        # cur's parent. The root (cur = 0) has no parent and drops out.
        parent = F.floor((F.col("cur") - 1) / 5.0).cast("long")
        return lvl.filter(F.col("cur") > 0).select(
            "node",
            parent.alias("cur"),
            F.concat(parent.cast("string"), F.lit("/"), F.col("path")).alias("path"),
            (F.col("depth") + 1).alias("depth"),
        )

    # every path starts at its node; the seed is one climb ahead, so the
    # root itself (cur = node = 0) is the only path that starts complete
    start = part.select(
        "node",
        F.col("node").alias("cur"),
        F.col("node").cast("string").alias("path"),
        F.lit(0).cast("long").alias("depth"),
    )
    paths = closure(
        start.filter(F.col("node") == 0).unionByName(climb(start)),
        climb,
        max_rounds=_TREE_ROUNDS,
    )
    return paths.filter(F.col("cur") == 0).select(
        "node", F.concat(F.lit("/"), F.col("path")).alias("path"), "depth"
    ).orderBy("node")


@register(
    "q306_price_volume_mix",
    oracle="""
    WITH yr AS (
      SELECT p.p_type AS ptype,
             CAST(year(l.l_shipdate) AS BIGINT) AS y,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE year(l.l_shipdate) IN (1997, 1998)
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT ptype,
             CAST(max(CASE WHEN y = 1997 THEN qty END) AS BIGINT) AS q1,
             CAST(max(CASE WHEN y = 1997 THEN cents END) AS BIGINT) AS r1,
             CAST(max(CASE WHEN y = 1998 THEN qty END) AS BIGINT) AS q2,
             CAST(max(CASE WHEN y = 1998 THEN cents END) AS BIGINT) AS r2
      FROM yr GROUP BY ptype
      HAVING max(CASE WHEN y = 1997 THEN qty END) IS NOT NULL
         AND max(CASE WHEN y = 1998 THEN qty END) IS NOT NULL
    )
    SELECT ptype, r1, r2, r2 - r1 AS delta_cents,
           round((CAST(q2 AS DOUBLE) - CAST(q1 AS DOUBLE))
                 * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)), 6)
             AS volume_effect,
           round((CAST(r2 AS DOUBLE) / CAST(q2 AS DOUBLE)
                  - CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE))
                 * CAST(q2 AS DOUBLE), 6) AS price_effect,
           round(CAST(r2 - r1 AS DOUBLE)
                 - (CAST(q2 AS DOUBLE) - CAST(q1 AS DOUBLE))
                   * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE))
                 - (CAST(r2 AS DOUBLE) / CAST(q2 AS DOUBLE)
                    - CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE))
                   * CAST(q2 AS DOUBLE), 6) AS residual
    FROM wide ORDER BY ptype
    """,
)
def q306_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume bridge (FP&A waterfall): decompose each part type's
    1997->1998 revenue change into a VOLUME effect ((q2-q1) at old unit
    price) and a PRICE effect ((p2-p1) at new volume), with the exact
    residual closing the bridge to zero by construction — the standard
    'why did revenue move' decomposition finance teams publish. Unit
    prices are single IEEE divisions of exact integer sums; effects are
    one fixed multiply each, rounded once at output. One fact agg + a
    pivot-to-wide conditional agg."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    yr = (
        li.filter(F.year("l_shipdate").isin(1997, 1998))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_type").alias("ptype"),
            F.year("l_shipdate").cast("long").alias("y"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("cents"),
        )
    )
    wide = (
        yr.groupBy("ptype")
        .agg(
            F.max(F.when(F.col("y") == 1997, F.col("qty"))).alias("q1"),
            F.max(F.when(F.col("y") == 1997, F.col("cents"))).alias("r1"),
            F.max(F.when(F.col("y") == 1998, F.col("qty"))).alias("q2"),
            F.max(F.when(F.col("y") == 1998, F.col("cents"))).alias("r2"),
        )
        .filter(F.col("q1").isNotNull() & F.col("q2").isNotNull())
    )
    q1, r1 = F.col("q1").cast("double"), F.col("r1").cast("double")
    q2, r2 = F.col("q2").cast("double"), F.col("r2").cast("double")
    vol = (q2 - q1) * (r1 / q1)
    price = (r2 / q2 - r1 / q1) * q2
    return wide.select(
        "ptype",
        "r1",
        "r2",
        (F.col("r2") - F.col("r1")).alias("delta_cents"),
        F.round(vol, 6).alias("volume_effect"),
        F.round(price, 6).alias("price_effect"),
        F.round((r2 - r1) - vol - price, 6).alias("residual"),
    ).orderBy("ptype")


@register(
    "q307_lru_miss_ratio_curve",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT) AS pos
      FROM events
    ),
    withprev AS (
      SELECT user_id, item, pos,
             lag(pos) OVER (PARTITION BY user_id, item ORDER BY pos)
               AS prev_pos
      FROM seq
    ),
    dists AS (
      SELECT w.user_id, w.pos,
             CAST(count(DISTINCT b.item) AS BIGINT) AS reuse_dist
      FROM withprev w JOIN seq b
        ON b.user_id = w.user_id
       AND b.pos > w.prev_pos AND b.pos < w.pos
      WHERE w.prev_pos IS NOT NULL
      GROUP BY w.user_id, w.pos
    ),
    hist AS (
      SELECT reuse_dist, CAST(count(*) AS BIGINT) AS n FROM dists
      GROUP BY reuse_dist
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_accesses,
             CAST(sum(CASE WHEN prev_pos IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS cold
      FROM withprev
    )
    SELECT h.reuse_dist AS cache_size, h.n AS n_at_dist,
           CAST(sum(h.n) OVER (ORDER BY h.reuse_dist) AS BIGINT) AS hits_le,
           round(1 - CAST(sum(h.n) OVER (ORDER BY h.reuse_dist) AS DOUBLE)
                     / CAST(t.n_accesses AS DOUBLE), 9) AS miss_ratio
    FROM hist h CROSS JOIN tot t ORDER BY cache_size
    """,
)
def q307_lru_miss_ratio_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LRU miss-ratio curve via Mattson reuse distances: for every repeat
    access to an item in a user's stream, count the DISTINCT items seen
    since its previous access — an LRU cache of size C hits exactly the
    accesses with reuse distance <= C, so the histogram's cumulative
    complement IS the miss curve for EVERY cache size at once (the
    cache-sizing study run before provisioning a 100 TB tier). The gap
    join is per-user positional (bounded by history length); the curve
    assembly is histogram-sized. Exact integers + one rounded division."""
    ev = _t(spark, sf_dir, "events")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
        F.row_number().over(wseq).cast("long").alias("pos"),
    )
    withprev = seq.select(
        "user_id",
        "item",
        "pos",
        F.lag("pos").over(W.partitionBy("user_id", "item").orderBy("pos")).alias(
            "prev_pos"
        ),
    )
    rep = withprev.filter(F.col("prev_pos").isNotNull()).select(
        F.col("user_id").alias("u"), F.col("pos").alias("p"), "prev_pos"
    )
    b = seq.select(F.col("user_id").alias("u"), F.col("item").alias("bitem"), F.col("pos").alias("bpos"))
    dists = (
        rep.join(
            b,
            (rep["u"] == b["u"])
            & (b["bpos"] > rep["prev_pos"])
            & (b["bpos"] < rep["p"]),
        )
        .groupBy(rep["u"], "p")
        .agg(F.count_distinct("bitem").cast("long").alias("reuse_dist"))
    )
    hist = dists.groupBy("reuse_dist").agg(F.count(F.lit(1)).alias("n"))
    tot = withprev.agg(F.count(F.lit(1)).alias("n_accesses"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("reuse_dist").alias("cache_size"),
            F.col("n").alias("n_at_dist"),
            F.sum("n").over(W.orderBy("reuse_dist")).cast("long").alias("hits_le"),
            F.round(
                F.lit(1)
                - F.sum("n").over(W.orderBy("reuse_dist")).cast("double")
                / F.col("n_accesses").cast("double"),
                9,
            ).alias("miss_ratio"),
        )
        .orderBy("cache_size")
    )


@register(
    "q308_dkw_ecdf_band",
    oracle="""
    WITH vals AS (
      SELECT CAST(floor(value * 100) AS BIGINT) AS v FROM events
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi
      FROM vals
    ),
    ecdf AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM vals GROUP BY v
    ),
    curve AS (
      SELECT e.v,
             CAST(sum(e.cnt) OVER (ORDER BY e.v) AS DOUBLE)
               / CAST(s.n AS DOUBLE) AS f_hat,
             CAST(e.v - s.lo AS DOUBLE) / CAST(s.hi - s.lo AS DOUBLE) AS f0,
             round(sqrt(round(ln(2 / 0.05), 9) / (2 * CAST(s.n AS DOUBLE))), 9)
               AS eps
      FROM ecdf e CROSS JOIN stats s
    )
    SELECT v, round(f_hat, 9) AS f_hat, round(f0, 9) AS f0, eps,
           abs(f_hat - f0) > eps AS outside_band
    FROM curve ORDER BY v
    """,
)
def q308_dkw_ecdf_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dvoretzky-Kiefer-Wolfowitz goodness-of-fit band: the 95% DKW
    envelope eps = sqrt(ln(2/alpha)/2n) around the empirical CDF, with
    every support point tested against a uniform null over the observed
    range — the distribution-free alternative to q154's KS test that
    reports WHERE the distribution deviates, not just whether. The lone
    libm ln is rounded at its boundary (sqrt is IEEE-exact, no guard
    needed); the ECDF is one value agg + a support-sized cumulative
    window. One scan of the fact column."""
    ev = _t(spark, sf_dir, "events")
    vals = ev.select(F.floor(F.col("value") * 100).cast("long").alias("v"))
    stats = vals.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    ecdf = vals.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    curve = ecdf.crossJoin(F.broadcast(stats)).select(
        "v",
        (
            F.sum("cnt").over(W.orderBy("v")).cast("double")
            / F.col("n").cast("double")
        ).alias("f_hat"),
        (
            (F.col("v") - F.col("lo")).cast("double")
            / (F.col("hi") - F.col("lo")).cast("double")
        ).alias("f0"),
        F.round(
            F.sqrt(
                F.round(F.log(F.lit(2) / F.lit(0.05)), 9)
                / (2 * F.col("n").cast("double"))
            ),
            9,
        ).alias("eps"),
    )
    return curve.select(
        "v",
        F.round("f_hat", 9).alias("f_hat"),
        F.round("f0", 9).alias("f0"),
        "eps",
        (F.abs(F.col("f_hat") - F.col("f0")) > F.col("eps")).alias("outside_band"),
    ).orderBy("v")


@register(
    "q309_knee_detection",
    oracle="""
    WITH freq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
            FROM documents)
      WHERE term <> '' GROUP BY term
    ),
    ranked AS (
      SELECT CAST(row_number() OVER (ORDER BY f DESC, term) AS BIGINT) AS r,
             f
      FROM freq
    ),
    ends AS (
      SELECT CAST(min(r) AS BIGINT) AS r1, CAST(max(r) AS BIGINT) AS r2,
             CAST(max(CASE WHEN rn_lo = 1 THEN f END) AS BIGINT) AS f1,
             CAST(max(CASE WHEN rn_hi = 1 THEN f END) AS BIGINT) AS f2
      FROM (SELECT r, f,
                   row_number() OVER (ORDER BY r) AS rn_lo,
                   row_number() OVER (ORDER BY r DESC) AS rn_hi
            FROM ranked)
    )
    SELECT k.r AS knee_rank, k.f AS knee_freq, k.d2 AS chord_dist_x2
    FROM (
      SELECT ranked.r, ranked.f,
             abs((e.r2 - e.r1) * (e.f1 - ranked.f)
                 - (e.r1 - ranked.r) * (e.f2 - e.f1)) AS d2,
             row_number() OVER (
               ORDER BY abs((e.r2 - e.r1) * (e.f1 - ranked.f)
                            - (e.r1 - ranked.r) * (e.f2 - e.f1)) DESC,
                        ranked.r) AS rn
      FROM ranked CROSS JOIN ends e
    ) k WHERE k.rn = 1
    """,
)
def q309_knee_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knee/elbow detection on the vocabulary rank-frequency curve — the
    Kneedle-style 'where does the long tail start' cut used to pick
    vocab sizes, cluster counts and cache tiers: the knee is the point
    maximizing distance to the chord between the curve's endpoints,
    computed here with the INTEGER cross-product form of the
    point-to-line distance (no sqrt, no division — the common positive
    scale factor can't change the argmax), so the selection is exact
    arithmetic with a deterministic rank tie-break. One vocab agg + one
    global window + a broadcast endpoints row."""
    from .operators.text import WS

    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split(F.trim(F.col("text")), WS)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = freq.select(
        F.row_number().over(W.orderBy(F.desc("f"), F.asc("term"))).cast("long").alias("r"),
        "f",
    )
    ends = ranked.agg(
        F.min("r").alias("r1"),
        F.max("r").alias("r2"),
        F.max_by("f", -F.col("r")).alias("f1"),
        F.max_by("f", F.col("r")).alias("f2"),
    )
    j = ranked.crossJoin(F.broadcast(ends))
    d2 = F.abs(
        (F.col("r2") - F.col("r1")) * (F.col("f1") - F.col("f"))
        - (F.col("r1") - F.col("r")) * (F.col("f2") - F.col("f1"))
    )
    return (
        j.select(
            "r",
            "f",
            d2.alias("d2"),
            F.row_number().over(W.orderBy(F.desc(d2), F.asc("r"))).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("r").alias("knee_rank"),
            F.col("f").alias("knee_freq"),
            F.col("d2").alias("chord_dist_x2"),
        )
    )


@register(
    "q310_wilcoxon_signed_rank",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS cust,
             CAST(sum(CASE WHEN year(o_orderdate) = 1997
                           THEN floor(o_totalprice * 100 + 0.5) END)
                  AS BIGINT) AS c97,
             CAST(sum(CASE WHEN year(o_orderdate) = 1998
                           THEN floor(o_totalprice * 100 + 0.5) END)
                  AS BIGINT) AS c98
      FROM orders WHERE year(o_orderdate) IN (1997, 1998)
      GROUP BY 1
      HAVING c97 IS NOT NULL AND c98 IS NOT NULL AND c97 <> c98
    ),
    ranked AS (
      SELECT CASE WHEN c98 > c97 THEN 1 ELSE -1 END AS sgn,
             CAST(rank() OVER (ORDER BY abs(c98 - c97)) AS BIGINT) AS rmin,
             CAST(count(*) OVER (PARTITION BY abs(c98 - c97)) AS BIGINT)
               AS tie
      FROM per
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN sgn = 1
                         THEN CAST(rmin AS DECIMAL(28, 1))
                            + CAST(tie - 1 AS DECIMAL(28, 1)) / 2 END)
                AS DOUBLE) AS w_plus,
           CAST(sum(CASE WHEN sgn = -1
                         THEN CAST(rmin AS DECIMAL(28, 1))
                            + CAST(tie - 1 AS DECIMAL(28, 1)) / 2 END)
                AS DOUBLE) AS w_minus,
           CAST(sum(sgn) AS BIGINT) AS sign_balance
    FROM ranked
    """,
)
def q310_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test — the PAIRED companion to q258's
    Mann-Whitney: each customer active in both 1997 and 1998 contributes
    one signed difference; |differences| are rank-averaged over ties
    (exact DECIMAL(38,1) half-integers, q242's recipe) and W+/W- are the
    signed rank sums an analyst compares against the null of symmetric
    change. Zero-differences drop per the standard procedure. One
    customer agg + one global rank window (range-sort at scale); rank
    sums are order-free decimal."""
    o = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate").isin(1997, 1998))
    per = (
        o.groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(
                F.when(
                    F.year("o_orderdate") == 1997,
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)),
                )
            )
            .cast("long")
            .alias("c97"),
            F.sum(
                F.when(
                    F.year("o_orderdate") == 1998,
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)),
                )
            )
            .cast("long")
            .alias("c98"),
        )
        .filter(
            F.col("c97").isNotNull()
            & F.col("c98").isNotNull()
            & (F.col("c97") != F.col("c98"))
        )
    )
    absd = F.abs(F.col("c98") - F.col("c97"))
    ranked = per.select(
        F.when(F.col("c98") > F.col("c97"), 1).otherwise(-1).alias("sgn"),
        F.rank().over(W.orderBy(absd)).cast("long").alias("rmin"),
        F.count(F.lit(1)).over(W.partitionBy(absd)).cast("long").alias("tie"),
    )
    halfrank = F.col("rmin").cast("decimal(28,1)") + (
        F.col("tie") - 1
    ).cast("decimal(28,1)") / 2
    return ranked.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("sgn") == 1, halfrank)).cast("double").alias("w_plus"),
        F.sum(F.when(F.col("sgn") == -1, halfrank)).cast("double").alias("w_minus"),
        F.sum("sgn").cast("long").alias("sign_balance"),
    )


@register(
    "q311_circular_stats",
    oracle="""
    WITH ang AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    vec AS (
      SELECT event_type,
             CAST(sum(n) AS BIGINT) AS n_events,
             CAST(sum(n * CAST(round(cos(2 * pi() * h / 24), 9)
                               AS DECIMAL(28, 9))) AS DOUBLE) AS c,
             CAST(sum(n * CAST(round(sin(2 * pi() * h / 24), 9)
                               AS DECIMAL(28, 9))) AS DOUBLE) AS s
      FROM ang GROUP BY event_type
    )
    SELECT event_type, n_events,
           round(round(atan2(s, c), 9) * 24 / (2 * pi()), 6)
             AS mean_hour_signed,
           round(sqrt(c * c + s * s) / CAST(n_events AS DOUBLE), 9)
             AS resultant_r
    FROM vec ORDER BY event_type
    """,
)
def q311_circular_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular (directional) statistics of event timing: hour-of-day is
    an ANGLE, so the mean activity hour is atan2 of the resultant vector
    (a 23:00 and a 01:00 event average to midnight, not noon — the
    mistake every linear mean makes on time-of-day data) and the
    resultant length R measures concentration (1 = all events at one
    hour, 0 = uniform). The 24 possible sin/cos values are rounded once
    at the libm boundary and accumulated in DECIMAL weighted by exact
    counts (order-free); atan2/sqrt run once per group on identical
    doubles. One (type, hour) agg; everything after is 24-row."""
    ev = _t(spark, sf_dir, "events")
    ang = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    two_pi = 2 * 3.141592653589793
    # operand precisions sized so the product keeps scale 9: Spark reduces
    # a decimal product's scale to 6 when precision would exceed 38
    # (allowPrecisionLoss), which would silently truncate the vector sums
    cosr = F.round(F.cos(F.lit(two_pi) * F.col("h") / 24), 9).cast("decimal(20,9)")
    sinr = F.round(F.sin(F.lit(two_pi) * F.col("h") / 24), 9).cast("decimal(20,9)")
    nn = F.col("n").cast("decimal(12,0)")
    vec = ang.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum(nn * cosr).cast("double").alias("c"),
        F.sum(nn * sinr).cast("double").alias("s"),
    )
    return vec.select(
        "event_type",
        "n_events",
        # atan2 is libm — round at its boundary before the fixed scaling
        F.round(
            F.round(F.atan2(F.col("s"), F.col("c")), 9) * 24 / F.lit(two_pi), 6
        ).alias("mean_hour_signed"),
        F.round(
            F.sqrt(F.col("c") * F.col("c") + F.col("s") * F.col("s"))
            / F.col("n_events").cast("double"),
            9,
        ).alias("resultant_r"),
    ).orderBy("event_type")


@register(
    "q312_tiered_pricing",
    oracle="""
    WITH brackets AS (
      SELECT * FROM (VALUES
        (CAST(0 AS BIGINT),       CAST(10000000 AS BIGINT),  CAST(0 AS BIGINT)),
        (CAST(10000000 AS BIGINT), CAST(20000000 AS BIGINT), CAST(2 AS BIGINT)),
        (CAST(20000000 AS BIGINT), CAST(35000000 AS BIGINT), CAST(5 AS BIGINT)),
        (CAST(35000000 AS BIGINT), CAST(9223372036854775807 AS BIGINT),
         CAST(9 AS BIGINT))
      ) AS t(lo, hi, pct)
    ),
    fees AS (
      SELECT o.o_orderkey,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(sum(greatest(0, least(
                      CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT), b.hi)
                      - b.lo) * b.pct // 100) AS BIGINT) AS fee_cents
      FROM orders o CROSS JOIN brackets b
      GROUP BY 1, 2
    )
    SELECT CAST(CASE WHEN cents >= 60000000 THEN 7
                     ELSE cents // 10000000 + 1 END AS BIGINT) AS size_band,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS base_cents,
           CAST(sum(fee_cents) AS BIGINT) AS fee_cents,
           round(CAST(sum(fee_cents) AS DOUBLE)
                 / CAST(sum(cents) AS DOUBLE), 9) AS effective_rate
    FROM fees GROUP BY 1 ORDER BY size_band
    """,
)
def q312_tiered_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered (marginal-bracket) pricing: each order's fee is the sum
    over brackets of rate x the slice of its value falling in that
    bracket — greatest(0, least(v, hi) - lo), the tax-bracket /
    usage-tier formula every billing engine implements. Bracket math is
    pure integer arithmetic against a broadcast 4-row rate table (the
    cross join fans out by #brackets, then folds straight back), and
    effective rates per size band are single divisions of exact sums.
    Size bands are plain integer division on both sides."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    brackets = spark.createDataFrame(
        [
            (0, 10_000_000, 0),
            (10_000_000, 20_000_000, 2),
            (20_000_000, 35_000_000, 5),
            (35_000_000, 9223372036854775807, 9),
        ],
        "lo long, hi long, pct long",
    )
    slice_ = F.greatest(
        F.lit(0).cast("long"), F.least(F.col("cents"), F.col("hi")) - F.col("lo")
    )
    fees = (
        o.crossJoin(F.broadcast(brackets))
        .groupBy("o_orderkey", "cents")
        .agg(
            F.sum(F.floor(slice_ * F.col("pct") / 100).cast("long"))
            .cast("long")
            .alias("fee_cents")
        )
    )
    band = F.when(F.col("cents") < 0, 0).when(
        F.col("cents") >= 60_000_000, 7
    ).otherwise(F.floor(F.col("cents") / 10_000_000).cast("long") + 1)
    return (
        fees.groupBy(band.cast("long").alias("size_band"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("base_cents"),
            F.sum("fee_cents").cast("long").alias("fee_cents"),
            F.round(
                F.sum("fee_cents").cast("double") / F.sum("cents").cast("double"),
                9,
            ).alias("effective_rate"),
        )
        .orderBy("size_band")
    )


@register(
    "q313_cuped_adjustment",
    oracle="""
    WITH units AS (
      SELECT o_custkey AS cust, CAST(o_custkey % 2 AS BIGINT) AS arm,
             CAST(sum(CASE WHEN year(o_orderdate) = 1997
                           THEN floor(o_totalprice * 100 + 0.5) ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(sum(CASE WHEN year(o_orderdate) = 1998
                           THEN floor(o_totalprice * 100 + 0.5) ELSE 0 END)
                  AS BIGINT) AS y
      FROM orders WHERE year(o_orderdate) IN (1997, 1998)
      GROUP BY 1, 2
    ),
    pooled AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS DECIMAL(38, 0)) AS sxy,
             CAST(sum(x * x) AS DECIMAL(38, 0)) AS sxx,
             CAST(sum(y * y) AS DECIMAL(38, 0)) AS syy
      FROM units
    ),
    theta AS (
      SELECT n, sx, sy,
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                / CAST(n AS DOUBLE))
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                / CAST(n AS DOUBLE)) AS th,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS var_y,
             (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS var_x,
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_xy
      FROM pooled
    ),
    arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_arm,
             CAST(sum(y) AS BIGINT) AS sy_arm,
             CAST(sum(x) AS BIGINT) AS sx_arm
      FROM units GROUP BY arm
    )
    SELECT a.arm, a.n_arm,
           round(CAST(a.sy_arm AS DOUBLE) / CAST(a.n_arm AS DOUBLE), 6)
             AS raw_mean_cents,
           round(CAST(a.sy_arm AS DOUBLE) / CAST(a.n_arm AS DOUBLE)
                 - t.th * (CAST(a.sx_arm AS DOUBLE) / CAST(a.n_arm AS DOUBLE)
                           - CAST(t.sx AS DOUBLE) / CAST(t.n AS DOUBLE)), 6)
             AS cuped_mean_cents,
           round(t.th, 9) AS theta,
           round(1 - (t.var_y - 2 * t.th * t.cov_xy
                      + t.th * t.th * t.var_x) / t.var_y, 9)
             AS variance_reduction
    FROM arms a CROSS JOIN theta t ORDER BY a.arm
    """,
)
def q313_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 — the standard
    experimentation-platform adjustment): per-customer 1998 revenue
    adjusted by the pre-period covariate, theta = cov(x,y)/var(x), with
    the achieved variance reduction computed in CLOSED FORM from pooled
    moments (var(y-θx) = var_y - 2θcov + θ²var_x) — no second pass, no
    per-row adjusted column. Cross-products ride DECIMAL(38,0) (cents²
    overflows int64 at scale); every derived statistic is one fixed IEEE
    chain over exact sums, rounded once. One unit agg + two tiny
    rollups."""
    o = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate").isin(1997, 1998))
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
    units = o.groupBy(
        F.col("o_custkey").alias("cust"),
        (F.col("o_custkey") % 2).cast("long").alias("arm"),
    ).agg(
        F.sum(F.when(F.year("o_orderdate") == 1997, cents).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.year("o_orderdate") == 1998, cents).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    pooled = units.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    nD = F.col("n").cast("double")
    sxD, syD = F.col("sx").cast("double"), F.col("sy").cast("double")
    cxy = F.col("sxy").cast("double") - sxD * syD / nD
    cxx = F.col("sxx").cast("double") - sxD * sxD / nD
    cyy = F.col("syy").cast("double") - syD * syD / nD
    theta = pooled.select(
        "n",
        "sx",
        (cxy / cxx).alias("th"),
        (cyy / nD).alias("var_y"),
        (cxx / nD).alias("var_x"),
        (cxy / nD).alias("cov_xy"),
    )
    arms = units.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_arm"),
        F.sum("y").alias("sy_arm"),
        F.sum("x").alias("sx_arm"),
    )
    j = arms.crossJoin(F.broadcast(theta))
    raw = F.col("sy_arm").cast("double") / F.col("n_arm").cast("double")
    adj = raw - F.col("th") * (
        F.col("sx_arm").cast("double") / F.col("n_arm").cast("double")
        - F.col("sx").cast("double") / F.col("n").cast("double")
    )
    return j.select(
        "arm",
        "n_arm",
        F.round(raw, 6).alias("raw_mean_cents"),
        F.round(adj, 6).alias("cuped_mean_cents"),
        F.round("th", 9).alias("theta"),
        F.round(
            F.lit(1)
            - (
                F.col("var_y")
                - 2 * F.col("th") * F.col("cov_xy")
                + F.col("th") * F.col("th") * F.col("var_x")
            )
            / F.col("var_y"),
            9,
        ).alias("variance_reduction"),
    ).orderBy("arm")


def _ring_positions_sql(n_nodes: int) -> str:
    return (
        "SELECT n.node, v.vn, ('0x' || substr(md5(CAST(n.node AS VARCHAR)"
        " || ':' || CAST(v.vn AS VARCHAR)), 1, 8))::BIGINT AS rpos"
        f" FROM (SELECT unnest(range({n_nodes})) AS node) n,"
        "       (SELECT unnest(range(4)) AS vn) v"
    )


@register(
    "q314_consistent_hash_ring",
    oracle=f"""
    WITH ring8 AS ({_ring_positions_sql(8)}),
    ring9 AS ({_ring_positions_sql(9)}),
    keys AS (
      SELECT c_custkey AS k,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
               AS kh
      FROM customer
    ),
    a8 AS (
      SELECT k.k,
             COALESCE(min(CASE WHEN r.rpos >= k.kh THEN r.rpos END),
                      min(r.rpos)) AS owner_pos
      FROM keys k CROSS JOIN ring8 r GROUP BY k.k
    ),
    own8 AS (
      SELECT a.k, r.node FROM a8 a JOIN ring8 r ON r.rpos = a.owner_pos
    ),
    a9 AS (
      SELECT k.k,
             COALESCE(min(CASE WHEN r.rpos >= k.kh THEN r.rpos END),
                      min(r.rpos)) AS owner_pos
      FROM keys k CROSS JOIN ring9 r GROUP BY k.k
    ),
    own9 AS (
      SELECT a.k, r.node FROM a9 a JOIN ring9 r ON r.rpos = a.owner_pos
    )
    SELECT o9.node,
           CAST(count(*) AS BIGINT) AS n_after,
           CAST(sum(CASE WHEN o8.node <> o9.node THEN 1 ELSE 0 END)
                AS BIGINT) AS moved_in
    FROM own9 o9 JOIN own8 o8 ON o8.k = o9.k
    GROUP BY o9.node ORDER BY o9.node
    """,
)
def q314_consistent_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash ring rebalance audit: 1500 customer keys placed on
    an 8-node x 4-vnode md5 ring, then the ring regrown to 9 nodes — per
    node, the new key count and how many keys MOVED in (the consistent-
    hashing guarantee: only ~1/9 of keys relocate, all toward the new
    node — versus rehash-everything's ~8/9; the q296 transport cost's
    topology-aware sibling). Successor lookup is min-over-filtered-ring
    (32/36 positions, broadcast); the deterministic md5 positions make
    every placement oracle-replayable. Exact integers."""

    def ring(n_nodes):
        nodes = spark.range(n_nodes).select(F.col("id").alias("node"))
        vns = spark.range(4).select(F.col("id").alias("vn"))
        return nodes.crossJoin(vns).select(
            "node",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("node").cast("string"), F.col("vn").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("rpos"),
        )

    keys = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("kh"),
    )

    def assign(ringdf, out):
        a = (
            keys.crossJoin(F.broadcast(ringdf))
            .groupBy("k")
            .agg(
                F.coalesce(
                    F.min(F.when(F.col("rpos") >= F.col("kh"), F.col("rpos"))),
                    F.min("rpos"),
                ).alias("owner_pos")
            )
        )
        return a.join(
            F.broadcast(ringdf), F.col("owner_pos") == F.col("rpos")
        ).select("k", F.col("node").alias(out))

    own8 = assign(ring(8), "node8")
    own9 = assign(ring(9), "node9")
    return (
        own9.join(own8, "k")
        .groupBy(F.col("node9").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("n_after"),
            F.sum(F.when(F.col("node8") != F.col("node9"), 1).otherwise(0))
            .cast("long")
            .alias("moved_in"),
        )
        .orderBy("node")
    )


def _q315_oracle() -> str:
    iters = []
    prev = "m0"
    for t in (1, 2, 3):
        iters.append(f"""
    d{t} AS (
      SELECT v.vec_id,
             sqrt(CAST(sum((v.v_fx - m.m_fx) * (v.v_fx - m.m_fx))
                       AS DOUBLE)) AS d
      FROM vfx v JOIN {prev} m ON m.pos = v.pos
      GROUP BY v.vec_id
      HAVING sum((v.v_fx - m.m_fx) * (v.v_fx - m.m_fx)) > 0
    ),
    w{t} AS (
      SELECT v.pos,
             CAST(sum(CAST(round(v.v_fx / d.d, 6) AS DECIMAL(28, 6)))
                  AS DOUBLE) AS t1,
             CAST(sum(CAST(round(1 / d.d, 12) AS DECIMAL(28, 12)))
                  AS DOUBLE) AS t2
      FROM vfx v JOIN d{t} d ON d.vec_id = v.vec_id
      GROUP BY v.pos
    ),
    m{t} AS (
      SELECT pos, CAST(floor(t1 / t2) AS BIGINT) AS m_fx FROM w{t}
    )""")
        prev = f"m{t}"
    joined = ",".join(iters)
    return f"""
    WITH {_VFX_SQL},
    m0 AS (
      SELECT pos, CAST(sum(v_fx) // count(*) AS BIGINT) AS m_fx
      FROM vfx GROUP BY pos
    ),{joined}
    SELECT pos, m_fx,
           round(CAST(m_fx AS DOUBLE) / {float(EMB_SCALE)} - 1.0, 9)
             AS median_val
    FROM m3 ORDER BY pos
    """


@register("q315_weiszfeld_geometric_median", oracle=_q315_oracle())
def q315_weiszfeld_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric median of the embedding corpus by THREE fixed Weiszfeld
    iterations in fixed-point: the L1-robust centroid (the aggregation
    rule of robust federated averaging and outlier-resistant prototype
    selection), m_{t+1} = Σ(x_i/d_i)/Σ(1/d_i). Determinism scaffolding:
    the iterate is RE-QUANTIZED to EMB_SCALE integers each round (so
    every distance is sqrt of an exact BIGINT — IEEE-exact), the two
    weighted sums round once at their division boundary into DECIMAL
    (order-free), and coincident points drop per the standard algorithm.
    Each iteration is one per-vector agg + one per-dimension agg — the
    same two-shuffle shape as a k-means step, run 3x."""
    vfx = _vfx(spark, sf_dir).select("vec_id", "pos", "v_fx")
    m = vfx.groupBy("pos").agg(
        F.floor(F.sum("v_fx") / F.count(F.lit(1))).cast("long").alias("m_fx")
    )
    for _ in range(3):
        d = (
            vfx.join(F.broadcast(m), "pos")
            .groupBy("vec_id")
            .agg(
                F.sum(
                    (F.col("v_fx") - F.col("m_fx"))
                    * (F.col("v_fx") - F.col("m_fx"))
                ).alias("d2")
            )
            .filter(F.col("d2") > 0)
            .select("vec_id", F.sqrt(F.col("d2").cast("double")).alias("d"))
        )
        w = (
            vfx.join(d, "vec_id")
            .groupBy("pos")
            .agg(
                F.sum(
                    F.round(F.col("v_fx") / F.col("d"), 6).cast("decimal(28,6)")
                )
                .cast("double")
                .alias("t1"),
                F.sum(
                    F.round(F.lit(1) / F.col("d"), 12).cast("decimal(28,12)")
                )
                .cast("double")
                .alias("t2"),
            )
        )
        m = w.select(
            "pos", F.floor(F.col("t1") / F.col("t2")).cast("long").alias("m_fx")
            # lazy: the next iteration's broadcast build (or the final
            # action) materializes the 64-row iterate — eager paid a
            # dedicated driver-blocking job per iteration
        ).localCheckpoint(eager=False)
    return m.select(
        "pos",
        "m_fx",
        F.round(
            F.col("m_fx").cast("double") / F.lit(float(EMB_SCALE)) - 1.0, 9
        ).alias("median_val"),
    ).orderBy("pos")


@register(
    "q316_l_moments",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY floor(o_totalprice * 100 + 0.5))
                  AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
               AS n
      FROM orders
    ),
    pwm AS (
      SELECT grp, CAST(max(n) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s0,
             CAST(sum((i - 1) * x) AS DECIMAL(38, 0)) AS s1,
             CAST(sum(CAST(i - 1 AS DECIMAL(19, 0)) * (i - 2) * x)
                  AS DECIMAL(38, 0)) AS s2
      FROM ranked GROUP BY grp
    ),
    b AS (
      SELECT grp, n,
             CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE) AS b0,
             CAST(s1 AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS b1,
             CAST(s2 AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                  * CAST(n - 2 AS DOUBLE)) AS b2
      FROM pwm
    )
    SELECT grp, n,
           round(b0, 6) AS l1_cents,
           round(2 * b1 - b0, 6) AS l2_cents,
           round((6 * b2 - 6 * b1 + b0) / (2 * b1 - b0), 9) AS l_skewness
    FROM b ORDER BY grp
    """,
)
def q316_l_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-moments (Hosking's probability-weighted moments): per priority
    group, the L-scale and L-skewness of order values — the order-
    statistics alternative to classical moments that stays finite under
    heavy tails and underlies regional frequency analysis. The three PWM
    sums are EXACT (Σx BIGINT, Σ(i-1)x and Σ(i-1)(i-2)x in DECIMAL(38,0)
    — the triple product overflows int64), and tie order provably cannot
    change them (equal values swap under any tie permutation), so the
    rank window needs no tie-break. One group rank window + one agg;
    every output is a fixed IEEE chain rounded once."""
    o = _t(spark, sf_dir, "orders")
    x = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    wg = W.partitionBy("o_orderpriority")
    ranked = o.select(
        F.col("o_orderpriority").alias("grp"),
        x.alias("x"),
        F.row_number().over(wg.orderBy(x)).cast("long").alias("i"),
        F.count(F.lit(1)).over(wg).cast("long").alias("n"),
    )
    pwm = ranked.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.sum("x").alias("s0"),
        F.sum((F.col("i") - 1) * F.col("x")).cast("decimal(38,0)").alias("s1"),
        F.sum(
            (F.col("i") - 1).cast("decimal(19,0)") * (F.col("i") - 2) * F.col("x")
        )
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    nD = F.col("n").cast("double")
    b0 = F.col("s0").cast("double") / nD
    b1 = F.col("s1").cast("double") / (nD * (F.col("n") - 1).cast("double"))
    b2 = F.col("s2").cast("double") / (
        nD * (F.col("n") - 1).cast("double") * (F.col("n") - 2).cast("double")
    )
    return pwm.select(
        "grp",
        "n",
        F.round(b0, 6).alias("l1_cents"),
        F.round(2 * b1 - b0, 6).alias("l2_cents"),
        F.round((6 * b2 - 6 * b1 + b0) / (2 * b1 - b0), 9).alias("l_skewness"),
    ).orderBy("grp")


@register(
    "q317_fixed_effects_regression",
    oracle="""
    WITH base AS (
      SELECT l_suppkey AS ent, CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    per AS (
      SELECT ent, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM base GROUP BY ent
    ),
    terms AS (
      SELECT CAST(sum(CAST(round(CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                         / CAST(n AS DOUBLE), 6) AS DECIMAL(38, 6)))
                  AS DOUBLE) AS wxy,
             CAST(sum(CAST(round(CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                         / CAST(n AS DOUBLE), 6) AS DECIMAL(38, 6)))
                  AS DOUBLE) AS wxx,
             CAST(count(*) AS BIGINT) AS n_entities,
             CAST(sum(n) AS BIGINT) AS n_obs,
             CAST(sum(sx) AS BIGINT) AS tsx, CAST(sum(sy) AS BIGINT) AS tsy,
             CAST(sum(sxy) AS BIGINT) AS tsxy,
             CAST(sum(sxx) AS BIGINT) AS tsxx
      FROM per
    )
    SELECT n_entities, n_obs,
           round(wxy / wxx, 9) AS within_slope,
           round((CAST(n_obs AS DOUBLE) * CAST(tsxy AS DOUBLE)
                  - CAST(tsx AS DOUBLE) * CAST(tsy AS DOUBLE))
                 / (CAST(n_obs AS DOUBLE) * CAST(tsxx AS DOUBLE)
                    - CAST(tsx AS DOUBLE) * CAST(tsx AS DOUBLE)), 9)
             AS pooled_slope
    FROM terms
    """,
)
def q317_fixed_effects_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way fixed-effects (within) estimator: price-on-quantity slope
    after absorbing supplier-level intercepts — the panel-econometrics
    workhorse that kills per-entity confounding, put NEXT to the pooled
    OLS slope so the confounding bias is visible in one row. The within
    estimator needs only per-entity moments (Frisch-Waugh demeaning in
    closed form); per-entity terms are rounded once at their division
    boundary and summed in DECIMAL so the cross-entity reduction is
    order-free. One fact agg + one entity rollup."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_suppkey").alias("ent"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    per = base.groupBy("ent").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nD = F.col("n").cast("double")
    txy = F.round(
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / nD,
        6,
    ).cast("decimal(38,6)")
    txx = F.round(
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / nD,
        6,
    ).cast("decimal(38,6)")
    terms = per.agg(
        F.sum(txy).cast("double").alias("wxy"),
        F.sum(txx).cast("double").alias("wxx"),
        F.count(F.lit(1)).alias("n_entities"),
        F.sum("n").alias("n_obs"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxy").alias("tsxy"),
        F.sum("sxx").alias("tsxx"),
    )
    nO = F.col("n_obs").cast("double")
    pooled = (
        nO * F.col("tsxy").cast("double")
        - F.col("tsx").cast("double") * F.col("tsy").cast("double")
    ) / (
        nO * F.col("tsxx").cast("double")
        - F.col("tsx").cast("double") * F.col("tsx").cast("double")
    )
    return terms.select(
        "n_entities",
        "n_obs",
        F.round(F.col("wxy") / F.col("wxx"), 9).alias("within_slope"),
        F.round(pooled, 9).alias("pooled_slope"),
    )


@register(
    "q318_mantel_haenszel",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS stratum,
             CAST(sum(CASE WHEN o_custkey % 2 = 0
                            AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN o_custkey % 2 = 0
                            AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN o_custkey % 2 = 1
                            AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN o_custkey % 2 = 1
                            AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM orders GROUP BY 1
    ),
    pooled AS (
      SELECT CAST(sum(CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                       / CAST(a + b + c + d AS DOUBLE), 9)
                       AS DECIMAL(28, 9))) AS DOUBLE) AS num,
             CAST(sum(CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
                       / CAST(a + b + c + d AS DOUBLE), 9)
                       AS DECIMAL(28, 9))) AS DOUBLE) AS den,
             CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb,
             CAST(sum(c) AS BIGINT) AS tc, CAST(sum(d) AS BIGINT) AS td
      FROM cells
    )
    SELECT ta, tb, tc, td,
           round(num / den, 9) AS or_mantel_haenszel,
           round((CAST(ta AS DOUBLE) * CAST(td AS DOUBLE))
                 / (CAST(tb AS DOUBLE) * CAST(tc AS DOUBLE)), 9)
             AS or_crude
    FROM pooled
    """,
)
def q318_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio: the stratified 2x2 estimator
    (exposure = even custkey, outcome = status F, strata = priority) that
    q271's Simpson audit motivates — the CRUDE odds ratio from collapsed
    counts sits beside the confounding-adjusted MH pooling
    Σ(a_i d_i/n_i) / Σ(b_i c_i/n_i). Per-stratum terms are one fixed IEEE
    chain each, rounded at the division boundary and DECIMAL-summed
    (order-free). One contingency agg; everything after is
    strata-sized."""
    o = _t(spark, sf_dir, "orders")
    exp_ = F.col("o_custkey") % 2 == 0
    out_ = F.col("o_orderstatus") == "F"
    cells = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.sum(F.when(exp_ & out_, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(exp_ & ~out_, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~exp_ & out_, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~exp_ & ~out_, 1).otherwise(0)).cast("long").alias("d"),
    )
    nS = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    num_t = F.round(
        F.col("a").cast("double") * F.col("d").cast("double") / nS, 9
    ).cast("decimal(28,9)")
    den_t = F.round(
        F.col("b").cast("double") * F.col("c").cast("double") / nS, 9
    ).cast("decimal(28,9)")
    pooled = cells.agg(
        F.sum(num_t).cast("double").alias("num"),
        F.sum(den_t).cast("double").alias("den"),
        F.sum("a").alias("ta"),
        F.sum("b").alias("tb"),
        F.sum("c").alias("tc"),
        F.sum("d").alias("td"),
    )
    return pooled.select(
        "ta",
        "tb",
        "tc",
        "td",
        F.round(F.col("num") / F.col("den"), 9).alias("or_mantel_haenszel"),
        F.round(
            (F.col("ta").cast("double") * F.col("td").cast("double"))
            / (F.col("tb").cast("double") * F.col("tc").cast("double")),
            9,
        ).alias("or_crude"),
    )


@register(
    "q319_qini_curve",
    oracle="""
    WITH users AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS treated,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS score
      FROM events GROUP BY user_id
    ),
    tiled AS (
      SELECT user_id, treated, CASE WHEN conv > 0 THEN 1 ELSE 0 END AS y,
             CAST(ntile(10) OVER (ORDER BY score DESC, user_id) AS BIGINT)
               AS decile
      FROM users
    ),
    per AS (
      SELECT decile,
             CAST(sum(treated) AS BIGINT) AS t,
             CAST(sum(1 - treated) AS BIGINT) AS c,
             CAST(sum(treated * y) AS BIGINT) AS ty,
             CAST(sum((1 - treated) * y) AS BIGINT) AS cy
      FROM tiled GROUP BY decile
    ),
    cum AS (
      SELECT decile,
             CAST(sum(t) OVER w AS BIGINT) AS ct,
             CAST(sum(c) OVER w AS BIGINT) AS cc,
             CAST(sum(ty) OVER w AS BIGINT) AS cty,
             CAST(sum(cy) OVER w AS BIGINT) AS ccy
      FROM per WINDOW w AS (ORDER BY decile)
    )
    SELECT decile, ct, cc, cty, ccy,
           round(CAST(cty AS DOUBLE) / CAST(ct AS DOUBLE)
                 - CAST(ccy AS DOUBLE) / CAST(cc AS DOUBLE), 9)
             AS uplift_at_depth,
           round(CAST(cty AS DOUBLE)
                 - CAST(ccy AS DOUBLE) * CAST(ct AS DOUBLE)
                   / CAST(cc AS DOUBLE), 6) AS qini
    FROM cum ORDER BY decile
    """,
)
def q319_qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for uplift-model evaluation: users ranked by a targeting
    score (deterministic decile tie-breaks), cumulative treated/control
    conversion at each depth, the incremental uplift and the Qini
    statistic cty - ccy*(ct/cc) — the standard 'did targeting find the
    persuadables' audit for incrementality campaigns. One user agg + a
    global ntile + decile-sized cumulative windows; all counts exact,
    two rounded divisions per row."""
    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("conv"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).cast("long").alias("score"),
    ).select(
        "user_id",
        (F.col("user_id") % 2).cast("long").alias("treated"),
        F.when(F.col("conv") > 0, 1).otherwise(0).alias("y"),
        "score",
    )
    tiled = users.select(
        "treated",
        "y",
        F.ntile(10)
        .over(W.orderBy(F.desc("score"), F.asc("user_id")))
        .cast("long")
        .alias("decile"),
    )
    per = tiled.groupBy("decile").agg(
        F.sum("treated").cast("long").alias("t"),
        F.sum(1 - F.col("treated")).cast("long").alias("c"),
        F.sum(F.col("treated") * F.col("y")).cast("long").alias("ty"),
        F.sum((1 - F.col("treated")) * F.col("y")).cast("long").alias("cy"),
    )
    wc = W.orderBy("decile")
    cum = per.select(
        "decile",
        F.sum("t").over(wc).cast("long").alias("ct"),
        F.sum("c").over(wc).cast("long").alias("cc"),
        F.sum("ty").over(wc).cast("long").alias("cty"),
        F.sum("cy").over(wc).cast("long").alias("ccy"),
    )
    return cum.select(
        "decile",
        "ct",
        "cc",
        "cty",
        "ccy",
        F.round(
            F.col("cty").cast("double") / F.col("ct").cast("double")
            - F.col("ccy").cast("double") / F.col("cc").cast("double"),
            9,
        ).alias("uplift_at_depth"),
        F.round(
            F.col("cty").cast("double")
            - F.col("ccy").cast("double")
            * F.col("ct").cast("double")
            / F.col("cc").cast("double"),
            6,
        ).alias("qini"),
    ).orderBy("decile")


@register(
    "q320_grid_spatial_join",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS k, CAST(c_custkey % 256 AS BIGINT) AS x,
             CAST((c_custkey * 131) % 256 AS BIGINT) AS y
      FROM customer
    ),
    boxes AS (
      SELECT * FROM (VALUES (1, 10, 60, 200, 250), (2, 100, 140, 0, 40),
                            (3, 0, 255, 120, 130), (4, 240, 255, 240, 255),
                            (5, 64, 127, 32, 95))
        AS t(box_id, x1, x2, y1, y2)
    ),
    box_cells AS (
      SELECT b.box_id, b.x1, b.x2, b.y1, b.y2,
             cx.cx, cy.cy
      FROM boxes b,
           LATERAL (SELECT unnest(generate_series(b.x1 // 32, b.x2 // 32))
                      AS cx) cx,
           LATERAL (SELECT unnest(generate_series(b.y1 // 32, b.y2 // 32))
                      AS cy) cy
    ),
    cand AS (
      SELECT bc.box_id, bc.x1, bc.x2, bc.y1, bc.y2, p.x, p.y
      FROM pts p JOIN box_cells bc
        ON bc.cx = p.x // 32 AND bc.cy = p.y // 32
    )
    SELECT box_id,
           CAST(count(*) AS BIGINT) AS candidates,
           CAST(sum(CASE WHEN x BETWEEN x1 AND x2 AND y BETWEEN y1 AND y2
                         THEN 1 ELSE 0 END) AS BIGINT) AS matches,
           round(CAST(sum(CASE WHEN x BETWEEN x1 AND x2
                           AND y BETWEEN y1 AND y2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
             AS filter_efficiency
    FROM cand GROUP BY box_id ORDER BY box_id
    """,
)
def q320_grid_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial join: points meet query rectangles through a
    32x32-cell grid — each rectangle explodes to the cells it covers,
    the equi-join on cell id prunes the candidate set, and the exact
    containment predicate runs only on candidates (the standard
    PostGIS/GeoSpark pattern that replaces an unscalable theta-join with
    shuffle-friendly equality). The per-box candidate count next to the
    match count MEASURES the grid's pruning efficiency — the number a
    tuner reads before picking cell size at 100 TB. Exact integers."""
    c = _t(spark, sf_dir, "customer")
    pts = c.select(
        (F.col("c_custkey") % 256).cast("long").alias("x"),
        ((F.col("c_custkey") * 131) % 256).cast("long").alias("y"),
    )
    boxes = spark.createDataFrame(
        [(1, 10, 60, 200, 250), (2, 100, 140, 0, 40), (3, 0, 255, 120, 130),
         (4, 240, 255, 240, 255), (5, 64, 127, 32, 95)],
        "box_id long, x1 long, x2 long, y1 long, y2 long",
    )
    box_cells = boxes.select(
        "box_id", "x1", "x2", "y1", "y2",
        F.explode(
            F.sequence(F.floor(F.col("x1") / 32), F.floor(F.col("x2") / 32))
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(F.floor(F.col("y1") / 32), F.floor(F.col("y2") / 32))
        ).alias("cy"),
    )
    cand = pts.join(
        F.broadcast(box_cells),
        (F.col("cx") == F.floor(F.col("x") / 32))
        & (F.col("cy") == F.floor(F.col("y") / 32)),
    )
    hit = F.col("x").between(F.col("x1"), F.col("x2")) & F.col("y").between(
        F.col("y1"), F.col("y2")
    )
    return (
        cand.groupBy("box_id")
        .agg(
            F.count(F.lit(1)).alias("candidates"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("matches"),
            F.round(
                F.sum(F.when(hit, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("filter_efficiency"),
        )
        .orderBy("box_id")
    )


@register(
    "q321_promo_overlap_attribution",
    oracle="""
    WITH iv AS (
      SELECT k, cents, least(s0, e0) AS s, greatest(s0, e0) AS e FROM (
        SELECT o.o_orderkey AS k,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(o.o_orderdate AS DATE) AS s0,
               max(CAST(l.l_shipdate AS DATE)) AS e0
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3
      )
    ),
    promos AS (
      SELECT * FROM (VALUES
        (1, DATE '1996-11-15', DATE '1996-12-31'),
        (2, DATE '1997-06-01', DATE '1997-07-15'),
        (3, DATE '1998-01-01', DATE '1998-03-31'),
        (4, DATE '1995-05-01', DATE '1995-05-07'))
        AS t(promo_id, ps, pe)
    )
    SELECT p.promo_id,
           CAST(count(CASE WHEN least(iv.e, p.pe) >= greatest(iv.s, p.ps)
                           THEN 1 END) AS BIGINT) AS n_overlapping,
           CAST(sum(greatest(0, CAST(date_diff('day',
                    greatest(iv.s, p.ps), least(iv.e, p.pe)) AS BIGINT) + 1))
                AS BIGINT) AS overlap_days,
           CAST(sum(CASE WHEN least(iv.e, p.pe) >= greatest(iv.s, p.ps)
                         THEN iv.cents ELSE 0 END) AS BIGINT)
             AS touched_cents
    FROM iv CROSS JOIN promos p
    GROUP BY p.promo_id ORDER BY p.promo_id
    """,
)
def q321_promo_overlap_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo-window overlap attribution: every order's fulfilment
    interval against a broadcast promo calendar — orders touched, total
    overlap days (greatest(0, min(e,pe) - max(s,ps) + 1), the interval-
    intersection length identity), and revenue under each promo window.
    The calendar side is tiny and broadcast so the fact table fans out
    only by #promos; intervals are orientation-normalized (fixture allows
    shipdate < orderdate). Exact integer date math and cents."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.col("o_orderdate").cast("date").alias("s0"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    iv = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "cents", "s0")
        .agg(F.max("sd").alias("e0"))
        .select(
            "cents",
            F.least("s0", "e0").alias("s"),
            F.greatest("s0", "e0").alias("e"),
        )
    )
    import datetime

    promos = spark.createDataFrame(
        [
            (1, datetime.date(1996, 11, 15), datetime.date(1996, 12, 31)),
            (2, datetime.date(1997, 6, 1), datetime.date(1997, 7, 15)),
            (3, datetime.date(1998, 1, 1), datetime.date(1998, 3, 31)),
            (4, datetime.date(1995, 5, 1), datetime.date(1995, 5, 7)),
        ],
        "promo_id long, ps date, pe date",
    )
    j = iv.crossJoin(F.broadcast(promos))
    touches = F.least("e", "pe") >= F.greatest("s", "ps")
    odays = F.greatest(
        F.lit(0).cast("long"),
        F.datediff(F.least("e", "pe"), F.greatest("s", "ps")).cast("long") + 1,
    )
    return (
        j.groupBy("promo_id")
        .agg(
            F.count(F.when(touches, 1)).alias("n_overlapping"),
            F.sum(odays).cast("long").alias("overlap_days"),
            F.sum(F.when(touches, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("touched_cents"),
        )
        .orderBy("promo_id")
    )


@register(
    "q322_sax_symbolization",
    oracle="""
    WITH daily AS (
      SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS p,
             cents
      FROM (SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1)
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(CAST(cents AS DECIMAL(38, 0)) * cents)
                  AS DECIMAL(38, 0)) AS s2
      FROM daily
    ),
    paa AS (
      SELECT d.p // 16 AS seg,
             CAST(sum(d.cents) AS BIGINT) AS seg_sum,
             CAST(count(*) AS BIGINT) AS seg_n
      FROM daily d GROUP BY 1
    ),
    z AS (
      SELECT p.seg, p.seg_n,
             (CAST(p.seg_sum AS DOUBLE) / CAST(p.seg_n AS DOUBLE)
              - CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
             / sqrt((CAST(t.s2 AS DOUBLE)
                     - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)
                       / CAST(t.n AS DOUBLE)) / CAST(t.n AS DOUBLE)) AS zz
      FROM paa p CROSS JOIN stats t
    )
    SELECT seg, seg_n, round(zz, 9) AS z,
           CASE WHEN zz < -0.6744897501960817 THEN 'a'
                WHEN zz < 0 THEN 'b'
                WHEN zz < 0.6744897501960817 THEN 'c'
                ELSE 'd' END AS symbol
    FROM z ORDER BY seg
    """,
)
def q322_sax_symbolization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin & Keogh): the daily
    revenue series is piecewise-aggregated into 16-day segments,
    z-normalized against global moments, and quantized into a 4-letter
    alphabet at the standard Gaussian quartile breakpoints (±0.6745,
    embedded as exact double literals) — the discretization that turns
    time-series motif/anomaly mining into string algorithms. Global
    moments are exact (Σx BIGINT, Σx² DECIMAL — cents² overflows int64);
    each z-score is one IEEE chain over them, and the breakpoint CASE
    compares identical doubles. Two aggs + a broadcast stats row."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .select(
            (F.row_number().over(W.orderBy("d")) - 1).cast("long").alias("p"),
            "cents",
        )
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    paa = daily.groupBy(F.floor(F.col("p") / 16).cast("long").alias("seg")).agg(
        F.sum("cents").alias("seg_sum"), F.count(F.lit(1)).alias("seg_n")
    )
    j = paa.crossJoin(F.broadcast(stats))
    nD = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nD
    var = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / nD
    ) / nD
    zz = (
        F.col("seg_sum").cast("double") / F.col("seg_n").cast("double") - mean
    ) / F.sqrt(var)
    bp = 0.6744897501960817
    return j.select(
        "seg",
        "seg_n",
        F.round(zz, 9).alias("z"),
        F.when(zz < -bp, "a")
        .when(zz < 0, "b")
        .when(zz < bp, "c")
        .otherwise("d")
        .alias("symbol"),
    ).orderBy("seg")


@register(
    "q323_difference_in_differences",
    oracle="""
    WITH cells AS (
      SELECT CAST(o_custkey % 2 AS BIGINT) AS treated,
             CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
                  THEN 1 ELSE 0 END AS post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        CAST(max(CASE WHEN treated = 1 AND post = 1 THEN cents END)
             AS DOUBLE)
          / CAST(max(CASE WHEN treated = 1 AND post = 1 THEN n END)
             AS DOUBLE) AS t_post,
        CAST(max(CASE WHEN treated = 1 AND post = 0 THEN cents END)
             AS DOUBLE)
          / CAST(max(CASE WHEN treated = 1 AND post = 0 THEN n END)
             AS DOUBLE) AS t_pre,
        CAST(max(CASE WHEN treated = 0 AND post = 1 THEN cents END)
             AS DOUBLE)
          / CAST(max(CASE WHEN treated = 0 AND post = 1 THEN n END)
             AS DOUBLE) AS c_post,
        CAST(max(CASE WHEN treated = 0 AND post = 0 THEN cents END)
             AS DOUBLE)
          / CAST(max(CASE WHEN treated = 0 AND post = 0 THEN n END)
             AS DOUBLE) AS c_pre
      FROM cells
    )
    SELECT round(t_pre, 6) AS treated_pre_mean,
           round(t_post, 6) AS treated_post_mean,
           round(c_pre, 6) AS control_pre_mean,
           round(c_post, 6) AS control_post_mean,
           round((t_post - t_pre) - (c_post - c_pre), 6) AS did_estimate
    FROM wide
    """,
)
def q323_difference_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the 2x2 (treated x pre/post-1997) cell
    means and the DiD interaction (Δtreated - Δcontrol) — the canonical
    quasi-experimental estimator when randomization isn't available,
    rounding out the causal toolkit (q313 CUPED, q271 Simpson, q318
    Mantel-Haenszel, q293 event study). One contingency agg; four exact
    sums, four divisions, one subtraction chain, rounded once."""
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy(
        (F.col("o_custkey") % 2).cast("long").alias("treated"),
        F.when(
            F.col("o_orderdate").cast("date") >= F.lit("1997-01-01").cast("date"), 1
        )
        .otherwise(0)
        .alias("post"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents"),
    )

    def cell(t, p):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col("cents"))
        ).cast("double") / F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col("n"))
        ).cast("double")

    wide = cells.agg(
        cell(1, 1).alias("t_post"),
        cell(1, 0).alias("t_pre"),
        cell(0, 1).alias("c_post"),
        cell(0, 0).alias("c_pre"),
    )
    return wide.select(
        F.round("t_pre", 6).alias("treated_pre_mean"),
        F.round("t_post", 6).alias("treated_post_mean"),
        F.round("c_pre", 6).alias("control_pre_mean"),
        F.round("c_post", 6).alias("control_post_mean"),
        F.round(
            (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")),
            6,
        ).alias("did_estimate"),
    )


@register(
    "q324_brier_decomposition",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(least(10, len(list_filter(
                    string_split_regex(trim(text), '\\s+'),
                    w -> lower(w) IN ('the','and','of','to','is'))))
                  AS BIGINT) AS b
      FROM documents
    ),
    bins AS (
      SELECT b, CAST(b AS DOUBLE) / 10 AS p,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos
      FROM scored GROUP BY b
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(pos) AS BIGINT) AS post
      FROM bins
    ),
    parts AS (
      SELECT
        CAST(sum(CAST(round(CAST(b.n AS DOUBLE)
               * (b.p - CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE))
               * (b.p - CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE)), 9)
               AS DECIMAL(28, 9))) AS DOUBLE) AS rel_num,
        CAST(sum(CAST(round(CAST(b.n AS DOUBLE)
               * (CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE)
                  - CAST(t.post AS DOUBLE) / CAST(t.nt AS DOUBLE))
               * (CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE)
                  - CAST(t.post AS DOUBLE) / CAST(t.nt AS DOUBLE)), 9)
               AS DECIMAL(28, 9))) AS DOUBLE) AS res_num,
        CAST(max(t.nt) AS BIGINT) AS nt,
        CAST(max(t.post) AS BIGINT) AS post
      FROM bins b CROSS JOIN tot t
    )
    SELECT nt AS n_docs,
           round(rel_num / CAST(nt AS DOUBLE), 9) AS reliability,
           round(res_num / CAST(nt AS DOUBLE), 9) AS resolution,
           round(CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)
                 * (1 - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)), 9)
             AS uncertainty,
           round(rel_num / CAST(nt AS DOUBLE)
                 - res_num / CAST(nt AS DOUBLE)
                 + CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)
                   * (1 - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)), 9)
             AS brier_score
    FROM parts
    """,
)
def q324_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score: a crude is-English
     'probability' (capped marker count / 10) is binned on its 11 possible
    values and split into RELIABILITY (calibration error), RESOLUTION
    (how much the bins separate outcomes) and UNCERTAINTY (base-rate
    variance) with Brier = rel - res + unc holding by construction — the
    standard diagnostic separating 'is the score calibrated' from 'is it
    informative' (companion to q288's confusion eval and q290's
    threshold sweep). Per-bin terms round once at their division
    boundary into DECIMAL (order-free); the score's discreteness makes
    binning exact. One doc scan + bin-sized math."""
    from .operators.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    b = F.least(
        F.lit(10),
        F.size(
            F.filter(
                F.transform(_tokens(F.col("text")), F.lower),
                lambda w: w.isin("the", "and", "of", "to", "is"),
            )
        ),
    ).cast("long")
    scored = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"), b.alias("b")
    )
    bins = scored.groupBy("b").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("pos")
    ).select("b", (F.col("b").cast("double") / 10).alias("p"), "n", "pos")
    tot = bins.agg(
        F.sum("n").cast("long").alias("nt"), F.sum("pos").cast("long").alias("post")
    )
    j = bins.crossJoin(F.broadcast(tot))
    obar = F.col("pos").cast("double") / F.col("n").cast("double")
    base = F.col("post").cast("double") / F.col("nt").cast("double")
    rel_t = F.round(
        F.col("n").cast("double") * (F.col("p") - obar) * (F.col("p") - obar), 9
    ).cast("decimal(28,9)")
    res_t = F.round(
        F.col("n").cast("double") * (obar - base) * (obar - base), 9
    ).cast("decimal(28,9)")
    parts = j.agg(
        F.sum(rel_t).cast("double").alias("rel_num"),
        F.sum(res_t).cast("double").alias("res_num"),
        F.max("nt").alias("nt"),
        F.max("post").alias("post"),
    )
    ntD = F.col("nt").cast("double")
    baseD = F.col("post").cast("double") / ntD
    return parts.select(
        F.col("nt").alias("n_docs"),
        F.round(F.col("rel_num") / ntD, 9).alias("reliability"),
        F.round(F.col("res_num") / ntD, 9).alias("resolution"),
        F.round(baseD * (1 - baseD), 9).alias("uncertainty"),
        F.round(
            F.col("rel_num") / ntD - F.col("res_num") / ntD + baseD * (1 - baseD),
            9,
        ).alias("brier_score"),
    )


@register(
    "q325_spc_control_chart",
    oracle="""
    WITH seq AS (
      SELECT CAST(row_number() OVER (ORDER BY ts, event_id) - 1 AS BIGINT)
               AS rn,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    sub AS (
      SELECT rn // 5 AS subgroup,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n,
             CAST(max(cents) - min(cents) AS BIGINT) AS r
      FROM seq GROUP BY 1 HAVING count(*) = 5
    ),
    lims AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(s) AS BIGINT) AS st,
             CAST(sum(r) AS BIGINT) AS rt
      FROM sub
    )
    SELECT g.subgroup,
           round(CAST(g.s AS DOUBLE) / 5, 6) AS xbar,
           g.r AS rng,
           round(CAST(l.st AS DOUBLE) / (5 * CAST(l.k AS DOUBLE)), 6)
             AS grand_mean,
           round(CAST(l.st AS DOUBLE) / (5 * CAST(l.k AS DOUBLE))
                 + 0.577 * CAST(l.rt AS DOUBLE) / CAST(l.k AS DOUBLE), 6)
             AS ucl_x,
           round(CAST(l.st AS DOUBLE) / (5 * CAST(l.k AS DOUBLE))
                 - 0.577 * CAST(l.rt AS DOUBLE) / CAST(l.k AS DOUBLE), 6)
             AS lcl_x,
           CAST(g.s AS DOUBLE) / 5
             > CAST(l.st AS DOUBLE) / (5 * CAST(l.k AS DOUBLE))
               + 0.577 * CAST(l.rt AS DOUBLE) / CAST(l.k AS DOUBLE)
           OR CAST(g.s AS DOUBLE) / 5
             < CAST(l.st AS DOUBLE) / (5 * CAST(l.k AS DOUBLE))
               - 0.577 * CAST(l.rt AS DOUBLE) / CAST(l.k AS DOUBLE)
             AS out_of_control
    FROM sub g CROSS JOIN lims l ORDER BY g.subgroup
    """,
)
def q325_spc_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control: X-bar chart over rational subgroups
    of 5 consecutive events — subgroup means and ranges, control limits
    grand_mean ± A2·R-bar with the standard A2(n=5) = 0.577 constant,
    and the Western-Electric rule-1 out-of-control flag — the
    manufacturing/SRE drift monitor that predates (and still outlives)
    most anomaly detectors. Subgroup sums/ranges are exact integers; the
    limits are one IEEE chain over two exact totals, compared
    identically in both engines. One global sequence window + one
    subgroup agg."""
    ev = _t(spark, sf_dir, "events")
    seq = ev.select(
        (F.row_number().over(W.orderBy("ts", "event_id")) - 1)
        .cast("long")
        .alias("rn"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    sub = (
        seq.groupBy(F.floor(F.col("rn") / 5).cast("long").alias("subgroup"))
        .agg(
            F.sum("cents").alias("s"),
            F.count(F.lit(1)).alias("n"),
            (F.max("cents") - F.min("cents")).cast("long").alias("r"),
        )
        .filter(F.col("n") == 5)
    )
    lims = sub.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("s").alias("st"),
        F.sum("r").alias("rt"),
    )
    j = sub.crossJoin(F.broadcast(lims))
    xbar = F.col("s").cast("double") / 5
    gm = F.col("st").cast("double") / (5 * F.col("k").cast("double"))
    rbar = F.col("rt").cast("double") / F.col("k").cast("double")
    ucl = gm + 0.577 * rbar
    lcl = gm - 0.577 * rbar
    return j.select(
        "subgroup",
        F.round(xbar, 6).alias("xbar"),
        F.col("r").alias("rng"),
        F.round(gm, 6).alias("grand_mean"),
        F.round(ucl, 6).alias("ucl_x"),
        F.round(lcl, 6).alias("lcl_x"),
        ((xbar > ucl) | (xbar < lcl)).alias("out_of_control"),
    ).orderBy("subgroup")


@register(
    "q326_monetary_unit_sampling",
    oracle="""
    WITH seq AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  OVER (ORDER BY o_orderkey) AS BIGINT) AS cum
      FROM orders
    ),
    tot AS (SELECT CAST(max(cum) AS BIGINT) AS total FROM seq),
    sel AS (
      SELECT s.k, s.cents, s.cum,
             -- grid points in the half-open span (cum-cents, cum]; all
             -- operands non-negative (negative // truncates in DuckDB but
             -- floors in Spark)
             s.cum // (t.total // 200)
               - (s.cum - s.cents) // (t.total // 200) AS n_hits
      FROM seq s CROSS JOIN tot t WHERE s.cents > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(n_hits) AS BIGINT) AS n_units,
           CAST(sum(cents) AS BIGINT) AS selected_cents,
           CAST(min(k) AS BIGINT) AS first_key,
           CAST(max(k) AS BIGINT) AS last_key
    FROM sel WHERE n_hits > 0
    """,
)
def q326_monetary_unit_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monetary-unit (dollar-unit) audit sampling: every ~1/200th CENT of
    cumulative order value selects the order containing it — systematic
    PPS sampling where selection probability is proportional to amount,
    the audit-standard technique (large items are certainties, small ones
    proportionally likely; deterministic here with a fixed grid). An
    order is selected iff the sampling grid has a point inside its
    cumulative span — counted exactly with integer floor division, no
    per-unit explode of 10^9 cents. One running-sum window (range-sorted
    at scale) + a broadcast total."""
    o = _t(spark, sf_dir, "orders")
    seq = o.select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ).select(
        "k",
        "cents",
        F.sum("cents").over(W.orderBy("k")).cast("long").alias("cum"),
    )
    tot = seq.agg(F.max("cum").alias("total"))
    j = seq.crossJoin(F.broadcast(tot)).filter(F.col("cents") > 0)
    step = F.floor(F.col("total") / 200).cast("long")
    # half-open (cum-cents, cum] multiples; keep operands non-negative —
    # negative integer division FLOORS in Spark but TRUNCATES in DuckDB
    n_hits = (
        F.floor(F.col("cum") / step)
        - F.floor((F.col("cum") - F.col("cents")) / step)
    ).cast("long")
    sel = j.select("k", "cents", n_hits.alias("n_hits")).filter(F.col("n_hits") > 0)
    return sel.agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("n_hits").cast("long").alias("n_units"),
        F.sum("cents").cast("long").alias("selected_cents"),
        F.min("k").alias("first_key"),
        F.max("k").alias("last_key"),
    )


@register(
    "q327_semiadditive_balance",
    oracle="""
    WITH txn AS (
      SELECT user_id, ts, event_id,
             date_trunc('month', ts) AS m,
             CAST(sum(CAST(floor(value * 100) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS BIGINT) AS balance
      FROM events
    ),
    eom AS (
      SELECT user_id, m, balance FROM (
        SELECT user_id, m, balance,
               row_number() OVER (PARTITION BY user_id, m
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM txn
      ) WHERE rn = 1
    )
    SELECT CAST(m AS TIMESTAMP) AS month,
           CAST(count(*) AS BIGINT) AS n_accounts,
           CAST(sum(balance) AS BIGINT) AS total_eom_cents,
           CAST(min(balance) AS BIGINT) AS min_eom_cents,
           CAST(max(balance) AS BIGINT) AS max_eom_cents
    FROM eom GROUP BY m ORDER BY month
    """,
)
def q327_semiadditive_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-additive measure rollup — the periodic-snapshot-fact pattern:
    per-user running balances (cumulative cents) snapshot at each
    month's LAST observation (balances are additive across ACCOUNTS but
    NOT across TIME — summing a month's balances would be wrong; you
    take the closing value), then aggregated across accounts per month.
    Closing-value selection is a deterministic reverse row_number, not
    last()/max_by. One user-ordered window + one month window + one
    agg."""
    ev = _t(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    txn = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.date_trunc("month", "ts").alias("m"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .over(wu)
        .cast("long")
        .alias("balance"),
    )
    eom = (
        txn.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "m").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "m", "balance")
    )
    return (
        eom.groupBy(F.col("m").cast("timestamp").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_accounts"),
            F.sum("balance").cast("long").alias("total_eom_cents"),
            F.min("balance").cast("long").alias("min_eom_cents"),
            F.max("balance").cast("long").alias("max_eom_cents"),
        )
        .orderBy("month")
    )
