"""Round-4 third-wave operator tests: RRF hybrid fusion, the expectations
audit, deterministic epoch sharding, centroid similarity, leakage-safe
splitting, and char-bigram entropy — properties the sf-fixture oracles
can't stress (rank-fusion algebra, leakage invariants, entropy bounds,
permutation-invariance of the shard plan)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from sqlserver2pgsql_spark.measure import plan_text
from tests.conftest import SF_DIR

# --- q163: reciprocal-rank fusion -------------------------------------------


def test_rrf_fusion_scores_and_ranks(spark):
    rows = entrymod.queries()["q163_rrf_hybrid_fusion"](spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        expect = 0.0
        if r.lex_rank is not None:
            assert 1 <= r.lex_rank <= 200
            expect += 1.0 / (60 + r.lex_rank)
        if r.vec_rank is not None:
            assert 1 <= r.vec_rank <= 200
            expect += 1.0 / (60 + r.vec_rank)
        assert abs(r.rrf_score - expect) < 1e-9
    # fused output is sorted by score; a doc present in BOTH lists at rank 1
    # would dominate — verify monotone non-increasing order
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)


# --- q164: expectations audit -----------------------------------------------


def test_expectations_audit_clean_fixture_passes(spark):
    rows = entrymod.queries()["q164_expectations_audit"](spark, SF_DIR).collect()
    by_rule = {r.rule: r for r in rows}
    assert len(by_rule) == 7
    # the TPC-H-ish fixture is referentially clean: every rule passes
    for r in rows:
        assert r.passed and r.violations == 0, r.rule


def test_expectations_audit_detects_planted_violations(spark):
    # plant a dup key, a null custkey, and an out-of-domain status
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").limit(50)
    bad = o.limit(1).select(
        "o_orderkey",  # duplicate of an existing key
        F.lit(None).cast("long").alias("o_custkey"),
        F.lit("X").alias("o_orderstatus"),
        *[c for c in o.columns if c not in
          ("o_orderkey", "o_custkey", "o_orderstatus")],
    ).select(o.columns)
    n1 = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    agg = o.unionByName(bad).agg(
        n1(F.col("o_custkey").isNull()).alias("null_custkey"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_orderkey"),
        n1(~F.col("o_orderstatus").isin("O", "F", "P")).alias("status_domain"),
    ).first()
    assert agg.null_custkey == 1
    assert agg.dup_orderkey == 1
    assert agg.status_domain == 1


# --- q165: epoch shard plan -------------------------------------------------


def test_epoch_shard_plan_partition_invariant_and_complete(spark):
    q = entrymod.queries()["q165_epoch_shard_plan"]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = q(spark, SF_DIR).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    assert {r.shard for r in rows} <= set(range(16))
    # determinism across physical layouts: the manifest is a pure function
    # of doc ids, so any repartitioning yields the identical plan
    again = q(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


# --- q166: label-centroid cosine matrix -------------------------------------


def test_centroid_similarity_upper_triangle_and_bounds(spark):
    rows = entrymod.queries()["q166_label_centroid_similarity"](
        spark, SF_DIR
    ).collect()
    labels = set()
    for r in rows:
        assert r.label_a < r.label_b
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9
        labels |= {r.label_a, r.label_b}
    k = len(labels)
    assert len(rows) == k * (k - 1) // 2


# --- q167: leakage-safe split -----------------------------------------------


def test_leakage_safe_split_no_cross_pairs_and_covers_corpus(spark):
    rows = entrymod.queries()["q167_leakage_safe_split"](spark, SF_DIR).collect()
    by_split = {r.split: r for r in rows}
    assert set(by_split) <= {"train", "val"}
    # THE invariant: no near-dup pair straddles the split
    for r in rows:
        assert r.cross_split_pairs == 0
    # corpus = documents + the mutated near-dup copies (doc_id % 5 == 0)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    n_mut = docs.filter(F.col("doc_id") % 5 == 0).count()
    assert sum(r.n_docs for r in rows) == n + n_mut


# --- q168: char-bigram entropy ----------------------------------------------


def test_char_entropy_bounds_and_closed_forms(spark):
    rows = entrymod.queries()["q168_char_entropy"](spark, SF_DIR).collect()
    for r in rows:
        # 0 <= H <= ln(n_distinct), with slack for the round(9)/round(6) pins
        assert -1e-6 <= r.entropy <= math.log(r.n_distinct) + 1e-6
        assert r.n_bigrams >= r.n_distinct


def test_char_entropy_closed_form_on_synthetic_docs(spark):
    # uniform text: "abab..." has bigrams {ab, ba} near-uniform; repeated
    # char "aaaa" has a single bigram -> H = 0
    rng = random.Random(11)
    uniform = "".join(rng.choice("abcdefgh") for _ in range(4096))
    df = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abababab"), (3, uniform)], "doc_id long, text string"
    )
    grams = df.filter(F.length("text") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("bg"),
    )
    counts = grams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("n"))
    t = F.sum("n").cast("long")
    nlnn = F.sum(
        F.round(F.col("n") * F.log(F.col("n").cast("double")), 9)
        .cast("decimal(28,15)")
    )
    got = {
        r.doc_id: r.h
        for r in counts.groupBy("doc_id")
        .agg(
            F.round(
                F.log(t.cast("double")) - nlnn.cast("double") / t.cast("double"), 6
            ).alias("h")
        )
        .collect()
    }
    assert got[1] == 0.0  # single repeated bigram
    # "abababab": 7 bigrams = 4x"ab" + 3x"ba"
    want2 = math.log(7) - (4 * math.log(4) + 3 * math.log(3)) / 7
    assert abs(got[2] - want2) < 1e-5
    # near-uniform random text approaches ln(64) from below
    assert got[3] <= math.log(64) + 1e-6


# --- q169: pointer doubling -------------------------------------------------


def test_pointer_doubling_on_synthetic_forest(spark):
    # two chains + a singleton, ids deliberately NOT in rank order so the
    # algorithm cannot cheat off a sort key
    #   chain A: 30 -> 10 -> 99 -> 7   (root 30)
    #   chain B: 5 -> 80               (root 5)
    #   singleton: 42
    rows = [
        (1, 1, 30), (1, 2, 10), (1, 3, 99), (1, 4, 7),
        (2, 1, 5), (2, 2, 80),
        (3, 1, 42),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long")
    import math
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    labels = df.select(
        "user_id", F.col("event_id").alias("id"),
        F.coalesce(F.lag("event_id").over(w), F.col("event_id")).alias("par"),
    ).select(
        "user_id", "id", "par",
        F.when(F.col("par") == F.col("id"), F.lit(0)).otherwise(1)
        .cast("long").alias("d"),
    ).localCheckpoint()
    for _ in range(max(1, math.ceil(math.log2(4)))):
        hop = labels.select(F.col("id").alias("h_id"),
                            F.col("par").alias("h_par"),
                            F.col("d").alias("h_d"))
        labels = labels.join(hop, labels["par"] == hop["h_id"]).select(
            "user_id", "id", F.col("h_par").alias("par"),
            (F.col("d") + F.col("h_d")).cast("long").alias("d"),
        ).localCheckpoint()
    got = {r.id: (r.par, r.d) for r in labels.collect()}
    assert got == {
        30: (30, 0), 10: (30, 1), 99: (30, 2), 7: (30, 3),
        5: (5, 0), 80: (5, 1), 42: (42, 0),
    }


def test_pointer_doubling_matches_closed_form(spark):
    rows = entrymod.queries()["q169_pointer_doubling"](spark, SF_DIR).collect()
    # closed form: depth = rank-1, root = first event of the user
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        r.event_id: (r.root, r.depth)
        for r in ev.select(
            "event_id",
            F.first("event_id").over(w).alias("root"),
            (F.row_number().over(w) - 1).cast("long").alias("depth"),
        ).collect()
    }
    assert len(rows) == len(want)
    for r in rows:
        assert (r.root_event_id, r.depth) == want[r.event_id]


# --- q170: last-touch attribution -------------------------------------------


def test_last_touch_attribution_boundaries(spark):
    day_us = 86_400_000_000
    base = 1_600_000_000_000_000
    rows = [
        # user 1: click then purchase 10 days LATER exactly -> attributed
        (1, base, 1, "click", 0.0),
        (1, base + 10 * day_us, 2, "purchase", 5.0),
        # user 2: click 10 days + 1us before purchase -> NOT attributed
        (2, base, 3, "click", 0.0),
        (2, base + 10 * day_us + 1, 4, "purchase", 7.0),
        # user 3: purchase with no prior click -> NOT attributed
        (3, base, 5, "purchase", 9.0),
        # user 4: click AFTER the purchase only -> NOT attributed
        (4, base + day_us, 6, "click", 0.0),
        (4, base, 7, "purchase", 11.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, us long, event_id long, event_type string, value double"
    ).select(
        "user_id", F.timestamp_micros(F.col("us")).alias("ts"),
        "event_id", "event_type", "value",
    )
    from pyspark.sql import Window as W

    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    eus = F.unix_micros(F.col("ts"))
    out = df.withColumn(
        "lc", F.last(F.when(F.col("event_type") == "click", eus),
                     ignorenulls=True).over(w)
    ).filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.when(F.col("lc").isNotNull() & (eus - F.col("lc") <= 10 * day_us), 1)
        .otherwise(0).alias("attributed"),
    )
    got = {r.user_id: r.attributed for r in out.collect()}
    assert got == {1: 1, 2: 0, 3: 0, 4: 0}


# --- q171-q173: TPC-H shapes ------------------------------------------------


def test_tpch_shapes_keep_dims_broadcast(spark):
    import re

    for name in ("q171_local_supplier_volume", "q172_returned_item_ranking",
                 "q173_large_volume_customer"):
        df = entrymod.queries()[name](spark, SF_DIR)
        plan = plan_text(df)
        assert not re.search(r"\bSortMergeJoin\b", plan), name
        assert re.search(r"\bBroadcastHashJoin\b", plan), name


def test_local_supplier_volume_enforces_locality(spark):
    # every contributing (order, line) pair must have supplier nation ==
    # customer nation: recompute one qualifying nation by brute force
    sf = SF_DIR
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
    )
    n_all = joined.count()
    n_local = joined.filter(F.col("s_nationkey") == F.col("c_nationkey")).count()
    assert n_local < n_all  # the locality constraint actually prunes


# --- q174: FIFO allocation --------------------------------------------------


def test_fifo_allocation_invariants(spark):
    rows = entrymod.queries()["q174_fifo_allocation"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.matched == min(r.supply, r.demand)  # FIFO fully allocates
        assert r.unmatched_demand == r.demand - r.matched
        assert r.n_pairs >= 0


def test_fifo_allocation_hand_computed(spark):
    # supply lots 10, 5; demands 7, 6, 2  ->  pairs: (s1,d1)=7, (s1,d2)=3,
    # (s2,d2)=3, (s2,d3)=2 ; matched=15, unmatched demand=0
    rows = [
        (1, "F", 10, 1), (1, "F", 5, 2),
        (1, "O", 7, 1), (1, "O", 6, 2), (1, "O", 2, 3),
    ]
    df = spark.createDataFrame(rows, "part long, side string, qty long, seq long")
    from pyspark.sql import Window as W

    w = (W.partitionBy("part", "side").orderBy("seq")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    iv = df.select("part", "side", "qty", F.sum("qty").over(w).alias("hi")) \
           .select("part", "side", "qty", (F.col("hi") - F.col("qty")).alias("lo"), "hi")
    s = iv.filter(F.col("side") == "F").select(
        "part", F.col("lo").alias("s_lo"), F.col("hi").alias("s_hi"))
    d = iv.filter(F.col("side") == "O").select(
        "part", F.col("lo").alias("d_lo"), F.col("hi").alias("d_hi"))
    alloc = (
        s.join(d, "part")
        .filter((F.col("s_lo") < F.col("d_hi")) & (F.col("d_lo") < F.col("s_hi")))
        .select((F.least("s_hi", "d_hi") - F.greatest("s_lo", "d_lo")).alias("q"))
        .collect()
    )
    assert sorted(r.q for r in alloc) == [2, 3, 3, 7]


# --- q175: PSI drift --------------------------------------------------------


def test_psi_terms_sign_structure(spark):
    rows = entrymod.queries()["q175_psi_drift"](spark, SF_DIR).collect()
    assert len(rows) == 10
    # (a-e)ln(a/e) >= 0 always (both factors share sign): PSI terms are
    # individually non-negative — the standard property that makes PSI a sum
    for r in rows:
        assert r.psi_term >= 0.0, r


# --- q176: weighted sampling (Efraimidis-Spirakis) ---------------------------


def test_weighted_sample_es_is_weight_biased_and_deterministic(spark):
    q = entrymod.queries()["q176_weighted_sample_es"]
    rows = q(spark, SF_DIR).collect()
    again = q(spark, SF_DIR).collect()
    assert [r.doc_id for r in rows] == [r.doc_id for r in again]
    assert len(rows) == 50
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("n_chars") > 0
    )
    avg_all = docs.agg(F.avg("n_chars")).first()[0]
    avg_sample = sum(r.n_chars for r in rows) / len(rows)
    # weight-proportional sampling must pull the mean weight upward
    assert avg_sample > avg_all


# --- q177-q179 ----------------------------------------------------------------


def test_sole_blame_supplier_excludes_shared_blame(spark):
    # order 1: suppliers 10 (latest, alone) and 20 -> 10 blamed
    # order 2: suppliers 10 and 20 tie on the latest date -> nobody blamed
    # order 3: single supplier -> nobody blamed
    rows = [
        (1, 10, "2020-01-05"), (1, 20, "2020-01-02"),
        (2, 10, "2020-02-01"), (2, 20, "2020-02-01"),
        (3, 30, "2020-03-01"),
    ]
    df = spark.createDataFrame(rows, "okey long, skey long, sd string").select(
        "okey", "skey", F.col("sd").cast("date").alias("s_last")
    )
    from pyspark.sql import Window as W

    wo = W.partitionBy("okey")
    ann = df.select(
        "okey", "skey", "s_last",
        F.max("s_last").over(wo).alias("o_last"),
        F.count(F.lit(1)).over(wo).alias("n_supp"),
        F.sum(F.when(F.col("s_last") == F.max("s_last").over(wo), 1)
              .otherwise(0)).over(wo).alias("n_latest"),
    )
    blamed = ann.filter(
        (F.col("n_supp") > 1) & (F.col("n_latest") == 1)
        & (F.col("s_last") == F.col("o_last"))
    ).collect()
    assert [(r.okey, r.skey) for r in blamed] == [(1, 10)]


def test_countmin_never_undercounts(spark):
    rows = entrymod.queries()["q178_countmin_sketch"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.cms_estimate >= r.exact_n
        assert r.overcount == r.cms_estimate - r.exact_n


def test_business_day_formula_known_spans(spark):
    # Thu 1970-01-01 -> Fri 1970-01-02 = 1 business day;
    # Fri 1970-01-02 -> Mon 1970-01-05 = 1; Sat -> Sun = 0;
    # Mon 1970-01-05 -> Mon 1970-01-12 = 5
    rows = [
        ("1970-01-01", "1970-01-02", 1),
        ("1970-01-02", "1970-01-05", 1),
        ("1970-01-03", "1970-01-04", 0),
        ("1970-01-05", "1970-01-12", 5),
        ("1970-01-05", "1970-01-05", 0),
    ]
    df = spark.createDataFrame(rows, "a string, b string, want long").select(
        F.col("a").cast("date").alias("a"), F.col("b").cast("date").alias("b"), "want"
    )
    m1 = F.datediff(F.col("a"), F.lit("1970-01-01").cast("date")).cast("long") + 4
    m2 = F.datediff(F.col("b"), F.lit("1970-01-01").cast("date")).cast("long") + 4

    def wm(x):
        return (F.lit(5) * ((x - x % 7) / 7).cast("long")) + F.least(x % 7, F.lit(5))

    out = df.select("want", (wm(m2) - wm(m1)).alias("got")).collect()
    for r in out:
        assert r.got == r.want, r


# --- q180: rank-biased overlap ------------------------------------------------


def test_rbo_bounds_and_identity(spark):
    row = entrymod.queries()["q180_rbo_ranking_similarity"](spark, SF_DIR).first()
    assert 0.0 <= row.rbo <= 1.0
    assert row.n_depths == row.depth_k == 50
    assert 0 <= row.n_overlap <= 50
    # identical rankings at p=0.9, k=50 give truncated RBO = sum of the
    # full per-depth weights: X_d = d for all d
    want_identity = sum(0.1 * 0.9 ** (d - 1) for d in range(1, 51))
    # our two DIFFERENT rankings must score strictly below the identity
    assert row.rbo < want_identity


# --- q181: compaction plan ----------------------------------------------------


def test_compaction_plan_bins_capped_and_complete(spark):
    rows = entrymod.queries()["q181_compaction_plan"](spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sum(r.n_files for r in rows) == docs.count()
    assert sum(r.bytes for r in rows) == docs.agg(F.sum("n_chars")).first()[0]
    # next-fit binning: a bin only overflows by less than its LAST file,
    # and every file is far below target -> bins stay under target + max_file
    for r in rows:
        assert r.bytes < 4000 + r.max_file


# --- q182-q187: classic TPC-H shapes ------------------------------------------


def test_tpch_q6_and_q14_shapes_zero_shuffle(spark):
    import re

    for name in ("q183_forecast_revenue_change", "q185_promo_revenue_share"):
        df = entrymod.queries()[name](spark, SF_DIR)
        plan = plan_text(df)
        assert not re.search(r"Arguments: (?:hash|range)partitioning", plan), name
        assert "PushedFilters" in plan, name


def test_q182_semi_join_counts_orders_once(spark):
    # an order with MANY late lines still counts once (semi-join, not join)
    rows = entrymod.queries()["q182_order_priority_check"](spark, SF_DIR).collect()
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        (F.col("o_orderdate") >= "1995-07-01") & (F.col("o_orderdate") < "1995-10-01")
    )
    assert sum(r.n_orders for r in rows) <= o.count()


def test_q187_excludes_urgent_customers(spark):
    rows = entrymod.queries()["q187_global_sales_opportunity"](spark, SF_DIR)
    got = rows.agg(F.sum("n_customers")).first()[0] or 0
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    urgent_cust = o.select("o_custkey").distinct().count()
    assert got <= c.count() - 0  # sanity: bounded by customer count
    assert urgent_cust > 0  # the exclusion actually bites on this fixture


# --- q188: entity resolution ----------------------------------------------------


def test_entity_resolution_finds_exactly_the_planted_dupes(spark):
    rows = entrymod.queries()["q188_entity_resolution"](spark, SF_DIR).collect()
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    planted = c.filter(F.col("c_custkey") % 7 == 0).count()
    # every planted dirty copy lands in a 2-record cluster with its original
    assert len(rows) == planted
    for r in rows:
        assert r.n_records == 2
        assert r.canonical % 7 == 0  # canonical is the original record


# --- q189-q190: statistical battery additions -----------------------------------


def test_chi_square_nonnegative_and_v_bounds(spark):
    row = entrymod.queries()["q189_chi_square_independence"](spark, SF_DIR).first()
    assert row.chi2 >= 0.0
    assert 0.0 <= row.cramers_v <= 1.0 + 1e-9
    assert row.dof >= 1


def test_mann_kendall_known_trends(spark):
    # strictly rising -> S = n(n-1)/2; strictly falling -> -n(n-1)/2;
    # constant -> 0
    rows = (
        [(1, i, float(i)) for i in range(6)]        # rising
        + [(2, i, float(10 - i)) for i in range(6)]  # falling
        + [(3, i, 5.0) for i in range(6)]            # constant
    )
    df = spark.createDataFrame(rows, "user_id long, i long, value double")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("i")
    seq = df.select("user_id", "value", F.row_number().over(w).alias("i"))
    a = seq.select("user_id", F.col("value").alias("va"), F.col("i").alias("ia"))
    b = seq.select("user_id", F.col("value").alias("vb"), F.col("i").alias("ib"))
    got = {
        r.user_id: r.s
        for r in a.join(b, "user_id")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("vb") > F.col("va"), 1)
                .when(F.col("vb") < F.col("va"), -1)
                .otherwise(0)
            ).alias("s")
        )
        .collect()
    }
    assert got == {1: 15, 2: -15, 3: 0}


# --- q191-q192 ------------------------------------------------------------------


def test_wilson_interval_properties(spark):
    rows = entrymod.queries()["q191_wilson_interval"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        p = r.conv / r.trials
        assert 0.0 <= r.wilson_lo <= r.wilson_hi <= 1.0
        assert r.wilson_lo - 1e-9 <= p <= r.wilson_hi + 1e-9
        # Wilson never touches the degenerate endpoints unless p does
        if 0 < r.conv < r.trials:
            assert r.wilson_lo > 0.0 and r.wilson_hi < 1.0


def test_mean_inequality_am_gm_hm(spark):
    # arithmetic >= geometric >= harmonic on positive data (strict unless
    # all values in the group are equal)
    rows = entrymod.queries()["q192_geometric_harmonic_means"](
        spark, SF_DIR
    ).collect()
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        F.col("o_totalprice") > 0
    )
    am = {
        r.priority: r.am
        for r in o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.avg("o_totalprice").alias("am"))
        .collect()
    }
    for r in rows:
        assert am[r.priority] >= r.geo_mean >= r.harm_mean > 0


# --- q193: negative sampling ------------------------------------------------------


def test_negative_sampling_contract(spark):
    rows = entrymod.queries()["q193_negative_sampling"](spark, SF_DIR).collect()
    assert rows
    emb = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "label").collect()
    }
    by_anchor = {}
    for r in rows:
        # a negative never shares the anchor's label, and never IS the anchor
        assert emb[r.neg_id] != r.anchor_label
        assert r.neg_id != r.anchor_id
        by_anchor.setdefault(r.anchor_id, []).append(r.neg_rank)
    for ranks in by_anchor.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 2
    # rerun-identical (no RNG state)
    again = entrymod.queries()["q193_negative_sampling"](spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_contrastive_triplets_contract(spark):
    rows = entrymod.queries()["q194_contrastive_triplets"](spark, SF_DIR).collect()
    assert rows
    emb = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "label").collect()
    }
    seen = set()
    for r in rows:
        assert r.anchor_id not in seen  # one triplet per anchor
        seen.add(r.anchor_id)
        assert emb[r.pos_id] == r.anchor_label and r.pos_id != r.anchor_id
        assert emb[r.neg_id] != r.anchor_label
