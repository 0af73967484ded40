"""Eighth-wave query surface (round 4, continued): rank-correlation
statistics on merged histograms, inventory classification, queueing-law
audits, and streaming out-of-orderness planning.

Same contract as queries.py / queries_llm.py / queries_r4.py /
queries_r5.py: every query is exact-oracle-gated against DuckDB at
sf0.01. Recurring exactness tricks: integer cents/microseconds for
anything summed, a single shared IEEE chain for anything ratio-valued,
deterministic tie-breaks on every ORDER BY, and rounding only to
quantize an already-identical double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .queries import _t, register

# ---------------------------------------------------------------------------
# Rank statistics on merged histograms
# ---------------------------------------------------------------------------


@register(
    "q371_kendall_tau",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_quantity) AS BIGINT) AS x,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    cells AS (
      SELECT flag, x, y, CAST(count(*) AS BIGINT) AS n
      FROM pts GROUP BY flag, x, y
    ),
    pairs AS (
      SELECT a.flag,
             CAST(sum(CASE WHEN a.y < b.y THEN a.n * b.n ELSE 0 END) AS BIGINT) AS concordant,
             CAST(sum(CASE WHEN a.y > b.y THEN a.n * b.n ELSE 0 END) AS BIGINT) AS discordant
      FROM cells a JOIN cells b ON a.flag = b.flag AND a.x < b.x
      GROUP BY a.flag
    ),
    xm AS (
      SELECT flag, CAST(sum(t * (t - 1) / 2) AS BIGINT) AS ties_x
      FROM (SELECT flag, x, CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY flag, x)
      GROUP BY flag
    ),
    ym AS (
      SELECT flag, CAST(sum(t * (t - 1) / 2) AS BIGINT) AS ties_y
      FROM (SELECT flag, y, CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY flag, y)
      GROUP BY flag
    ),
    tot AS (
      SELECT flag, CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(sum(n) * (sum(n) - 1) / 2 AS BIGINT) AS n_pairs
      FROM cells GROUP BY flag
    )
    SELECT t.flag AS l_returnflag, t.n_rows, t.n_pairs,
           p.concordant, p.discordant, x.ties_x, y.ties_y,
           round(CAST(p.concordant - p.discordant AS DOUBLE)
                 / (sqrt(CAST(t.n_pairs - x.ties_x AS DOUBLE))
                    * sqrt(CAST(t.n_pairs - y.ties_y AS DOUBLE))), 9) AS tau_b
    FROM tot t
    JOIN pairs p ON t.flag = p.flag
    JOIN xm x ON t.flag = x.flag
    JOIN ym y ON t.flag = y.flag
    ORDER BY l_returnflag
    """,
)
def q371_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between quantity and discount per
    return flag — the tie-robust companion to Spearman (q135), computed
    EXACTLY without an O(n^2) row pair join: quantity (50 levels) and
    discount (11 levels) are histogrammed into joint cells first, then
    concordant/discordant pairs are cell-count products over the tiny
    cell table (<=550 cells per flag, self-joined broadcast). Tie
    corrections come from the cell marginals; every count is BIGINT and
    the tau denominator is one sqrt*sqrt IEEE chain. The merged-histogram
    trick is the same scale shape as Jonckheere (q360): pair work is
    bounded by distinct-value cells, never by rows."""
    li = _t(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.floor("l_quantity").cast("long").alias("x"),
            F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("y"),
        )
        .groupBy("flag", "x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("a.flag") == F.col("b.flag")) & (F.col("a.x") < F.col("b.x")),
        )
        .groupBy(F.col("a.flag").alias("flag"))
        .agg(
            F.sum(
                F.when(F.col("a.y") < F.col("b.y"), F.col("a.n") * F.col("b.n")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("concordant"),
            F.sum(
                F.when(F.col("a.y") > F.col("b.y"), F.col("a.n") * F.col("b.n")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("discordant"),
        )
    )
    xm = (
        cells.groupBy("flag", "x")
        .agg(F.sum("n").cast("long").alias("t"))
        .groupBy("flag")
        .agg((F.sum(F.col("t") * (F.col("t") - 1) / 2)).cast("long").alias("ties_x"))
    )
    ym = (
        cells.groupBy("flag", "y")
        .agg(F.sum("n").cast("long").alias("t"))
        .groupBy("flag")
        .agg((F.sum(F.col("t") * (F.col("t") - 1) / 2)).cast("long").alias("ties_y"))
    )
    tot = cells.groupBy("flag").agg(
        F.sum("n").cast("long").alias("n_rows"),
        (F.sum("n") * (F.sum("n") - 1) / 2).cast("long").alias("n_pairs"),
    )
    tau = (
        (F.col("concordant") - F.col("discordant")).cast("double")
        / (
            F.sqrt((F.col("n_pairs") - F.col("ties_x")).cast("double"))
            * F.sqrt((F.col("n_pairs") - F.col("ties_y")).cast("double"))
        )
    )
    return (
        tot.join(pairs, "flag")
        .join(xm, "flag")
        .join(ym, "flag")
        .select(
            F.col("flag").alias("l_returnflag"),
            "n_rows",
            "n_pairs",
            "concordant",
            "discordant",
            "ties_x",
            "ties_y",
            F.round(tau, 9).alias("tau_b"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Inventory / operations analytics
# ---------------------------------------------------------------------------


@register(
    "q372_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
    ranked AS (
      SELECT r.l_partkey, r.cents, t.total,
             CAST(sum(r.cents) OVER (ORDER BY r.cents DESC, r.l_partkey) AS BIGINT) AS cum
      FROM rev r CROSS JOIN tot t
    ),
    classed AS (
      SELECT CASE WHEN cum * 5 <= total * 4 THEN 'A'
                  WHEN cum * 20 <= total * 19 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents, total
      FROM ranked
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(cents) AS DOUBLE) / 100, 2) AS class_revenue,
           round(CAST(sum(cents) AS DOUBLE) / CAST(max(total) AS DOUBLE), 9)
             AS revenue_share
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
)
def q372_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by discounted revenue,
    class A = the head covering <=80% of cumulative revenue, B = next
    <=95%, C = the tail — the Pareto cut every warehouse slotting and
    cycle-count policy starts from. Class boundaries are EXACT integer
    comparisons (cum*5 <= total*4, cum*20 <= total*19) on cents, so no
    float ever decides a class. One part-level agg, then a cumulative
    window over parts ordered by (revenue desc, partkey); the window is
    single-partition but part-bounded (|parts| ~ |lineitem|/30 — at real
    scale the same cut runs on a range-partitioned sort like q334's
    Lorenz curve). Final class rollup is three rows."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5).cast("long")
        )
        .cast("long")
        .alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("total"))
    wc = W.orderBy(F.desc("cents"), "l_partkey").rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = rev.crossJoin(F.broadcast(tot)).withColumn(
        "cum", F.sum("cents").over(wc).cast("long")
    )
    classed = ranked.select(
        F.when(F.col("cum") * 5 <= F.col("total") * 4, F.lit("A"))
        .when(F.col("cum") * 20 <= F.col("total") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
        "cents",
        "total",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("cents").cast("double") / 100, 2).alias("class_revenue"),
            F.round(
                F.sum("cents").cast("double") / F.max("total").cast("double"), 9
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


@register(
    "q373_littles_law",
    oracle="""
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_orderpriority AS priority,
             date_trunc('day', o.o_orderdate) AS start_day,
             date_trunc('day', max(l.l_shipdate)) AS end_day
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    ),
    a AS (
      SELECT priority, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(date_diff('day', start_day, end_day)) AS BIGINT)
               AS total_open_days,
             CAST(date_diff('day', min(start_day), max(end_day)) AS BIGINT)
               AS span_days
      FROM per_order GROUP BY priority
    ),
    ev AS (
      SELECT priority, day, CAST(sum(delta) AS BIGINT) AS delta
      FROM (
        SELECT priority, start_day AS day, 1 AS delta FROM per_order
        UNION ALL
        SELECT priority, end_day AS day, -1 AS delta FROM per_order
      ) GROUP BY priority, day
    ),
    sweep AS (
      SELECT priority,
             CAST(sum(delta) OVER (PARTITION BY priority ORDER BY day)
                  AS BIGINT) AS wip,
             CAST(date_diff('day', day,
                            lead(day) OVER (PARTITION BY priority ORDER BY day))
                  AS BIGINT) AS gap_days
      FROM ev
    ),
    b AS (
      SELECT priority,
             CAST(sum(wip * gap_days) AS BIGINT) AS wip_integral_days
      FROM sweep WHERE gap_days IS NOT NULL GROUP BY priority
    )
    SELECT a.priority, a.n_orders, a.total_open_days, b.wip_integral_days,
           a.total_open_days = b.wip_integral_days AS identity_ok,
           round(CAST(a.n_orders AS DOUBLE) / a.span_days, 9) AS lambda_per_day,
           round(CAST(a.total_open_days AS DOUBLE) / a.n_orders, 9) AS avg_w_days,
           round(CAST(b.wip_integral_days AS DOUBLE) / a.span_days, 9) AS avg_l_wip
    FROM a JOIN b ON a.priority = b.priority
    ORDER BY a.priority
    """,
)
def q373_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit (L = lambda * W) on the order lifecycle: an
    order is "in system" from order day until its last lineitem ships.
    Side A sums per-order open durations; side B integrates the
    work-in-progress step function with a +1/-1 sweepline (cumulative
    sum over day events x day gaps). The two sides are the SAME integer
    by construction — `identity_ok` certifies the queueing identity
    exactly, the way a warehouse-ops dashboard cross-checks its WIP and
    throughput counters. lambda (orders/day), W (avg days in system) and
    L (avg WIP) are single IEEE divides over the integer sums. Shapes:
    one per-order agg (shuffle on orderkey), one day-level agg, one
    5-partition sweep window."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.col("o_orderpriority").alias("priority"), "o_orderdate")
        .agg(F.max("l_shipdate").alias("end_ts"))
        .select(
            "priority",
            F.date_trunc("day", "o_orderdate").alias("start_day"),
            F.date_trunc("day", "end_ts").alias("end_day"),
        )
    )
    a = per_order.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.datediff("end_day", "start_day")).cast("long").alias("total_open_days"),
        F.datediff(F.max("end_day"), F.min("start_day")).cast("long").alias("span_days"),
    )
    ev = (
        per_order.select("priority", F.col("start_day").alias("day"), F.lit(1).alias("delta"))
        .unionAll(
            per_order.select(
                "priority", F.col("end_day").alias("day"), F.lit(-1).alias("delta")
            )
        )
        .groupBy("priority", "day")
        .agg(F.sum("delta").cast("long").alias("delta"))
    )
    wp = W.partitionBy("priority").orderBy("day")
    sweep = ev.select(
        "priority",
        F.sum("delta").over(wp).cast("long").alias("wip"),
        F.datediff(F.lead("day").over(wp), F.col("day")).cast("long").alias("gap_days"),
    )
    b = (
        sweep.filter(F.col("gap_days").isNotNull())
        .groupBy("priority")
        .agg(F.sum(F.col("wip") * F.col("gap_days")).cast("long").alias("wip_integral_days"))
    )
    return (
        a.join(b, "priority")
        .select(
            "priority",
            "n_orders",
            "total_open_days",
            "wip_integral_days",
            (F.col("total_open_days") == F.col("wip_integral_days")).alias("identity_ok"),
            F.round(F.col("n_orders").cast("double") / F.col("span_days"), 9).alias(
                "lambda_per_day"
            ),
            F.round(F.col("total_open_days").cast("double") / F.col("n_orders"), 9).alias(
                "avg_w_days"
            ),
            F.round(F.col("wip_integral_days").cast("double") / F.col("span_days"), 9).alias(
                "avg_l_wip"
            ),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Streaming operations planning
# ---------------------------------------------------------------------------


@register(
    "q374_watermark_lateness",
    oracle="""
    WITH arr AS (
      SELECT event_type,
             CAST(epoch_us(ts) AS BIGINT) AS us,
             CAST(max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
                  AS BIGINT) AS run_max_us
      FROM events
    ),
    late AS (
      SELECT event_type, run_max_us - us AS lateness_us FROM arr
    ),
    ranked AS (
      SELECT event_type, lateness_us,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY lateness_us) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM late
    ),
    p95 AS (
      SELECT event_type, lateness_us AS p95_lateness_us
      FROM ranked WHERE rn = CAST(ceil(0.95 * n) AS BIGINT)
    ),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(lateness_us) AS BIGINT) AS max_lateness_us,
             CAST(sum(CASE WHEN lateness_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
             CAST(sum(CASE WHEN lateness_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
             CAST(sum(CASE WHEN lateness_us > 300000000 THEN 1 ELSE 0 END) AS BIGINT) AS d300,
             CAST(sum(CASE WHEN lateness_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d3600
      FROM late GROUP BY event_type
    )
    SELECT a.event_type, a.n_events, p.p95_lateness_us, a.max_lateness_us,
           round(CAST(a.d0 AS DOUBLE) / a.n_events, 9) AS drop_pct_0s,
           round(CAST(a.d60 AS DOUBLE) / a.n_events, 9) AS drop_pct_60s,
           round(CAST(a.d300 AS DOUBLE) / a.n_events, 9) AS drop_pct_300s,
           round(CAST(a.d3600 AS DOUBLE) / a.n_events, 9) AS drop_pct_1h
    FROM agg a JOIN p95 p ON a.event_type = p.event_type
    ORDER BY a.event_type
    """,
)
def q374_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark / allowed-lateness planning for the streaming jobs
    (q32/q45/q61): out-of-orderness of each event = running-max event
    time along the ARRIVAL order (event_id per user) minus its own event
    time, in exact integer microseconds. Per event type: the exact p95
    and max lateness order statistics plus the fraction of events a
    watermark of 0s / 60s / 300s / 1h would drop — precisely the table
    an engineer reads before choosing `withWatermark`. The running max
    rides one per-user window shuffle; the drop fractions are
    conditional sums in ONE type-level agg (no 4x candidate explode);
    p95 is a per-type order statistic like q370's VaR."""
    ev = _t(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("event_id")
    # NTZ→LTZ cast is wall-clock-identical under the pinned UTC session
    eus = F.unix_micros(F.col("ts").cast("timestamp"))
    late = ev.select(
        "event_type",
        (F.max(eus).over(wu) - eus).cast("long").alias("lateness_us"),
    )
    wr = W.partitionBy("event_type").orderBy("lateness_us")
    ranked = late.select(
        "event_type",
        "lateness_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    )
    p95 = ranked.filter(
        F.col("rn") == F.ceil(0.95 * F.col("n")).cast("long")
    ).select("event_type", F.col("lateness_us").alias("p95_lateness_us"))

    def dropped(th_us: int, name: str):
        return F.sum(
            F.when(F.col("lateness_us") > th_us, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias(name)

    agg = late.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("lateness_us").cast("long").alias("max_lateness_us"),
        dropped(0, "d0"),
        dropped(60_000_000, "d60"),
        dropped(300_000_000, "d300"),
        dropped(3_600_000_000, "d3600"),
    )
    n = F.col("n_events").cast("double")
    return (
        agg.join(F.broadcast(p95), "event_type")
        .select(
            "event_type",
            "n_events",
            "p95_lateness_us",
            "max_lateness_us",
            F.round(F.col("d0") / n, 9).alias("drop_pct_0s"),
            F.round(F.col("d60") / n, 9).alias("drop_pct_60s"),
            F.round(F.col("d300") / n, 9).alias("drop_pct_300s"),
            F.round(F.col("d3600") / n, 9).alias("drop_pct_1h"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Economic index numbers
# ---------------------------------------------------------------------------


@register(
    "q375_price_indexes",
    oracle="""
    WITH py AS (
      SELECT p.p_brand AS brand, l.l_partkey,
             date_part('year', l.l_shipdate) AS yr,
             CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty,
             CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE date_part('year', l.l_shipdate) IN (1996, 1997)
      GROUP BY brand, l.l_partkey, yr
    ),
    paired AS (
      SELECT b.brand,
             CAST(b.cents AS DOUBLE) / b.qty AS p0, b.qty AS q0,
             CAST(c.cents AS DOUBLE) / c.qty AS p1, c.qty AS q1
      FROM py b JOIN py c
        ON b.brand = c.brand AND b.l_partkey = c.l_partkey
       AND b.yr = 1996 AND c.yr = 1997
    ),
    sums AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n_common_parts,
             CAST(sum(CAST(p1 * q0 AS DECIMAL(38,8))) AS DOUBLE) AS l_num,
             CAST(sum(CAST(p0 * q0 AS DECIMAL(38,8))) AS DOUBLE) AS l_den,
             CAST(sum(CAST(p1 * q1 AS DECIMAL(38,8))) AS DOUBLE) AS p_num,
             CAST(sum(CAST(p0 * q1 AS DECIMAL(38,8))) AS DOUBLE) AS p_den
      FROM paired GROUP BY brand
    )
    SELECT brand, n_common_parts,
           round(l_num / l_den, 9) AS laspeyres,
           round(p_num / p_den, 9) AS paasche,
           round(sqrt((l_num / l_den) * (p_num / p_den)), 9) AS fisher
    FROM sums ORDER BY brand
    """,
)
def q375_price_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indexes per brand, 1996→1997:
    the bilateral index-number trio every CPI and internal
    cost-inflation dashboard reports. Unit prices are one BIGINT/BIGINT
    IEEE divide per (part, year); the index numerators/denominators
    cast each p*q term to DECIMAL(38,8) before summing so engine
    accumulation order can't perturb the totals; Fisher is the
    geometric mean of the two raw (unrounded) ratios. Shapes: one
    (brand, part, year) agg, a self-join on the year pair (both sides
    shrink to parts traded in BOTH years), one brand rollup."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    py = (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(F.year("l_shipdate").isin(1996, 1997))
        .groupBy(
            F.col("p_brand").alias("brand"),
            "l_partkey",
            F.year("l_shipdate").alias("yr"),
        )
        .agg(
            F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("qty"),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    base = py.filter(F.col("yr") == 1996).select(
        "brand",
        "l_partkey",
        (F.col("cents").cast("double") / F.col("qty")).alias("p0"),
        F.col("qty").alias("q0"),
    )
    curr = py.filter(F.col("yr") == 1997).select(
        "brand",
        "l_partkey",
        (F.col("cents").cast("double") / F.col("qty")).alias("p1"),
        F.col("qty").alias("q1"),
    )
    paired = base.join(curr, ["brand", "l_partkey"])
    DEC38 = "decimal(38,8)"
    sums = paired.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_common_parts"),
        F.sum((F.col("p1") * F.col("q0")).cast(DEC38)).cast("double").alias("l_num"),
        F.sum((F.col("p0") * F.col("q0")).cast(DEC38)).cast("double").alias("l_den"),
        F.sum((F.col("p1") * F.col("q1")).cast(DEC38)).cast("double").alias("p_num"),
        F.sum((F.col("p0") * F.col("q1")).cast(DEC38)).cast("double").alias("p_den"),
    )
    lasp = F.col("l_num") / F.col("l_den")
    paas = F.col("p_num") / F.col("p_den")
    return sums.select(
        "brand",
        "n_common_parts",
        F.round(lasp, 9).alias("laspeyres"),
        F.round(paas, 9).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 9).alias("fisher"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# Fulfillment KPIs
# ---------------------------------------------------------------------------


@register(
    "q376_perfect_order_rate",
    oracle="""
    WITH lines AS (
      SELECT o.o_orderkey, o.o_orderpriority AS priority,
             CASE WHEN date_diff('day', date_trunc('day', o.o_orderdate),
                                 date_trunc('day', l.l_shipdate)) <= 30
                  THEN 1 ELSE 0 END AS on_time,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS returned
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    per_order AS (
      SELECT o_orderkey, priority,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(on_time) AS BIGINT) AS n_on_time,
             CAST(max(returned) AS BIGINT) AS any_return
      FROM lines GROUP BY o_orderkey, priority
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(n_lines) AS BIGINT) AS n_lineitems,
           round(CAST(sum(n_on_time) AS DOUBLE) / sum(n_lines), 9) AS fill_rate,
           round(CAST(sum(CASE WHEN n_on_time = n_lines AND any_return = 0
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 9) AS perfect_order_rate
    FROM per_order GROUP BY priority ORDER BY priority
    """,
)
def q376_perfect_order_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line fill rate and perfect-order rate per priority — the two
    fulfillment KPIs every supply-chain scorecard leads with. A line is
    on time if it ships within 30 days of the order date (day-truncated
    integer diff); an order is perfect iff EVERY line is on time and
    none was returned. All counts integer; the two rates are single
    divides. Two stacked aggs (orderkey, then priority) so the all-lines
    quantifier is an exact min/max, never a float."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lines = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.when(
            F.datediff(
                F.date_trunc("day", "l_shipdate"), F.date_trunc("day", "o_orderdate")
            )
            <= 30,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("on_time"),
        F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(F.lit(0)).alias("returned"),
    )
    per_order = lines.groupBy("o_orderkey", "priority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("on_time").cast("long").alias("n_on_time"),
        F.max("returned").cast("long").alias("any_return"),
    )
    return (
        per_order.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_lines").cast("long").alias("n_lineitems"),
            F.round(
                F.sum("n_on_time").cast("double") / F.sum("n_lines"), 9
            ).alias("fill_rate"),
            F.round(
                F.sum(
                    F.when(
                        (F.col("n_on_time") == F.col("n_lines"))
                        & (F.col("any_return") == 0),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("perfect_order_rate"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Corpus tokenization economics + keyword extraction
# ---------------------------------------------------------------------------


@register(
    "q377_tokenizer_fertility",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             CAST(n_chars AS BIGINT) AS chars,
             CAST(strlen(text) AS BIGINT) AS bytes,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws,
             CAST(len(regexp_extract_all(text,
                  ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS BIGINT) AS bpe
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           round(CAST(sum(bpe) AS DOUBLE) / sum(ws), 9) AS fertility,
           round(CAST(sum(bytes) AS DOUBLE) / sum(bpe), 9) AS bytes_per_token,
           round(CAST(sum(chars) AS DOUBLE) / sum(bpe), 9) AS chars_per_token
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def q377_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility and compression per language: BPE-ish tokens
    per whitespace word (fertility — the classic multilingual-tokenizer
    cost metric), bytes per token, and chars per token. These three
    numbers decide how a token training budget actually divides across
    languages, and which languages a tokenizer penalizes. Single scan,
    pure JVM regex columns (the identical RE2-safe pattern runs on both
    engines — operators/text.py BPE_PATTERN), one language agg; ratios
    are single IEEE divides over exact integer sums."""
    from .operators.text import bpe_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.col("n_chars").cast("long").alias("chars"),
        F.octet_length("text").cast("long").alias("bytes"),
        token_count(F.col("text")).cast("long").alias("ws"),
        bpe_token_count(F.col("text")).cast("long").alias("bpe"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bpe").cast("long").alias("bpe_tokens"),
            F.sum("ws").cast("long").alias("ws_tokens"),
            F.round(F.sum("bpe").cast("double") / F.sum("ws"), 9).alias("fertility"),
            F.round(F.sum("bytes").cast("double") / F.sum("bpe"), 9).alias(
                "bytes_per_token"
            ),
            F.round(F.sum("chars").cast("double") / F.sum("bpe"), 9).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


#: RAKE phrase-boundary pattern: stopwords and non-letter runs split candidate
#: phrases. RE2-compatible (no lookahead) so the identical pattern runs in the
#: DuckDB oracle. Applied to lower()ed text.
RAKE_BOUNDARY = r"\s*\b(?:the|a|of|and|to|in|is|it|that|for)\b\s*|[^a-z\s]+"


@register(
    "q378_rake_keywords",
    oracle=f"""
    WITH frags AS (
      SELECT regexp_replace(trim(f), '\\s+', ' ', 'g') AS phrase
      FROM (
        SELECT unnest(string_split_regex(lower(text), '{RAKE_BOUNDARY}')) AS f
        FROM documents
      ) WHERE trim(f) <> ''
    ),
    occ AS (
      SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM frags GROUP BY phrase
    ),
    phrase_words AS (
      SELECT phrase, CAST(len(string_split(phrase, ' ')) AS BIGINT) AS n_words,
             unnest(string_split(phrase, ' ')) AS w
      FROM (SELECT DISTINCT phrase FROM frags)
    ),
    word_stats AS (
      SELECT w,
             CAST(sum(p.n_occurrences) AS BIGINT) AS freq,
             CAST(sum(p.n_occurrences * pw.n_words) AS BIGINT) AS degree
      FROM (SELECT phrase, n_words, w FROM phrase_words) pw
      JOIN occ p USING (phrase)
      GROUP BY w
    ),
    scored AS (
      SELECT pw.phrase, max(pw.n_words) AS n_words,
             CAST(sum(CAST(CAST(ws.degree AS DOUBLE) / ws.freq
                           AS DECIMAL(38,8))) AS DOUBLE) AS rake_score
      FROM phrase_words pw JOIN word_stats ws ON pw.w = ws.w
      GROUP BY pw.phrase
    )
    SELECT s.phrase, s.n_words, o.n_occurrences,
           round(s.rake_score, 8) AS rake_score
    FROM scored s JOIN occ o USING (phrase)
    ORDER BY rake_score DESC, phrase LIMIT 20
    """,
)
def q378_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free word runs (found by
    SPLITTING on a stopword/punctuation boundary regex — no positional
    bookkeeping needed), word degree = occurrence-weighted sum of the
    lengths of phrases containing the word, word score = degree/freq,
    phrase score = sum of member word scores. Occurrence weighting uses
    the phrase multiset, so a phrase appearing 100x contributes 100x to
    its words' degree/freq — the standard corpus-level RAKE. Each word
    score is one IEEE divide; the phrase-score sum goes through
    DECIMAL(38,8) so addition order can't perturb it. Shapes: fragment
    explode (flatMap-like, no shuffle), one word agg, one phrase agg, a
    broadcast-joinable word-stats table, top-20 TOAP."""
    d = _t(spark, sf_dir, "documents")
    frags = (
        d.select(
            F.explode(F.split(F.lower("text"), RAKE_BOUNDARY)).alias("f")
        )
        .select(F.regexp_replace(F.trim("f"), r"\s+", " ").alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    occ = frags.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occurrences"))
    phrase_words = occ.select(
        "phrase",
        "n_occurrences",
        F.size(F.split("phrase", " ")).cast("long").alias("n_words"),
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    word_stats = phrase_words.groupBy("w").agg(
        F.sum("n_occurrences").cast("long").alias("freq"),
        F.sum(F.col("n_occurrences") * F.col("n_words")).cast("long").alias("degree"),
    )
    scored = (
        phrase_words.join(F.broadcast(word_stats), "w")
        .groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.sum(
                (F.col("degree").cast("double") / F.col("freq")).cast("decimal(38,8)")
            )
            .cast("double")
            .alias("rake_score"),
        )
    )
    return (
        scored.join(occ, "phrase")
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            F.round("rake_score", 8).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Density clustering / robust statistics / supply-chain dynamics
# ---------------------------------------------------------------------------


@register(
    "q379_dbscan_grid",
    oracle="""
    WITH RECURSIVE pts AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings
    ),
    nbrs AS (
      SELECT a.vec_id AS pa, b.vec_id AS pb
      FROM pts a JOIN pts b
        ON abs(floor(a.x / 0.02) - floor(b.x / 0.02)) <= 1
       AND abs(floor(a.y / 0.02) - floor(b.y / 0.02)) <= 1
       AND a.vec_id <> b.vec_id
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             <= 0.02 * 0.02
    ),
    ncount AS (
      SELECT pa AS vec_id, CAST(count(*) + 1 AS BIGINT) AS n_neighbors
      FROM nbrs GROUP BY pa
    ),
    cores AS (SELECT vec_id FROM ncount WHERE n_neighbors >= 3),
    core_edges AS (
      SELECT n.pa AS a, n.pb AS b FROM nbrs n
      JOIN cores c1 ON n.pa = c1.vec_id
      JOIN cores c2 ON n.pb = c2.vec_id
    ),
    reach(node, lbl) AS (
      SELECT a, a FROM core_edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN core_edges e ON e.a = r.node
    ),
    core_cluster AS (
      SELECT c.vec_id, CAST(coalesce(min(r.lbl), c.vec_id) AS BIGINT)
               AS cluster_id
      FROM cores c LEFT JOIN reach r ON r.node = c.vec_id
      GROUP BY c.vec_id
    ),
    border AS (
      SELECT n.pa AS vec_id, CAST(min(cc.cluster_id) AS BIGINT) AS cluster_id
      FROM nbrs n JOIN core_cluster cc ON n.pb = cc.vec_id
      WHERE n.pa NOT IN (SELECT vec_id FROM cores)
      GROUP BY n.pa
    )
    SELECT p.vec_id,
           CASE WHEN cc.vec_id IS NOT NULL THEN 'core'
                WHEN b.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(coalesce(cc.cluster_id, b.cluster_id, -1) AS BIGINT)
             AS cluster_id
    FROM pts p
    LEFT JOIN core_cluster cc ON p.vec_id = cc.vec_id
    LEFT JOIN border b ON p.vec_id = b.vec_id
    ORDER BY p.vec_id
    """,
)
def q379_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed DBSCAN over the embedding table's first two
    coordinates (eps=0.02, minPts=3): candidate neighbor pairs come from
    a 9-cell grid equi-join (each point probes its 3x3 cell
    neighborhood — the q320 spatial-join shape, NEVER an all-pairs
    cross join), exact distance filters them, core points have >=3
    neighbors incl. self, clusters are connected components over
    core-core edges (min-label = min vec_id, deterministic), border
    points adopt the min cluster among adjacent cores, the rest is
    noise (-1). The density-based family none of the k-means/LSH
    clustering queries cover; at 100 TB the grid join is a bounded
    equi-join on cell keys and the CC runs on the (far smaller)
    core-edge list. Eps-ball chains make this graph HIGH-diameter
    (unlike near-dup clusters), so the CC must be the alternating
    large-star/small-star engine — plain min-label propagation needs
    diameter-many rounds and provably fails here (caught by the oracle
    gate: the sf0.01 chain exceeds 25 hops)."""
    from .operators.graph import connected_components_star

    eps, min_pts = 0.02, 3
    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    cell = lambda c: F.floor(c / eps).cast("long")  # noqa: E731
    probe = pts.select(
        F.col("vec_id").alias("pa"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cell(F.col("x")) + dx).alias("cx"),
                        (cell(F.col("y")) + dy).alias("cy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("cell"),
    )
    build = pts.select(
        F.col("vec_id").alias("pb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.struct(cell(F.col("x")).alias("cx"), cell(F.col("y")).alias("cy")).alias("cell"),
    )
    dx, dy = F.col("xa") - F.col("xb"), F.col("ya") - F.col("yb")
    # the grid-join pair list feeds FOUR consumers (neighbor counts, core
    # edges, border assignment, final roles) — pin it once, like the CC
    # engines pin their edge lists, so the explode-join runs a single time
    nbrs = (
        probe.join(build, "cell")
        .filter((F.col("pa") != F.col("pb")) & (dx * dx + dy * dy <= eps * eps))
        .select("pa", "pb")
        .localCheckpoint(eager=False)
    )
    ncount = nbrs.groupBy(F.col("pa").alias("vec_id")).agg(
        (F.count(F.lit(1)) + 1).cast("long").alias("n_neighbors")
    )
    cores = ncount.filter(F.col("n_neighbors") >= min_pts).select("vec_id")
    core_edges = (
        nbrs.join(cores.withColumnRenamed("vec_id", "pa"), "pa")
        .join(cores.withColumnRenamed("vec_id", "pb"), "pb")
        .select("pa", "pb")
    )
    # the grid join emits each (pa, pb) ordered pair exactly once (one
    # build cell per point), so the edge rows are already distinct — skip
    # the engine's init dedup exchange
    cc = connected_components_star(core_edges, "pa", "pb", assume_distinct=True)
    # isolated cores (no core neighbor) keep their own id as cluster
    core_cluster = (
        cores.join(cc, cores.vec_id == cc.node, "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", "vec_id").cast("long").alias("cluster_id"),
        )
    )
    border = (
        nbrs.join(
            core_cluster.withColumnRenamed("vec_id", "pb").withColumnRenamed(
                "cluster_id", "core_cluster"
            ),
            "pb",
        )
        .join(cores.withColumnRenamed("vec_id", "pa"), "pa", "left_anti")
        .groupBy(F.col("pa").alias("vec_id"))
        .agg(F.min("core_cluster").cast("long").alias("border_cluster"))
    )
    return (
        pts.select("vec_id")
        .join(core_cluster.withColumnRenamed("cluster_id", "ccl"), "vec_id", "left")
        .join(border, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("ccl").isNotNull(), F.lit("core"))
            .when(F.col("border_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("ccl", "border_cluster", F.lit(-1)).cast("long").alias("cluster_id"),
        )
        .orderBy("vec_id")
    )


@register(
    "q380_newsvendor",
    oracle="""
    WITH daily AS (
      SELECT p.p_brand AS brand, date_trunc('day', l.l_shipdate) AS d,
             CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS demand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY brand, d
    ),
    ranked AS (
      SELECT brand, demand,
             row_number() OVER (PARTITION BY brand ORDER BY demand, d) AS rn,
             count(*) OVER (PARTITION BY brand) AS n
      FROM daily
    ),
    qstar AS (
      SELECT brand, demand AS q_star, n AS n_days
      FROM ranked WHERE rn = CAST(ceil(0.9 * n) AS BIGINT)
    ),
    cost AS (
      SELECT d.brand,
             CAST(sum(CASE WHEN q.q_star > d.demand
                           THEN q.q_star - d.demand ELSE 0 END) AS BIGINT)
               AS overage_units,
             CAST(sum(CASE WHEN d.demand > q.q_star
                           THEN d.demand - q.q_star ELSE 0 END) AS BIGINT)
               AS underage_units
      FROM daily d JOIN qstar q ON d.brand = q.brand
      GROUP BY d.brand
    )
    SELECT q.brand, q.n_days, q.q_star,
           c.overage_units, c.underage_units,
           round((CAST(c.overage_units AS DOUBLE) * 1
                  + CAST(c.underage_units AS DOUBLE) * 9) / q.n_days, 9)
             AS expected_cost_per_day
    FROM qstar q JOIN cost c ON q.brand = c.brand
    ORDER BY q.brand
    """,
)
def q380_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking level per brand: with underage cost 9 and
    overage cost 1 the critical fractile is 0.9, so the optimal order
    quantity q* is the EXACT empirical 0.9-quantile order statistic of
    daily demand (never an interpolated percentile — engine conventions
    differ), and the expected daily cost at q* is the integer-exact
    over/under unit tally weighted by the two costs. Complements
    q367's normal-approximation safety stock with the distribution-free
    optimum. One daily agg + one per-brand rank window + one cost agg."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    daily = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("day", "l_shipdate").alias("d"),
        )
        .agg(F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("demand"))
    )
    wb = W.partitionBy("brand").orderBy("demand", "d")
    ranked = daily.select(
        "brand",
        "demand",
        F.row_number().over(wb).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("brand")).alias("n"),
    )
    qstar = ranked.filter(
        F.col("rn") == F.ceil(0.9 * F.col("n")).cast("long")
    ).select("brand", F.col("demand").alias("q_star"), F.col("n").alias("n_days"))
    cost = (
        daily.join(F.broadcast(qstar), "brand")
        .groupBy("brand")
        .agg(
            F.sum(
                F.when(
                    F.col("q_star") > F.col("demand"), F.col("q_star") - F.col("demand")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("overage_units"),
            F.sum(
                F.when(
                    F.col("demand") > F.col("q_star"), F.col("demand") - F.col("q_star")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("underage_units"),
        )
    )
    return (
        qstar.join(cost, "brand")
        .select(
            "brand",
            "n_days",
            "q_star",
            "overage_units",
            "underage_units",
            F.round(
                (
                    F.col("overage_units").cast("double") * 1
                    + F.col("underage_units").cast("double") * 9
                )
                / F.col("n_days"),
                9,
            ).alias("expected_cost_per_day"),
        )
        .orderBy("brand")
    )


@register(
    "q381_huber_irls",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY event_type, d
    ),
    mom AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(cents * cents) AS BIGINT) AS ss
      FROM daily GROUP BY event_type
    ),
    init AS (
      SELECT event_type, n,
             CAST(s AS DOUBLE) / n AS m,
             1.345 * sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                          / (n - 1)) AS c
      FROM mom
    ),
    it1 AS (
      SELECT d.event_type, i.n, i.c,
             CAST(sum(CAST(least(1.0, i.c / abs(d.cents - i.m)) * d.cents
                           AS DECIMAL(38,8))) AS DOUBLE)
             / CAST(sum(CAST(least(1.0, i.c / abs(d.cents - i.m))
                             AS DECIMAL(38,8))) AS DOUBLE) AS m
      FROM daily d JOIN init i USING (event_type)
      GROUP BY d.event_type, i.n, i.c
    ),
    it2 AS (
      SELECT d.event_type, i.n, i.c,
             CAST(sum(CAST(least(1.0, i.c / abs(d.cents - i.m)) * d.cents
                           AS DECIMAL(38,8))) AS DOUBLE)
             / CAST(sum(CAST(least(1.0, i.c / abs(d.cents - i.m))
                             AS DECIMAL(38,8))) AS DOUBLE) AS m
      FROM daily d JOIN it1 i USING (event_type)
      GROUP BY d.event_type, i.n, i.c
    ),
    it3 AS (
      SELECT d.event_type, i.n, i.c,
             CAST(sum(CAST(least(1.0, i.c / abs(d.cents - i.m)) * d.cents
                           AS DECIMAL(38,8))) AS DOUBLE)
             / CAST(sum(CAST(least(1.0, i.c / abs(d.cents - i.m))
                             AS DECIMAL(38,8))) AS DOUBLE) AS m
      FROM daily d JOIN it2 i USING (event_type)
      GROUP BY d.event_type, i.n, i.c
    )
    SELECT i.event_type, i.n AS n_days,
           round(CAST(m0.s AS DOUBLE) / m0.n / 100, 9) AS mean_dollars,
           round(i.m / 100, 9) AS huber_dollars,
           round(i.c / 100, 9) AS tuning_c_dollars
    FROM it3 i JOIN mom m0 USING (event_type)
    ORDER BY i.event_type
    """,
)
def q381_huber_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of daily event value per type via 3 pinned IRLS
    iterations: weights w = min(1, c/|x - m|) with the classic c =
    1.345*sd (sd from exact BIGINT moments), m updated as the weighted
    mean. The robust-location family between the mean and the median
    (q107/q161 cover MAD/medians; this is the smooth compromise that
    downweights outlier days instead of discarding them). Each
    iteration's weighted sums route through DECIMAL(38,8) per term so
    accumulation order can't perturb m, and the iteration COUNT is
    pinned (3), not convergence-tested — both engines run the identical
    unrolled chain. Spark side: the <=5-row (type, m, c) table is
    localCheckpoint-pinned per round (the IPF/EM lesson) so analysis
    doesn't go exponential."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("long").alias("cents")
    )
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss"),
    )
    css = F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")
    cur = mom.select(
        "event_type",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("m"),
        (1.345 * F.sqrt(css / (F.col("n") - 1))).alias("c"),
    ).localCheckpoint(eager=False)
    for _ in range(3):
        w = F.least(F.lit(1.0), F.col("c") / F.abs(F.col("cents") - F.col("m")))
        cur = (
            daily.join(F.broadcast(cur), "event_type")
            .groupBy("event_type", "n", "c")
            .agg(
                (
                    F.sum((w * F.col("cents")).cast("decimal(38,8)")).cast("double")
                    / F.sum(w.cast("decimal(38,8)")).cast("double")
                ).alias("m")
            )
            .localCheckpoint(eager=False)
        )
    return (
        cur.join(mom.select("event_type", "s"), "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.round(F.col("s").cast("double") / F.col("n") / 100, 9).alias("mean_dollars"),
            F.round(F.col("m") / 100, 9).alias("huber_dollars"),
            F.round(F.col("c") / 100, 9).alias("tuning_c_dollars"),
        )
        .orderBy("event_type")
    )


@register(
    "q382_bullwhip_effect",
    oracle="""
    WITH placed AS (
      SELECT p.p_brand AS brand, date_trunc('week', o.o_orderdate) AS wk,
             CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY brand, wk
    ),
    shipped AS (
      SELECT p.p_brand AS brand, date_trunc('week', l.l_shipdate) AS wk,
             CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY brand, wk
    ),
    mp AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(qty) AS BIGINT) AS s, CAST(sum(qty * qty) AS BIGINT) AS ss
      FROM placed GROUP BY brand
    ),
    ms AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(qty) AS BIGINT) AS s, CAST(sum(qty * qty) AS BIGINT) AS ss
      FROM shipped GROUP BY brand
    )
    SELECT mp.brand,
           mp.n AS n_weeks_placed, ms.n AS n_weeks_shipped,
           round(((CAST(mp.ss AS DOUBLE) - CAST(mp.s AS DOUBLE) * mp.s / mp.n)
                  / (mp.n - 1))
                 / ((CAST(mp.s AS DOUBLE) / mp.n) * (CAST(mp.s AS DOUBLE) / mp.n)),
                 9) AS cv2_placed,
           round(((CAST(ms.ss AS DOUBLE) - CAST(ms.s AS DOUBLE) * ms.s / ms.n)
                  / (ms.n - 1))
                 / ((CAST(ms.s AS DOUBLE) / ms.n) * (CAST(ms.s AS DOUBLE) / ms.n)),
                 9) AS cv2_shipped,
           round((((CAST(mp.ss AS DOUBLE) - CAST(mp.s AS DOUBLE) * mp.s / mp.n)
                   / (mp.n - 1))
                  / ((CAST(mp.s AS DOUBLE) / mp.n) * (CAST(mp.s AS DOUBLE) / mp.n)))
                 / (((CAST(ms.ss AS DOUBLE) - CAST(ms.s AS DOUBLE) * ms.s / ms.n)
                     / (ms.n - 1))
                    / ((CAST(ms.s AS DOUBLE) / ms.n) * (CAST(ms.s AS DOUBLE) / ms.n))),
                 9) AS bullwhip_ratio
    FROM mp JOIN ms ON mp.brand = ms.brand
    ORDER BY mp.brand
    """,
)
def q382_bullwhip_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bullwhip-effect measure per brand: squared coefficient of
    variation of weekly ORDERED quantity (demand signal, bucketed by
    order date) over weekly SHIPPED quantity (fulfillment signal,
    bucketed by ship date) — CV²(upstream)/CV²(downstream) > 1 is the
    classic demand-amplification diagnostic (Lee et al. 1997). Both
    variances come from exact BIGINT moment sums over week buckets; the
    CV² and ratio are one shared IEEE chain replicated on both engines.
    Two three-way-join aggs (dims broadcast) + one brand join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    qty = F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("qty")
    placed = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("week", "o_orderdate").alias("wk"),
        )
        .agg(qty)
    )
    shipped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("week", "l_shipdate").alias("wk"),
        )
        .agg(qty)
    )

    def moments(df):
        return df.groupBy("brand").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qty").cast("long").alias("s"),
            F.sum(F.col("qty") * F.col("qty")).cast("long").alias("ss"),
        )

    def cv2(n, s, ss):
        mean = s.cast("double") / n
        var = (ss.cast("double") - s.cast("double") * s / n) / (n - 1)
        return var / (mean * mean)

    mp = moments(placed).select(
        "brand", F.col("n").alias("np"), F.col("s").alias("sp"), F.col("ss").alias("ssp")
    )
    ms = moments(shipped).select(
        "brand", F.col("n").alias("ns"), F.col("s").alias("sss"), F.col("ss").alias("sss2")
    )
    cp = cv2(F.col("np"), F.col("sp"), F.col("ssp"))
    cs = cv2(F.col("ns"), F.col("sss"), F.col("sss2"))
    return (
        mp.join(ms, "brand")
        .select(
            "brand",
            F.col("np").alias("n_weeks_placed"),
            F.col("ns").alias("n_weeks_shipped"),
            F.round(cp, 9).alias("cv2_placed"),
            F.round(cs, 9).alias("cv2_shipped"),
            F.round(cp / cs, 9).alias("bullwhip_ratio"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# SQL-surface parity / demand patterns / ranking eval / TextRank
# ---------------------------------------------------------------------------

_Q383_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
             AS n_deep_discount,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8)))
                FILTER (WHERE l_discount > 0.05) AS DOUBLE)
             AS deep_discount_revenue
    FROM {lineitem}
    GROUP BY ALL
    ORDER BY ALL
"""


@register("q383_groupby_all_parity", oracle=_Q383_SQL.format(lineitem="lineitem"))
def q383_groupby_all_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern-SQL surface parity: GROUP BY ALL + ORDER BY ALL + aggregate
    FILTER clauses in ONE SQL text executed by BOTH engines' SQL front
    ends (the q355 native-recursion pattern). Pins that Catalyst's
    ALL-resolution (non-aggregate select items become grouping keys,
    ORDER BY ALL = select order) and its FILTER-clause rewrite to
    conditional aggregation agree with DuckDB's — the dialect features a
    user migrating ad-hoc DuckDB analytics onto the cluster engine will
    hit first. DECIMAL(38,8) accumulators per the determinism contract."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("q383_lineitem")
    return spark.sql(_Q383_SQL.format(lineitem="q383_lineitem"))


@register(
    "q384_demand_classification",
    oracle="""
    WITH weekly AS (
      SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY l_partkey, wk
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS k,
             CAST(date_diff('day', min(wk), max(wk)) / 7 + 1 AS BIGINT) AS s_weeks,
             CAST(sum(qty) AS BIGINT) AS s,
             CAST(sum(qty * qty) AS BIGINT) AS ss
      FROM weekly GROUP BY l_partkey
    ),
    classed AS (
      SELECT l_partkey,
             CAST(s_weeks AS DOUBLE) / k AS adi,
             CAST(k * (k * ss - s * s) AS DOUBLE) / ((k - 1) * s * s) AS cv2,
             CASE WHEN s_weeks * 100 >= 132 * k THEN
                    CASE WHEN k * (k * ss - s * s) * 100 >= 49 * (k - 1) * s * s
                         THEN 'lumpy' ELSE 'intermittent' END
                  ELSE
                    CASE WHEN k * (k * ss - s * s) * 100 >= 49 * (k - 1) * s * s
                         THEN 'erratic' ELSE 'smooth' END
             END AS demand_class
      FROM per_part WHERE k >= 2
    )
    SELECT demand_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM classed), 9) AS share,
           round(CAST(sum(CAST(adi AS DECIMAL(38,8))) AS DOUBLE) / count(*), 9)
             AS avg_adi,
           round(CAST(sum(CAST(cv2 AS DECIMAL(38,8))) AS DOUBLE) / count(*), 9)
             AS avg_cv2
    FROM classed GROUP BY demand_class ORDER BY demand_class
    """,
)
def q384_demand_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos-Boylan demand-pattern classification per part:
    ADI (average inter-demand interval = span weeks / demand weeks) and
    CV² of nonzero weekly demand cut the catalog into smooth /
    intermittent / erratic / lumpy quadrants at the published 1.32 and
    0.49 thresholds — the classifier that decides which parts get
    Croston-style forecasting instead of exponential smoothing. BOTH
    threshold tests are exact integer cross-multiplications
    (s_weeks*100 >= 132*k; k(k·ss−s²)·100 >= 49(k−1)s²), so no float
    ever decides a class; the reported per-class ADI/CV² means go
    through DECIMAL(38,8). One weekly agg + one part agg + 4-row rollup."""
    li = _t(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("wk")
    ).agg(F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("qty"))
    per_part = weekly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("k"),
        (F.datediff(F.max("wk"), F.min("wk")) / 7 + 1).cast("long").alias("s_weeks"),
        F.sum("qty").cast("long").alias("s"),
        F.sum(F.col("qty") * F.col("qty")).cast("long").alias("ss"),
    ).filter(F.col("k") >= 2)
    k, s, ss, sw = F.col("k"), F.col("s"), F.col("ss"), F.col("s_weeks")
    cv2_num = k * (k * ss - s * s)
    cv2_den = (k - 1) * s * s
    classed = per_part.select(
        (sw.cast("double") / k).alias("adi"),
        (cv2_num.cast("double") / cv2_den).alias("cv2"),
        F.when(
            sw * 100 >= 132 * k,
            F.when(cv2_num * 100 >= 49 * cv2_den, F.lit("lumpy")).otherwise(
                F.lit("intermittent")
            ),
        )
        .otherwise(
            F.when(cv2_num * 100 >= 49 * cv2_den, F.lit("erratic")).otherwise(
                F.lit("smooth")
            )
        )
        .alias("demand_class"),
    )
    total = classed.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        classed.groupBy("demand_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("adi").cast("decimal(38,8)")).cast("double").alias("adi_sum"),
            F.sum(F.col("cv2").cast("decimal(38,8)")).cast("double").alias("cv2_sum"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "demand_class",
            "n_parts",
            F.round(F.col("n_parts").cast("double") / F.col("n_total"), 9).alias("share"),
            F.round(F.col("adi_sum") / F.col("n_parts"), 9).alias("avg_adi"),
            F.round(F.col("cv2_sum") / F.col("n_parts"), 9).alias("avg_cv2"),
        )
        .orderBy("demand_class")
    )


@register(
    "q385_average_precision",
    oracle="""
    WITH vecs AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    comps AS (
      SELECT label, dim, CAST(sum(CAST(v AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS csum,
             CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT label, generate_subscripts(e, 1) AS dim, unnest(e) AS v FROM vecs
      ) GROUP BY label, dim
    ),
    centroids AS (
      SELECT label AS q_label,
             list(CAST(csum AS DOUBLE) / n ORDER BY dim) AS c
      FROM comps GROUP BY label
    ),
    scored AS (
      SELECT c.q_label, v.vec_id, v.label,
             list_reduce(list_transform(list_zip(c.c, v.e),
                                        p -> p[1] * p[2]),
                         (a, b) -> a + b) AS score
      FROM centroids c CROSS JOIN vecs v
    ),
    ranked AS (
      SELECT q_label, vec_id,
             CASE WHEN label = q_label THEN 1 ELSE 0 END AS rel,
             row_number() OVER (PARTITION BY q_label
                                ORDER BY score DESC, vec_id) AS rk
      FROM scored
    ),
    cum AS (
      SELECT q_label, rel, rk,
             CAST(sum(rel) OVER (PARTITION BY q_label ORDER BY rk)
                  AS BIGINT) AS cum_rel
      FROM ranked
    )
    SELECT q_label AS label,
           CAST(sum(rel) AS BIGINT) AS n_relevant,
           round(CAST(sum(CASE WHEN rel = 1
                     THEN CAST(CAST(cum_rel AS DOUBLE) / rk AS DECIMAL(38,8))
                     ELSE CAST(0 AS DECIMAL(38,8)) END) AS DOUBLE)
                 / sum(rel), 9) AS average_precision
    FROM cum GROUP BY q_label ORDER BY label
    """,
)
def q385_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-average-precision components per label: retrieve the whole
    corpus ranked by dot-product similarity to each label's EXACT
    centroid (per-dimension DECIMAL sums — float centroid averaging is
    accumulation-order-dependent), mark same-label rows relevant, and
    compute AP = mean of precision@k at each relevant rank. AP is the
    area under the P-R curve — the eval complement to NDCG (q217) and
    the Mann-Whitney AUC (q258). The dot product folds dims
    left-to-right identically on both engines (q21's idiom); each P@k
    routes through DECIMAL(38,8) before the per-label sum. Shapes: one
    posexplode agg (#labels × dim rows), a broadcast centroid × corpus
    join, one rank window per label."""
    emb = _t(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    comps = (
        vecs.select("label", F.posexplode("e").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.sum(F.col("v").cast("decimal(38,8)")).alias("csum"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    centroids = (
        comps.groupBy(F.col("label").alias("q_label"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "dim", (F.col("csum").cast("double") / F.col("n")).alias("cv")
                        )
                    )
                ),
                lambda st: st.getField("cv"),
            ).alias("c")
        )
    )
    scored = F.broadcast(centroids).crossJoin(vecs).select(
        "q_label",
        "vec_id",
        "label",
        F.aggregate(
            F.zip_with("c", "e", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    wq = W.partitionBy("q_label").orderBy(F.desc("score"), "vec_id")
    ranked = scored.select(
        "q_label",
        F.when(F.col("label") == F.col("q_label"), F.lit(1)).otherwise(F.lit(0)).alias("rel"),
        F.row_number().over(wq).alias("rk"),
    )
    cum = ranked.select(
        "q_label",
        "rel",
        "rk",
        F.sum("rel").over(W.partitionBy("q_label").orderBy("rk")).cast("long").alias("cum_rel"),
    )
    return (
        cum.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.sum("rel").cast("long").alias("n_relevant"),
            F.round(
                F.sum(
                    F.when(
                        F.col("rel") == 1,
                        (F.col("cum_rel").cast("double") / F.col("rk")).cast(
                            "decimal(38,8)"
                        ),
                    ).otherwise(F.lit(0).cast("decimal(38,8)"))
                ).cast("double")
                / F.sum("rel"),
                9,
            ).alias("average_precision"),
        )
        .orderBy("label")
    )


def _q386_oracle() -> str:
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
    tp = f"(15 * ({PR_SCALE} // (SELECT n FROM params))) // 100"
    its = ",".join(
        iter_cte.format(i=i, prev=i - 1 if i > 1 else "0", tp=tp)
        for i in range(1, 4)
    )
    return f"""
    WITH w AS (
      SELECT regexp_extract_all(lower(text), '[a-z]{{3,}}') AS w
      FROM documents
    ),
    z AS (
      SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p
      FROM w WHERE len(w) >= 2
    ),
    e0 AS (SELECT p[1] AS s, p[2] AS d FROM z WHERE p[1] <> p[2]),
    e AS (
      SELECT DISTINCT s, d FROM (
        SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0
      )
    ),
    nodes AS (SELECT DISTINCT s AS node FROM e UNION SELECT DISTINCT d FROM e),
    params AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
    it0 AS (SELECT node, {PR_SCALE} // (SELECT n FROM params) AS rank_fp
            FROM nodes),
    {its}
    SELECT node AS word, rank_fp FROM it3
    ORDER BY rank_fp DESC, word LIMIT 30
    """


@register("q386_textrank_keywords", oracle=_q386_oracle())
def q386_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    the word-adjacency graph (distinct symmetrized bigram edges, words =
    lowercase alpha runs of >=3 chars), 3 pinned power iterations at
    d=0.85 in BIGINT fixed-point (operators/graph.py:pagerank_fixed_point
    — float PageRank can never be exact-oracle-gated), top-30 words.
    The graph-centrality complement to the frequency-based extractors
    (TF-IDF q53, RAKE q378, keyness q346): a word ranks high when its
    NEIGHBORS are central, not when it is merely frequent. Edge build is
    one zip_with over token arrays (no shuffle); the iteration is the
    q100 machinery — per round one join onto the edge list + one
    groupBy(dst), both edge-count-sized."""
    from .operators.graph import pagerank_fixed_point

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]{3,}"), 0).alias("w")
    ).filter(F.size("w") >= 2)
    pairs = words.select(
        F.explode(
            F.zip_with(
                F.slice("w", 1, F.size("w") - 1),
                F.slice("w", 2, F.size("w") - 1),
                lambda a, b: F.struct(a.alias("s"), b.alias("d")),
            )
        ).alias("p")
    ).select("p.s", "p.d").filter(F.col("s") != F.col("d"))
    edges = pairs.unionByName(pairs.select(F.col("d").alias("s"), F.col("s").alias("d")))
    pr = pagerank_fixed_point(edges, "s", "d", iterations=3)
    return (
        pr.select(F.col("node").alias("word"), "rank_fp")
        .orderBy(F.desc("rank_fp"), "word")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Intermittent-demand forecasting / policy matrices / seeded centrality /
# association rules
# ---------------------------------------------------------------------------


@register(
    "q387_croston_forecast",
    oracle="""
    WITH weekly AS (
      SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY l_partkey, wk
    ),
    seqs AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS k,
             list(CAST(qty AS DOUBLE) ORDER BY wk) AS zs,
             list(CAST(epoch(wk) AS DOUBLE) ORDER BY wk) AS ts
      FROM weekly GROUP BY l_partkey HAVING count(*) >= 2
    ),
    folded AS (
      SELECT l_partkey, k,
             list_reduce(zs, (s, x) -> 0.5 * x + 0.5 * s) AS z_hat,
             list_reduce(
               list_transform(range(2, CAST(len(ts) + 1 AS BIGINT)),
                              i -> (ts[i] - ts[i-1]) / 604800.0),
               (s, x) -> 0.5 * x + 0.5 * s) AS i_hat
      FROM seqs
    )
    SELECT l_partkey, k AS n_demand_weeks,
           round(z_hat, 9) AS smoothed_demand,
           round(i_hat, 9) AS smoothed_interval_weeks,
           round(z_hat / i_hat, 9) AS croston_rate
    FROM folded
    ORDER BY croston_rate DESC, l_partkey LIMIT 50
    """,
)
def q387_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand (the forecaster q384's
    classifier routes lumpy/intermittent parts to): two coupled EWMA
    recurrences (alpha=0.5) — one over nonzero weekly demand sizes, one
    over the inter-demand intervals in weeks — and the demand rate =
    smoothed size / smoothed interval. The recurrences are sequential
    folds no window frame expresses; BOTH engines run the identical
    left-fold over the identically-ordered per-part array (the q205
    idiom: Spark F.aggregate over array_sort'd collect_list vs DuckDB
    list_reduce over an ORDER BY list), so every IEEE op matches
    bit-for-bit. Per-part arrays are bounded by the week count. One
    weekly agg + one part agg + top-50 TOAP."""
    li = _t(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("wk")
    ).agg(F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("qty"))
    seqs = (
        weekly.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "wk",
                        F.col("qty").cast("double").alias("z"),
                        F.unix_timestamp(F.col("wk").cast("timestamp"))
                        .cast("double")
                        .alias("t"),
                    )
                )
            ).alias("hist"),
        )
        .filter(F.col("k") >= 2)
    )
    zs = F.transform("hist", lambda h: h.getField("z"))
    ts = F.transform("hist", lambda h: h.getField("t"))
    ewma = lambda arr: F.aggregate(  # noqa: E731
        F.slice(arr, 2, F.size(arr) - 1),
        F.element_at(arr, 1),
        lambda s, x: F.lit(0.5) * x + F.lit(0.5) * s,
    )
    gaps = F.zip_with(
        F.slice(ts, 2, F.size(ts) - 1),
        F.slice(ts, 1, F.size(ts) - 1),
        lambda b, a: (b - a) / F.lit(604800.0),
    )
    folded = seqs.select(
        "l_partkey",
        F.col("k").alias("n_demand_weeks"),
        ewma(zs).alias("z_hat"),
        ewma(gaps).alias("i_hat"),
    )
    return folded.select(
        "l_partkey",
        "n_demand_weeks",
        F.round("z_hat", 9).alias("smoothed_demand"),
        F.round("i_hat", 9).alias("smoothed_interval_weeks"),
        F.round(F.col("z_hat") / F.col("i_hat"), 9).alias("croston_rate"),
    ).orderBy(F.desc("croston_rate"), "l_partkey").limit(50)


@register(
    "q388_abc_xyz_matrix",
    oracle="""
    WITH weekly AS (
      SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey, wk
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(qty) AS BIGINT) AS s,
             CAST(sum(qty * qty) AS BIGINT) AS ss,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM weekly GROUP BY l_partkey HAVING count(*) >= 2
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM per_part),
    abc AS (
      SELECT p.l_partkey, p.k, p.s, p.ss, p.cents,
             CAST(sum(p.cents) OVER (ORDER BY p.cents DESC, p.l_partkey)
                  AS BIGINT) AS cum,
             t.total
      FROM per_part p CROSS JOIN tot t
    ),
    classed AS (
      SELECT CASE WHEN cum * 5 <= total * 4 THEN 'A'
                  WHEN cum * 20 <= total * 19 THEN 'B'
                  ELSE 'C' END AS abc_class,
             CASE WHEN k * (k * ss - s * s) * 4 < (k - 1) * s * s THEN 'X'
                  WHEN k * (k * ss - s * s) < (k - 1) * s * s THEN 'Y'
                  ELSE 'Z' END AS xyz_class,
             cents, total
      FROM abc
    )
    SELECT abc_class, xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(cents) AS DOUBLE) / CAST(max(total) AS DOUBLE), 9)
             AS revenue_share
    FROM classed GROUP BY abc_class, xyz_class
    ORDER BY abc_class, xyz_class
    """,
)
def q388_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ policy matrix: the revenue Pareto cut (q372) crossed with
    demand-variability classes (CV < 0.5 → X, CV < 1 → Y, else Z — both
    thresholds as exact integer cross-multiplications on the BIGINT
    moment sums, CV² < 1/4 ⟺ 4·num < den). The 9-cell matrix is THE
    standard inventory-policy picker (cycle-count frequency, service
    level, forecasting method per cell) and demonstrates the two
    classifiers composing in one plan: one weekly agg, one part agg,
    one Pareto window, one 9-row rollup."""
    li = _t(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("wk")
    ).agg(
        F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("qty"),
        F.sum(
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5).cast(
                "long"
            )
        )
        .cast("long")
        .alias("cents"),
    )
    per_part = (
        weekly.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("qty").cast("long").alias("s"),
            F.sum(F.col("qty") * F.col("qty")).cast("long").alias("ss"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .filter(F.col("k") >= 2)
    )
    tot = per_part.agg(F.sum("cents").cast("long").alias("total"))
    wc = W.orderBy(F.desc("cents"), "l_partkey").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    abc = per_part.crossJoin(F.broadcast(tot)).withColumn(
        "cum", F.sum("cents").over(wc).cast("long")
    )
    k, s, ss = F.col("k"), F.col("s"), F.col("ss")
    num, den = k * (k * ss - s * s), (k - 1) * s * s
    classed = abc.select(
        F.when(F.col("cum") * 5 <= F.col("total") * 4, F.lit("A"))
        .when(F.col("cum") * 20 <= F.col("total") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
        F.when(num * 4 < den, F.lit("X"))
        .when(num < den, F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("xyz_class"),
        "cents",
        "total",
    )
    return (
        classed.groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(
                F.sum("cents").cast("double") / F.max("total").cast("double"), 9
            ).alias("revenue_share"),
        )
        .orderBy("abc_class", "xyz_class")
    )


def _q389_oracle() -> str:
    from .operators.graph import PR_SCALE

    iter_cte = """
    it{i} AS (
      SELECT n.node,
             CAST(CASE WHEN n.is_seed THEN {tp} ELSE 0 END
                  + (85 * coalesce(sm.in_sum, 0)) // 100 AS BIGINT) AS rank_fp
      FROM flagged n LEFT JOIN (
        SELECT e.d AS node, sum(r.rank_fp // dg.deg) AS in_sum
        FROM e JOIN it{prev} r ON e.s = r.node JOIN deg dg ON e.s = dg.s
        GROUP BY e.d
      ) sm ON n.node = sm.node
    )"""
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
    seeds AS (
      SELECT DISTINCT p_partkey * 2 AS node FROM part
      WHERE p_brand = (SELECT min(p_brand) FROM part)
      INTERSECT SELECT node FROM nodes
    ),
    params AS (SELECT count(*) AS n FROM seeds),
    flagged AS (
      SELECT n.node, s.node IS NOT NULL AS is_seed
      FROM nodes n LEFT JOIN seeds s ON n.node = s.node
    ),
    deg AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
    it0 AS (
      SELECT node,
             CASE WHEN is_seed THEN {PR_SCALE} // (SELECT n FROM params)
                  ELSE 0 END AS rank_fp
      FROM flagged
    ),
    {its}
    SELECT node, rank_fp FROM it3 WHERE rank_fp > 0
    ORDER BY rank_fp DESC, node LIMIT 30
    """


@register("q389_personalized_pagerank", oracle=_q389_oracle())
def q389_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at one brand's parts over the
    symmetrized part↔supplier co-purchase graph: teleport mass goes only
    to the seed set, so ranks measure proximity TO THE BRAND — the
    related-items primitive behind 'suppliers/parts relevant to X'
    recommendations, which global PageRank (q100) can't express. Same
    BIGINT fixed-point exactness scheme (floor divides, pinned 3
    iterations — graph.py:pagerank_fixed_point with seeds); top-30
    nonzero ranks. Seed choice (min p_brand) is deterministic."""
    from .operators.graph import pagerank_fixed_point

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"), (F.col("l_suppkey") * 2 + 1).alias("dst")
    )
    rev = li.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"), (F.col("l_partkey") * 2).alias("dst")
    )
    min_brand = p.agg(F.min("p_brand").alias("mb"))
    seeds = (
        p.join(F.broadcast(min_brand), p.p_brand == F.col("mb"))
        .select((F.col("p_partkey") * 2).alias("node"))
        .distinct()
    )
    pr = pagerank_fixed_point(fwd.unionByName(rev), iterations=3, seeds=seeds)
    return (
        pr.filter(F.col("rank_fp") > 0)
        .orderBy(F.desc("rank_fp"), "node")
        .limit(30)
    )


@register(
    "q390_association_rules",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n_tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets),
    item AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS supp FROM baskets GROUP BY brand
    ),
    pair AS (
      SELECT a.brand AS antecedent, b.brand AS consequent,
             CAST(count(*) AS BIGINT) AS supp_ab
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.brand <> b.brand
      GROUP BY antecedent, consequent
    )
    SELECT pr.antecedent, pr.consequent, pr.supp_ab,
           ia.supp AS supp_a, ic.supp AS supp_c,
           round(CAST(pr.supp_ab AS DOUBLE) / ia.supp, 9) AS confidence,
           round(CAST(pr.supp_ab * t.n AS DOUBLE) / (ia.supp * ic.supp), 9)
             AS lift,
           round(CAST(pr.supp_ab * t.n - ia.supp * ic.supp AS DOUBLE)
                 / (t.n * t.n), 9) AS leverage,
           round(CAST((t.n - ic.supp) * ia.supp AS DOUBLE)
                 / nullif(t.n * (ia.supp - pr.supp_ab), 0), 9) AS conviction
    FROM pair pr
    JOIN item ia ON pr.antecedent = ia.brand
    JOIN item ic ON pr.consequent = ic.brand
    CROSS JOIN n_tot t
    ORDER BY lift DESC, antecedent, consequent LIMIT 50
    """,
)
def q390_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining metrics at brand level: confidence, lift,
    leverage and conviction for every brand→brand rule, top-50 by lift —
    the full Agrawal-style rule scorecard q126's support-only pair
    counts stop short of. Every metric is a single IEEE divide over
    exact BIGINT counts (conviction algebraically rearranged to ONE
    integer-ratio divide: (N−supp_c)·supp_a / (N·(supp_a−supp_ab)));
    basket pair-gen is an equi-join on the order key, bounded by basket
    size (≤ brand count), never a cross join. Two aggs + pair agg +
    broadcast metric joins."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_tot = baskets.agg(F.countDistinct("l_orderkey").cast("long").alias("n"))
    item = baskets.groupBy("brand").agg(F.count(F.lit(1)).cast("long").alias("supp"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.brand") != F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("antecedent"), F.col("b.brand").alias("consequent")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("supp_ab"))
    )
    ia = item.select(F.col("brand").alias("antecedent"), F.col("supp").alias("supp_a"))
    ic = item.select(F.col("brand").alias("consequent"), F.col("supp").alias("supp_c"))
    n = F.col("n")
    return (
        pair.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "antecedent",
            "consequent",
            "supp_ab",
            "supp_a",
            "supp_c",
            F.round(F.col("supp_ab").cast("double") / F.col("supp_a"), 9).alias(
                "confidence"
            ),
            F.round(
                (F.col("supp_ab") * n).cast("double") / (F.col("supp_a") * F.col("supp_c")),
                9,
            ).alias("lift"),
            F.round(
                (F.col("supp_ab") * n - F.col("supp_a") * F.col("supp_c")).cast("double")
                / (n * n),
                9,
            ).alias("leverage"),
            F.round(
                ((n - F.col("supp_c")) * F.col("supp_a")).cast("double")
                / F.nullif(
                    (n * (F.col("supp_a") - F.col("supp_ab"))).cast("double"), F.lit(0.0)
                ),
                9,
            ).alias("conviction"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Spark-4 surface pins (bitmap aggs, VARIANT, collations) + calibration audit
# ---------------------------------------------------------------------------


@register(
    "q391_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q391_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark's bitmap aggregate surface:
    user ids are bucketed (bitmap_bucket_number), each bucket builds a
    32k-bit bitmap (bitmap_construct_agg over bitmap_bit_position), and
    the distinct count is the SUM of per-bucket popcounts — the
    mergeable exact-distinct pattern that replaces count(DISTINCT)'s
    single monolithic shuffle with partial-aggregable fixed-size state
    (and the exact counterpart of the HLL sketches in q33/q91: same
    merge shape, zero error). Oracle is plain count(DISTINCT). Two
    stacked aggs, both map-side combinable."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("q391_events")
    return spark.sql("""
        SELECT event_type,
               CAST(sum(cnt) AS BIGINT) AS n_distinct_users,
               CAST(sum(n) AS BIGINT) AS n_events
        FROM (
          SELECT event_type,
                 bitmap_bucket_number(user_id) AS bucket,
                 bitmap_count(bitmap_construct_agg(bitmap_bit_position(user_id)))
                   AS cnt,
                 count(*) AS n
          FROM q391_events
          GROUP BY event_type, bucket
        )
        GROUP BY event_type ORDER BY event_type
    """)


@register(
    "q392_variant_shred",
    oracle="""
    SELECT event_type,
           CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT) / 20) + 1
                AS BIGINT) AS k_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    GROUP BY event_type, k_bucket
    ORDER BY event_type, k_bucket
    """,
)
def q392_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured shredding through Spark 4's VARIANT type:
    parse_json(props) → typed variant_get('$.k','long') → width_bucket
    histogram per event type. Pins TWO new-engine surfaces at once
    against closed-form oracles: the VARIANT path must agree with plain
    JSON string extraction, and width_bucket(k,0,100,5) must equal the
    arithmetic floor(k/20)+1 bucketing for in-range values. This is the
    ingestion shape a 100 TB event pipeline uses — parse once into
    VARIANT, shred typed columns, aggregate JVM-side; all counts
    integer-exact."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("q392_events")
    return spark.sql("""
        WITH shredded AS (
          SELECT event_type,
                 variant_get(parse_json(props), '$.k', 'long') AS k
          FROM q392_events
        )
        SELECT event_type,
               CAST(width_bucket(CAST(k AS DOUBLE), 0.0, 100.0, 5) AS BIGINT)
                 AS k_bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS sum_k,
               CAST(min(k) AS BIGINT) AS min_k,
               CAST(max(k) AS BIGINT) AS max_k
        FROM shredded
        GROUP BY event_type, k_bucket
        ORDER BY event_type, k_bucket
    """)


@register(
    "q393_collation_parity",
    oracle="""
    WITH variants AS (
      SELECT p_brand, p_type FROM part
      UNION ALL
      SELECT p_brand,
             upper(substr(lower(p_type), 1, 1)) || substr(lower(p_type), 2)
        AS p_type
      FROM part
    )
    SELECT p_brand,
           CAST(count(DISTINCT p_type) AS BIGINT) AS n_case_sensitive,
           CAST(count(DISTINCT lower(p_type)) AS BIGINT) AS n_case_insensitive
    FROM variants GROUP BY p_brand ORDER BY p_brand
    """,
)
def q393_collation_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation surface pinned against the classic
    lower()-normalization: distinct-counting a deliberately case-mixed
    type column (each value unioned with its Initcap variant) under the
    UTF8_LCASE collation must equal count(DISTINCT lower(x)), while the
    default binary collation sees both spellings. Collations move
    case-insensitivity INTO the type system (comparisons, joins, and
    aggs all inherit it — no normalization column needed); this query
    certifies the semantics match the normalization the reference's
    citext-style columns would get in PostgreSQL (sqlserver2pgsql.pl
    maps MSSQL CI collations to citext)."""
    p = _t(spark, sf_dir, "part")
    p.createOrReplaceTempView("q393_part")
    return spark.sql("""
        WITH variants AS (
          SELECT p_brand, p_type FROM q393_part
          UNION ALL
          SELECT p_brand,
                 concat(upper(substr(lower(p_type), 1, 1)), substr(lower(p_type), 2))
            AS p_type
          FROM q393_part
        )
        SELECT p_brand,
               CAST(count(DISTINCT p_type) AS BIGINT) AS n_case_sensitive,
               CAST(count(DISTINCT collate(p_type, 'UTF8_LCASE')) AS BIGINT)
                 AS n_case_insensitive
        FROM variants GROUP BY p_brand ORDER BY p_brand
    """)


@register(
    "q394_holdout_calibration",
    oracle="""
    WITH split AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
             CAST(sum(CASE WHEN event_id % 2 = 0 AND event_type = 'error'
                           THEN 1 ELSE 0 END) AS BIGINT) AS k_train,
             CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test,
             CAST(sum(CASE WHEN event_id % 2 = 1 AND event_type = 'error'
                           THEN 1 ELSE 0 END) AS BIGINT) AS k_test
      FROM events GROUP BY user_id
    ),
    binned AS (
      SELECT (10 * (k_train + 1)) // (n_train + 2) AS bin,
             CAST((k_train + 1) AS DOUBLE) / (n_train + 2) AS pred,
             n_test, k_test
      FROM split WHERE n_test > 0
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_test) AS BIGINT) AS n_test_events,
           round(CAST(sum(CAST(pred AS DECIMAL(38,8))) AS DOUBLE) / count(*), 9)
             AS mean_confidence,
           round(CAST(sum(k_test) AS DOUBLE) / sum(n_test), 9)
             AS holdout_rate
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def q394_holdout_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout calibration audit (the per-bin table behind expected
    calibration error): per user, a Laplace-smoothed error-rate
    prediction (k+1)/(n+2) is fit on the EVEN event ids and evaluated
    on the ODD ids — a deterministic leakage-free split needing no
    randomness. Users land in 10 confidence bins via the EXACT integer
    bin id (10·(k+1)) div (n+2) — the float prediction never decides
    the bin — and each bin reports mean predicted confidence
    (DECIMAL-routed rational sum) vs realized holdout rate. The eval
    complement to Brier decomposition (q324: same reliability concept,
    no holdout) and beta-binomial smoothing (q349: the estimator this
    audits). One user agg + one bin rollup."""
    ev = _t(spark, sf_dir, "events")
    is_train = F.col("event_id") % 2 == 0
    is_err = F.col("event_type") == "error"
    split = ev.groupBy("user_id").agg(
        F.sum(F.when(is_train, 1).otherwise(0)).cast("long").alias("n_train"),
        F.sum(F.when(is_train & is_err, 1).otherwise(0)).cast("long").alias("k_train"),
        F.sum(F.when(~is_train, 1).otherwise(0)).cast("long").alias("n_test"),
        F.sum(F.when((~is_train) & is_err, 1).otherwise(0)).cast("long").alias("k_test"),
    )
    binned = split.filter(F.col("n_test") > 0).select(
        F.expr("(10 * (k_train + 1)) div (n_train + 2)").alias("bin"),
        ((F.col("k_train") + 1).cast("double") / (F.col("n_train") + 2)).alias("pred"),
        "n_test",
        "k_test",
    )
    return (
        binned.groupBy(F.col("bin").cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_test").cast("long").alias("n_test_events"),
            F.round(
                F.sum(F.col("pred").cast("decimal(38,8)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_confidence"),
            F.round(F.sum("k_test").cast("double") / F.sum("n_test"), 9).alias(
                "holdout_rate"
            ),
        )
        .orderBy("bin")
    )


@register(
    "q395_image_dhash_dedup",
    oracle="""
    WITH ids AS (
      SELECT i AS media_id FROM range(0, 64) t(i) WHERE i % 3 = 0
    ),
    gray AS (
      SELECT d.media_id, y.y, x.x,
             (((d.media_id % 7) * 11 + 16 * y.y + 3 * x.x + 5 * 0) % 256
            + ((d.media_id % 7) * 11 + 16 * y.y + 3 * x.x + 5 * 1) % 256
            + ((d.media_id % 7) * 11 + 16 * y.y + 3 * x.x + 5 * 2) % 256)
               AS g
      FROM ids d CROSS JOIN range(0, 6) y(y) CROSS JOIN range(0, 8) x(x)
    ),
    bits AS (
      SELECT a.media_id,
             CAST(sum(CASE WHEN a.g < b.g THEN 1 ELSE 0 END
                      * (CAST(1 AS BIGINT) << (a.y * 7 + a.x)))
                  AS BIGINT) AS dhash
      FROM gray a JOIN gray b
        ON a.media_id = b.media_id AND a.y = b.y AND b.x = a.x + 1
      WHERE a.x < 7
      GROUP BY a.media_id
    ),
    lum AS (
      SELECT media_id, CAST(sum(g) AS BIGINT) AS lum_sum
      FROM gray GROUP BY media_id
    ),
    keyed AS (
      SELECT b.media_id, b.dhash, l.lum_sum
      FROM bits b JOIN lum l USING (media_id)
    ),
    groups AS (
      SELECT dhash, lum_sum, CAST(count(*) AS BIGINT) AS group_size,
             CAST(min(media_id) AS BIGINT) AS keeper
      FROM keyed GROUP BY dhash, lum_sum
    )
    SELECT k.media_id, k.dhash, k.lum_sum, g.keeper, g.group_size
    FROM keyed k JOIN groups g USING (dhash, lum_sum)
    ORDER BY k.media_id
    """,
)
def q395_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup over REAL decoded BMP pixels, two-level:
    a difference hash (dHash — one bit per horizontally-adjacent gray
    pair, packed into a 42-bit BIGINT) captures STRUCTURE, and the exact
    integer luminance sum separates brightness bands. The synth corpus
    is 7 brightness-shifted variants of one gradient, so the dHash is
    IDENTICAL for all images (difference hashing is shift-invariant by
    design — the query demonstrates it) while the luminance level splits
    the corpus into the 7 true duplicate groups with min-id keepers.
    This is the image-modality member of the dedup family (exact q17 /
    MinHash q19 / SimHash q20 / embedding q23 — and now pixels). The
    decode path is the same pure-numpy BMP codec as q359; the oracle
    recomputes both hash levels from the synth pattern\'s closed form,
    verifying the Arrow decode → bit-pack → group-join chain bit-exactly.
    At 100 TB the (dhash, band) pair is a fixed-size key: dedup is ONE
    hash-groupBy shuffle, and near-dup (hamming <= k) runs as banded
    equi-joins over hash substrings — the q20 SimHash machinery applies
    unchanged."""
    import numpy as _np
    import pandas as _pd

    from .operators.multimodal import decode_bmp, synth_media

    media = synth_media(spark, 64).filter(F.col("modality") == "image")

    def dhash(it):
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_bmp(bytes(payload)).astype("int64")
                gray = px.sum(axis=2)  # (h, w) exact integer channel sum
                bits = gray[:, :-1] < gray[:, 1:]  # (h, w-1)
                idx = _np.arange(bits.size, dtype="int64")
                h = int((bits.ravel().astype("int64") << idx).sum())
                out.append((int(mid), h, int(gray.sum())))
            yield _pd.DataFrame(out, columns=["media_id", "dhash", "lum_sum"])

    keyed = media.select("media_id", "payload").mapInPandas(
        dhash, "media_id long, dhash long, lum_sum long"
    )
    groups = keyed.groupBy("dhash", "lum_sum").agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.min("media_id").cast("long").alias("keeper"),
    )
    return (
        keyed.join(F.broadcast(groups), ["dhash", "lum_sum"])
        .select("media_id", "dhash", "lum_sum", "keeper", "group_size")
        .orderBy("media_id")
    )


@register(
    "q396_stream_watermark_drop",
    oracle="""
    WITH src AS (
      SELECT event_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    mx AS (SELECT max(ts) AS m FROM src),
    f0 AS (
      SELECT s.ts, s.cents FROM src s CROSS JOIN mx
      WHERE s.event_id % 2 = 0 AND s.ts <> mx.m
    ),
    wmf AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM src)
    SELECT date_trunc('hour', f0.ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(f0.cents) AS BIGINT) AS sum_cents
    FROM f0 CROSS JOIN wmf
    WHERE date_trunc('hour', f0.ts) + INTERVAL 1 HOUR <= wmf.w
    GROUP BY 1 ORDER BY 1
    """,
)
def q396_stream_watermark_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming with the watermark ACTUALLY dropping late
    data — the multi-batch path q32/q45/q61 (single-batch, nothing
    late) never exercise. The events replay as THREE deterministic
    microbatches over explicitly named files (maxFilesPerTrigger=1):
    (0) the even-id rows, (1) the single max-timestamp row, (2) the odd
    stragglers. Measured-and-pinned engine semantics (validated against
    per-batch StreamingQueryProgress during development): the watermark
    used by batch N is computed from batches < N, so batch 1's eviction
    (watermark = max(even ts) − 10min) EMITS every even-side window
    whose end has passed; batch 2's odd rows then land in evicted
    windows and are dropped by the watermark filter
    (numRowsDroppedByWatermark — the drop filter uses the batch-2
    watermark, global max − 10min, so EVERY odd row in a finalizable
    window is dropped), while the kept tail windows — and the max-row's
    own window — are never finalized before the stream ends. The
    emitted table is therefore EXACTLY the even-file windows with
    end <= global max(ts) − 10min, which is what the oracle asserts: a
    single leaked odd row would break the value hash. (First cut used
    the batch-1 watermark as the emission bound; sf0.001's window
    boundaries exposed that the FINAL eviction bound is the end
    watermark — the pytest gate at a second scale caught it.) This
    pins the drop-and-flush behavior q374's lateness planner sizes.
    Replay files live in a per-invocation mkdtemp (the q71 lesson)."""
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="spark_graft_q396_")
    try:
        ev = _t(spark, sf_dir, "events").select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
        # one driver-side scalar (the global max event time) to carve the
        # three replay files — same documented exception as sequences.py
        mx = ev.agg(F.max("ts").alias("m")).collect()[0].m
        splits = (
            ("0_even", (F.col("event_id") % 2 == 0) & (F.col("ts") != F.lit(mx))),
            ("1_max", F.col("ts") == F.lit(mx)),
            ("2_odd", (F.col("event_id") % 2 == 1) & (F.col("ts") != F.lit(mx))),
        )
        # FileStreamSource orders candidate files by MODIFICATION TIME, not
        # name — an mtime tie between the three files (fast FS, coarse clock)
        # would silently reorder batches and change which watermark applies
        # (ADVICE r4). Pin the intended 0_even → 1_max → 2_odd order with
        # explicit, strictly increasing utimes spaced 2s apart.
        base = os.stat(tmp).st_mtime
        for i, (tag, pred) in enumerate(splits):
            d = os.path.join(tmp, "w_" + tag)
            ev.filter(pred).coalesce(1).write.parquet(d)
            part = next(
                f for f in sorted(os.listdir(d)) if f.endswith(".parquet")
            )
            dest = os.path.join(tmp, f"{tag}.parquet")
            os.rename(os.path.join(d, part), dest)
            os.utime(dest, (base + 2 * i, base + 2 * i))
            shutil.rmtree(d)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp + "/*.parquet")
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
        )
        from .streaming import run_stream_to_memory

        # the final watermark eviction that emits the last finalizable
        # windows happens IN the trailing no-data batch — keep it
        run_stream_to_memory(
            agg, "q396_out", output_mode="append", final_no_data_batch=True
        )
        return spark.sql(
            "SELECT window.start AS window_start, n_events, sum_cents "
            "FROM q396_out ORDER BY window_start"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "q397_seasonal_strength",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
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
      SELECT event_type, hod, y,
             CAST(24 * y - trend_num AS BIGINT) AS d24,
             CAST(trend_num AS BIGINT) AS trend_num
      FROM ma WHERE cnt = 24
    ),
    seas AS (
      SELECT event_type, hod,
             CAST(sum(d24) AS DOUBLE) / (24.0 * count(*)) AS s
      FROM detr GROUP BY event_type, hod
    ),
    parts AS (
      SELECT d.event_type,
             CAST(d.d24 AS DOUBLE) / 24.0 AS detr_v,
             CAST(d.d24 AS DOUBLE) / 24.0 - se.s AS resid_v,
             CAST(d.y AS DOUBLE) - se.s AS deseason_v
      FROM detr d JOIN seas se
        ON d.event_type = se.event_type AND d.hod = se.hod
    ),
    moms AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(detr_v AS DECIMAL(38,8))) AS DOUBLE) AS sd,
             CAST(sum(CAST(detr_v * detr_v AS DECIMAL(38,8))) AS DOUBLE) AS ssd,
             CAST(sum(CAST(resid_v AS DECIMAL(38,8))) AS DOUBLE) AS sr,
             CAST(sum(CAST(resid_v * resid_v AS DECIMAL(38,8))) AS DOUBLE) AS ssr,
             CAST(sum(CAST(deseason_v AS DECIMAL(38,8))) AS DOUBLE) AS sq,
             CAST(sum(CAST(deseason_v * deseason_v AS DECIMAL(38,8))) AS DOUBLE)
               AS ssq
      FROM parts GROUP BY event_type
    )
    SELECT event_type, n AS n_hours,
           round(greatest(0.0, 1.0 - ((ssr - sr * sr / n) / (n - 1))
                 / ((ssd - sd * sd / n) / (n - 1))), 9) AS strength_seasonal,
           round(greatest(0.0, 1.0 - ((ssr - sr * sr / n) / (n - 1))
                 / ((ssq - sq * sq / n) / (n - 1))), 9) AS strength_trend
    FROM moms ORDER BY event_type
    """,
)
def q397_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecastability diagnostics: Hyndman's seasonal and trend strength
    F_S = 1 − Var(R)/Var(detrended), F_T = 1 − Var(R)/Var(deseasonalized)
    on q149's STL-lite decomposition (integer-scaled detrended residual
    d24 = 24y − Σwindow, complete windows only). The strengths decide
    WHICH forecaster the series deserves (Holt q237 / seasonal-naive
    q257 / Croston q387 per q384's classes). Every component value is a
    short deterministic IEEE chain off exact integers; every variance
    moment routes each term through DECIMAL(38,8). Shapes: hourly agg +
    one ordered window per type + two small aggs."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("long").alias("y"))
    w = W.partitionBy("event_type").orderBy("h").rowsBetween(-12, 11)
    ma = hourly.select(
        "event_type",
        F.hour("h").alias("hod"),
        "y",
        F.sum("y").over(w).cast("long").alias("trend_num"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    detr = ma.filter(F.col("cnt") == 24).select(
        "event_type",
        "hod",
        "y",
        (24 * F.col("y") - F.col("trend_num")).cast("long").alias("d24"),
    )
    seas = detr.groupBy("event_type", "hod").agg(
        (F.sum("d24").cast("double") / (24.0 * F.count(F.lit(1)))).alias("s")
    )
    parts = detr.join(F.broadcast(seas), ["event_type", "hod"]).select(
        "event_type",
        (F.col("d24").cast("double") / 24.0).alias("detr_v"),
        (F.col("d24").cast("double") / 24.0 - F.col("s")).alias("resid_v"),
        (F.col("y").cast("double") - F.col("s")).alias("deseason_v"),
    )
    DEC38 = "decimal(38,8)"

    def mom(c, tag):
        return [
            F.sum(F.col(c).cast(DEC38)).cast("double").alias("s" + tag),
            F.sum((F.col(c) * F.col(c)).cast(DEC38)).cast("double").alias("ss" + tag),
        ]

    moms = parts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        *mom("detr_v", "d"),
        *mom("resid_v", "r"),
        *mom("deseason_v", "q"),
    )
    n = F.col("n")

    def var(s, ss):
        return (F.col(ss) - F.col(s) * F.col(s) / n) / (n - 1)

    return moms.select(
        "event_type",
        n.alias("n_hours"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - var("sr", "ssr") / var("sd", "ssd")), 9
        ).alias("strength_seasonal"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - var("sr", "ssr") / var("sq", "ssq")), 9
        ).alias("strength_trend"),
    ).orderBy("event_type")


@register(
    "q398_price_stickiness",
    oracle="""
    WITH monthly AS (
      SELECT p.p_brand AS brand, l.l_partkey,
             date_trunc('month', l.l_shipdate) AS m,
             CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY brand, l.l_partkey, m
    ),
    priced AS (
      SELECT brand, l_partkey, m,
             CAST((cents // qty) * 1000000
                  + ((cents % qty) * 1000000) // qty AS BIGINT) AS price_uc
      FROM monthly
    ),
    lagged AS (
      SELECT brand, l_partkey, price_uc,
             lag(price_uc) OVER (PARTITION BY l_partkey ORDER BY m) AS prev
      FROM priced
    ),
    per_part AS (
      SELECT brand, l_partkey,
             CAST(count(*) AS BIGINT) AS n_months,
             CAST(count(DISTINCT price_uc) AS BIGINT) AS n_levels,
             CAST(sum(CASE WHEN prev IS NOT NULL AND price_uc <> prev
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
             CAST(sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_transitions,
             CAST(sum(CASE WHEN prev IS NOT NULL AND price_uc <> prev
                           THEN abs(price_uc - prev) ELSE 0 END) AS BIGINT)
               AS abs_change_uc
      FROM lagged GROUP BY brand, l_partkey
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(n_changes) AS BIGINT) AS n_changes,
           round(CAST(sum(n_changes) AS DOUBLE)
                 / nullif(sum(n_transitions), 0), 9) AS change_rate,
           round(CAST(sum(abs_change_uc) AS DOUBLE)
                 / nullif(sum(n_changes), 0) / 100000000, 9)
             AS mean_abs_change_dollars
    FROM per_part GROUP BY brand ORDER BY brand
    """,
)
def q398_price_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price stickiness / menu-cost audit per brand: exact monthly unit
    prices in integer microcents (the q329 two-step long-division trick
    — never a float price), then per part the month-over-month change
    count and absolute change magnitude, rolled up to brand-level change
    frequency (changes per transition) and mean absolute reprice. The
    micro-econ pricing-ops diagnostic (how rigid are prices, how big is
    a typical reprice) — all counts and magnitudes exact BIGINT, the two
    rates single IEEE divides. One (part,month) agg + one part window +
    two rollups."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    monthly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            "l_partkey",
            F.date_trunc("month", "l_shipdate").alias("m"),
        )
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents"),
            F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("qty"),
        )
    )
    priced = monthly.select(
        "brand",
        "l_partkey",
        "m",
        (
            F.expr("(cents div qty) * 1000000 + ((cents % qty) * 1000000) div qty")
        ).cast("long").alias("price_uc"),
    )
    wp = W.partitionBy("l_partkey").orderBy("m")
    lagged = priced.select(
        "brand", "l_partkey", "price_uc", F.lag("price_uc").over(wp).alias("prev")
    )
    changed = F.col("prev").isNotNull() & (F.col("price_uc") != F.col("prev"))
    per_part = lagged.groupBy("brand", "l_partkey").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.countDistinct("price_uc").cast("long").alias("n_levels"),
        F.sum(F.when(changed, 1).otherwise(0)).cast("long").alias("n_changes"),
        F.sum(F.when(F.col("prev").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_transitions"),
        F.sum(
            F.when(changed, F.abs(F.col("price_uc") - F.col("prev"))).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("abs_change_uc"),
    )
    return (
        per_part.groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("n_changes").cast("long").alias("n_changes"),
            F.round(
                F.sum("n_changes").cast("double")
                / F.nullif(F.sum("n_transitions").cast("double"), F.lit(0.0)),
                9,
            ).alias("change_rate"),
            F.round(
                F.sum("abs_change_uc").cast("double")
                / F.nullif(F.sum("n_changes").cast("double"), F.lit(0.0))
                / 100000000,
                9,
            ).alias("mean_abs_change_dollars"),
        )
        .orderBy("brand")
    )


@register(
    "q399_quantile_treatment_effect",
    oracle="""
    WITH outcomes AS (
      SELECT CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS treated,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                  AS BIGINT) AS cents,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    ranked AS (
      SELECT treated, cents,
             row_number() OVER (PARTITION BY treated
                                ORDER BY cents, l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY treated) AS n
      FROM outcomes
    ),
    qs AS (SELECT unnest([25, 50, 75, 90]) AS q_pct),
    stats AS (
      SELECT q.q_pct, r.treated, r.cents, r.n
      FROM ranked r JOIN qs q
        ON r.rn = CAST(ceil(q.q_pct * r.n / 100.0) AS BIGINT)
    )
    SELECT t.q_pct,
           CAST(t.n AS BIGINT) AS n_treated, CAST(c.n AS BIGINT) AS n_control,
           round(CAST(t.cents AS DOUBLE) / 100, 2) AS treated_value,
           round(CAST(c.cents AS DOUBLE) / 100, 2) AS control_value,
           round(CAST(t.cents - c.cents AS DOUBLE) / 100, 2) AS qte
    FROM (SELECT * FROM stats WHERE treated = 1) t
    JOIN (SELECT * FROM stats WHERE treated = 0) c ON t.q_pct = c.q_pct
    ORDER BY t.q_pct
    """,
)
def q399_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the PROMO-vs-rest line-revenue
    distributions compared at the exact 25/50/75/90th-percentile order
    statistics — the DISTRIBUTIONAL causal view that mean effects (IPTW
    ATE q365, DiD q323, CUPED q313) can't show (a promo can raise the
    median while shrinking the tail). Quantiles are exact order
    statistics with full tie-breaks (never interpolated — engine
    conventions differ); QTE per quantile is one integer subtraction.
    Two-partition rank windows (each bounded by group size; at 100 TB
    the same cut runs per-stratum or on q214's mergeable binned sketch)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    outcomes = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.when(F.col("p_type").startswith("PROMO"), 1).otherwise(0).alias("treated"),
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
        .cast("long")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    wt = W.partitionBy("treated").orderBy("cents", "l_orderkey", "l_linenumber")
    ranked = outcomes.select(
        "treated",
        "cents",
        F.row_number().over(wt).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("treated")).alias("n"),
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in (25, 50, 75, 90)])).alias("q_pct")
    )
    stats = ranked.join(
        F.broadcast(qs),
        F.col("rn") == F.ceil(F.col("q_pct") * F.col("n") / 100.0).cast("long"),
    ).select("q_pct", "treated", "cents", "n")
    t = stats.filter(F.col("treated") == 1).select(
        "q_pct", F.col("n").alias("n_treated"), F.col("cents").alias("t_cents")
    )
    c = stats.filter(F.col("treated") == 0).select(
        "q_pct", F.col("n").alias("n_control"), F.col("cents").alias("c_cents")
    )
    return (
        t.join(c, "q_pct")
        .select(
            "q_pct",
            "n_treated",
            "n_control",
            F.round(F.col("t_cents").cast("double") / 100, 2).alias("treated_value"),
            F.round(F.col("c_cents").cast("double") / 100, 2).alias("control_value"),
            F.round((F.col("t_cents") - F.col("c_cents")).cast("double") / 100, 2).alias(
                "qte"
            ),
        )
        .orderBy("q_pct")
    )


_Q400_SHINGLES = """list_distinct(list_transform(
      range(1, greatest(2, len(string_split_regex(trim(text),'\\s+')) - 1)),
      i -> array_to_string(string_split_regex(trim(text),'\\s+')[i:i+2], ' ')
    ))"""


@register(
    "q400_curation_funnel_audit",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0
    ),
    scored AS (
      SELECT doc_id, text,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS alpha_ratio,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
             len(regexp_extract_all(text,
                 ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS bpe
      FROM corpus
    ),
    flagged AS (
      SELECT *,
             (n_tok BETWEEN 10 AND 200 AND alpha_ratio >= 0.5) AS q_ok
      FROM scored
    ),
    keepers AS (
      SELECT fp, min(doc_id) AS keeper FROM flagged WHERE q_ok GROUP BY fp
    ),
    bench AS (
      SELECT array_to_string(l[1:len(l)-5], ' ') AS text
      FROM (SELECT string_split_regex(trim(text), '\\s+') AS l
            FROM documents WHERE doc_id % 50 = 0)
    ),
    bsh AS (SELECT DISTINCT unnest({_Q400_SHINGLES}) AS shingle FROM bench),
    contaminated AS (
      SELECT DISTINCT f.doc_id
      FROM (SELECT doc_id, unnest({_Q400_SHINGLES}) AS shingle
            FROM flagged WHERE q_ok) f
      JOIN bsh USING (shingle)
    ),
    survivors AS (
      SELECT f.doc_id, f.bpe
      FROM flagged f
      JOIN keepers k ON f.fp = k.fp AND f.doc_id = k.keeper
      WHERE f.q_ok AND f.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    budgeted AS (
      SELECT doc_id, bpe,
             CAST(sum(bpe) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM survivors
    ),
    stages AS (
      SELECT 0 AS stage, 'raw' AS stage_name,
             CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(bpe) AS BIGINT) AS bpe_tokens
      FROM flagged
      UNION ALL
      SELECT 1, 'quality', count(*), sum(bpe) FROM flagged WHERE q_ok
      UNION ALL
      SELECT 2, 'dedup', count(*), sum(f.bpe)
      FROM flagged f JOIN keepers k ON f.fp = k.fp AND f.doc_id = k.keeper
      WHERE f.q_ok
      UNION ALL
      SELECT 3, 'decontaminated', count(*), sum(bpe) FROM survivors
      UNION ALL
      SELECT 4, 'token_budget', count(*), sum(bpe) FROM budgeted
      WHERE cum <= 50000
    )
    SELECT CAST(stage AS BIGINT) AS stage, stage_name,
           CAST(docs AS BIGINT) AS docs, CAST(bpe_tokens AS BIGINT) AS bpe_tokens
    FROM stages ORDER BY stage
    """,
)
def q400_curation_funnel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: the per-stage accounting table of the full training-data
    curation pipeline — raw corpus (with injected dups) → quality filter
    → exact dedup (min-id keeper per fingerprint) → benchmark
    decontamination (any shared word-3-gram with the q56 benchmark) →
    token-budget cut — reporting surviving docs and BPE tokens at EVERY
    stage. q43 emits the final document list; this emits the funnel the
    curation team actually reviews before a training run (where did the
    tokens go?). One scan scores everything; each stage is a conditional
    aggregate over the same flags; the benchmark shingle set broadcasts
    (q56's shape); the budget cut is one running-sum window over
    dedup+decontamination survivors."""
    from .operators import text as X
    from .operators.dedup import shingle_postings

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    t = F.col("text")
    scored = corpus.select(
        "doc_id",
        "text",
        X.token_count(t).alias("n_tok"),
        (
            F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double")
            / F.length(t).cast("double")
        ).alias("alpha_ratio"),
        F.md5(F.lower(F.trim(F.regexp_replace(t, r"\s+", " ")))).alias("fp"),
        X.bpe_token_count(t).alias("bpe"),
    )
    flagged = scored.withColumn(
        "q_ok",
        F.col("n_tok").between(10, 200) & (F.col("alpha_ratio") >= 0.5),
    ).localCheckpoint(eager=False)
    keepers = (
        flagged.filter("q_ok")
        .groupBy(F.col("fp").alias("k_fp"))
        .agg(F.min("doc_id").alias("keeper"))
    )
    toks = X.tokens(t)
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id", F.array_join(F.slice(toks, 1, F.size(toks) - 5), " ").alias("text")
    )
    bsh = shingle_postings(bench, "doc_id", "text", 3).select("shingle").distinct()
    contaminated = (
        shingle_postings(flagged.filter("q_ok"), "doc_id", "text", 3)
        .join(F.broadcast(bsh), "shingle")
        .select("doc_id")
        .distinct()
    )
    deduped = (
        flagged.filter("q_ok")
        .join(
            keepers,
            (F.col("fp") == F.col("k_fp")) & (F.col("doc_id") == F.col("keeper")),
        )
        .select("doc_id", "bpe")
    )
    survivors = deduped.join(contaminated, "doc_id", "left_anti")
    budgeted = survivors.select(
        "doc_id",
        "bpe",
        F.sum("bpe")
        .over(W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("cum"),
    )

    def stage(df, num, name):
        return df.agg(
            F.lit(num).cast("long").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("bpe").cast("long").alias("bpe_tokens"),
        ).select("stage", "stage_name", "docs", "bpe_tokens")

    out = (
        stage(flagged, 0, "raw")
        .unionByName(stage(flagged.filter("q_ok"), 1, "quality"))
        .unionByName(stage(deduped, 2, "dedup"))
        .unionByName(stage(survivors, 3, "decontaminated"))
        .unionByName(stage(budgeted.filter(F.col("cum") <= 50000), 4, "token_budget"))
    )
    return out.orderBy("stage")
