"""Driver-facing query registry.

Each entry pairs a Spark implementation (``Callable[[SparkSession, sf_dir],
DataFrame]``) with an equivalent DuckDB oracle SQL string (or ``None`` for
genuinely non-SQL-expressible operators — the driver then records a weaker
rows-only check). ``__spark_entry__.py`` re-exports this registry.

Determinism contract with the oracle (the driver hash-compares values):
- Any *accumulated* float arithmetic (SUM/AVG over doubles) is done in
  DECIMAL(38,8) on BOTH sides — decimal arithmetic is exact, so engine
  summation order can't perturb results. Casting double→decimal is itself
  deterministic (a binary double is never exactly on a 0.5×10⁻⁸ rounding
  boundary, since 10⁻⁹ is not a binary fraction).
- Single floating-point ops (one multiply, one divide, min/max) are IEEE-754
  deterministic and may stay double.
- Every ORDER BY includes a unique tie-break key.
- Aggregate/computed columns are aliased identically on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .operators.cleanse import cleanse_strings
from .operators.constraints import fk_violations, pk_violations
from .operators.diff import DIFF_FLAG_COL, diff
from .operators.merge import apply_diff
from .sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # the driver invokes these in ITS session — pin the semantics the
            # oracle comparison depends on (UTC timestamps foremost) before
            # building the plan
            from .session import tune_session

            tune_session(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


DEC = "decimal(38,8)"


# ---------------------------------------------------------------------------
# Aggregation (hash agg with map-side partial combine; SURVEY.md §2.4)
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE)                                  AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE)                             AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,8))) AS DOUBLE)          AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,8))) AS DOUBLE) AS sum_charge,
           count(*)                                                                AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan → filter (pushed to parquet) →
    hash aggregate (map-side combine) → order. Reference has no aggregates
    (SURVEY.md §2.4) — this is the §2.4 'Aggregations' entry."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal accumulation for determinism; DOUBLE emitted so the
            # driver's representation-sensitive hash matches DuckDB's fetchdf
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_base_price"),
            F.sum(disc.cast(DEC)).cast("double").alias("sum_disc_price"),
            F.sum(charge.cast(DEC)).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q02_segment_revenue",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,8))) AS DOUBLE) AS revenue,
           count(DISTINCT o.o_orderkey) AS n_orders
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def q02_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way inner equi-join (V1/V2-class, reference
    regression/basic_test/views.sql:88-96) + agg. customer is the small side
    → broadcast join, so the lineitem fact never shuffles for the join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC))
            .cast("double")
            .alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q03_top_customers_per_segment",
    oracle="""
    WITH spend AS (
      SELECT c.c_mktsegment, c.c_custkey, c.c_name,
             sum(CAST(o.o_totalprice AS DECIMAL(38,8))) AS total_spend
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, c.c_custkey, c.c_name
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY total_spend DESC, c_custkey) AS rnk
      FROM spend
    )
    SELECT c_mktsegment, rnk, c_custkey, c_name,
           CAST(total_spend AS DOUBLE) AS total_spend
    FROM ranked WHERE rnk <= 3
    ORDER BY c_mktsegment, rnk
    """,
)
def q03_top_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group: window row_number over a partial-agg result
    (SURVEY.md §2.4 'Window functions'; unique tie-break on c_custkey)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "c_custkey", "c_name")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("total_spend"))
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("total_spend"), F.asc("c_custkey"))
    return (
        spend.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "c_mktsegment",
            "rnk",
            "c_custkey",
            "c_name",
            F.col("total_spend").cast("double").alias("total_spend"),
        )
        .orderBy("c_mktsegment", "rnk")
    )


# ---------------------------------------------------------------------------
# Semi/anti joins (SURVEY.md §2.4; anti-join doubles as FK validation)
# ---------------------------------------------------------------------------


@register(
    "q04_orders_with_big_lineitems_semi",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
    ORDER BY o.o_orderkey
    """,
)
def q04_orders_with_big_lineitems_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@register(
    "q05_customers_without_orders_anti",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c.c_custkey
    """,
)
def q05_customers_without_orders_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# A9/A10 — diff + merge-apply (the reference's flagship incremental sync)
# ---------------------------------------------------------------------------

# A stale-target snapshot derived deterministically from orders, so the diff
# has all four flags: keys %13==0 missing from target (→ 'new'), %7!=0 of
# those present get a price drift (→ 'changed'), and 'ghost' keys (+10^9,
# from %11==0) exist only in target (→ 'deleted').
_STALE_TARGET_SQL = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 13 <> 0
    UNION ALL
    SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 11 = 0
"""


def _stale_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    drifted = o.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    ghosts = o.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(1000000000)
    )
    return drifted.unionByName(ghosts.select(drifted.columns))


@register(
    "q06_incremental_diff",
    oracle=f"""
    WITH tgt AS ({_STALE_TARGET_SQL})
    SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
           CASE
             WHEN t.o_orderkey IS NULL THEN 'new'
             WHEN s.o_orderkey IS NULL THEN 'deleted'
             WHEN s.o_custkey IS NOT DISTINCT FROM t.o_custkey
              AND s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus
              AND s.o_totalprice IS NOT DISTINCT FROM t.o_totalprice
              AND s.o_orderdate IS NOT DISTINCT FROM t.o_orderdate
              AND s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority
             THEN 'identical' ELSE 'changed'
           END AS change_flag
    FROM orders s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
    ORDER BY o_orderkey
    """,
)
def q06_incremental_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 MergeRows-diff (sqlserver2pgsql.pl:4662-4689) as a full-outer join
    with null-safe comparison — see operators/diff.py."""
    src = _t(spark, sf_dir, "orders")
    tgt = _stale_target(spark, sf_dir)
    d = diff(src, tgt, keys=["o_orderkey"])
    return (
        d.select("o_orderkey", "o_totalprice", F.col(DIFF_FLAG_COL).alias("change_flag"))
        .orderBy("o_orderkey")
    )


@register(
    "q07_incremental_apply",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM orders ORDER BY o_orderkey
    """,
)
def q07_incremental_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 merge-apply: applying the diff to the stale target must reproduce
    the source exactly (insert new, update changed, delete ghosts)."""
    src = _t(spark, sf_dir, "orders")
    tgt = _stale_target(spark, sf_dir)
    synced = apply_diff(diff(src, tgt, keys=["o_orderkey"]))
    return synced.select(*src.columns).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Grouping sets / set ops / sort-limit (SURVEY.md §2.4)
# ---------------------------------------------------------------------------


@register(
    "q08_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q08_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_rf"),
            F.grouping("l_linestatus").alias("g_ls"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "sum_qty", "n")
        .orderBy(
            "g_rf",
            "g_ls",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "q09_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           grouping(o_orderstatus) AS g_st, grouping(o_orderpriority) AS g_pr,
           count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY g_st, g_pr, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q09_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("g_st"),
            F.grouping("o_orderpriority").alias("g_pr"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "g_st", "g_pr", "n", "total")
        .orderBy(
            "g_st",
            "g_pr",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "q10_setops",
    oracle="""
    SELECT 'both' AS tag, n_nationkey FROM (
        SELECT c_nationkey AS n_nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'customer_only' AS tag, n_nationkey FROM (
        SELECT c_nationkey AS n_nationkey FROM customer
        EXCEPT
        SELECT s_nationkey FROM supplier)
    ORDER BY tag, n_nationkey
    """,
)
def q10_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey"))
    both = c.intersect(s).select(F.lit("both").alias("tag"), "n_nationkey")
    only = c.subtract(s).select(F.lit("customer_only").alias("tag"), "n_nationkey")
    return both.unionByName(only).orderBy("tag", "n_nationkey")


#: q12's columns as T-SQL, the way a migrated view or default spells them
_Q12_TSQL = (
    "ISNULL(NULLIF([o_orderpriority], '1-URGENT'), 'DEFAULTED') AS pri",
    "DATEADD(day, 2, [o_orderdate]) AS ship_by",
    "DATEPART(month, [o_orderdate]) AS order_month",
    "CHARINDEX('-', [o_orderpriority]) AS dash_pos",
    "[o_orderstatus] + SPACE(3) + [o_orderpriority] AS padded",
    "LEN([o_orderpriority] + '  ') AS len_trim",
    "DATEDIFF(day, [o_orderdate], '1998-01-01 00:00:00') AS days_to_98",
    "CONVERT(float, CONVERT(decimal(18,2), [o_totalprice])) AS price_dec",
)


@register(
    "q12_tsql_scalars",
    oracle="""
    SELECT o_orderkey,
           coalesce(nullif(o_orderpriority, '1-URGENT'), 'DEFAULTED')       AS pri,
           o_orderdate + INTERVAL 2 DAY                                     AS ship_by,
           CAST(date_part('month', o_orderdate) AS INT)                     AS order_month,
           CAST(strpos(o_orderpriority, '-') AS INT)                        AS dash_pos,
           o_orderstatus || repeat(' ', 3) || o_orderpriority               AS padded,
           CAST(length(rtrim(o_orderpriority || '  ')) AS INT)              AS len_trim,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS INT) AS days_to_98,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)              AS price_dec
    FROM orders
    ORDER BY o_orderkey
    """,
)
def q12_tsql_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-SQL scalar functions (B10, sqlserver2pgsql.pl:587-601): ISNULL,
    DATEADD, DATEPART, CHARINDEX, SPACE, LEN, DATEDIFF, CONVERT and string
    ``+``, each written as T-SQL and rendered by translate_tsql_expr, the
    path migrated views and defaults take; one ``selectExpr``, no UDFs."""
    from .functions.translate import translate_tsql_expr

    results = [translate_tsql_expr(e, "spark") for e in _Q12_TSQL]
    assert not any(r.unsure for r in results), [r.notes for r in results]
    o = _t(spark, sf_dir, "orders")
    return o.selectExpr("o_orderkey", *(r.sql for r in results)).orderBy("o_orderkey")


@register(
    "q13_translated_view",
    oracle="""
    SELECT c.c_custkey AS custkey,
           coalesce(nullif(c.c_name, ''), 'anonymous') || '|' || n.n_name   AS customer_label,
           CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) AS DOUBLE)               AS bal,
           CASE WHEN c.c_acctbal < 0 THEN 'overdrawn' ELSE 'ok' END         AS status
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ORDER BY custkey
    """,
)
def q13_translated_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 view translation end-to-end: a V2-class T-SQL view body
    (regression/basic_test/views.sql:90 family — join + ISNULL + CONVERT +
    string ``+`` concat) run through translate_tsql_expr, then executed as
    Spark SQL over temp views."""
    from .functions.translate import translate_tsql_expr

    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    tsql_body = (
        "SELECT c.[c_custkey] AS custkey, "
        "ISNULL(NULLIF(c.[c_name], ''), 'anonymous') + '|' + n.[n_name] AS customer_label, "
        "CONVERT(DECIMAL(12,2), c.[c_acctbal]) AS bal, "
        "CASE WHEN c.[c_acctbal] < 0 THEN 'overdrawn' ELSE 'ok' END AS status "
        "FROM customer c JOIN nation n ON c.[c_nationkey] = n.[n_nationkey]"
    )
    result = translate_tsql_expr(tsql_body, "spark")
    assert not result.unsure, result.notes
    return (
        spark.sql(result.sql)
        # CONVERT(DECIMAL…) stays decimal inside the view; emit DOUBLE so the
        # driver hash matches DuckDB's float64 rendering
        .withColumn("bal", F.col("bal").cast("double"))
        .orderBy("custkey")
    )


@register(
    "q14_fk_validation",
    oracle="""
    WITH child AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 997 = 0 THEN o_custkey + 10000000 ELSE o_custkey END AS o_custkey
      FROM orders
    )
    SELECT ch.o_orderkey, ch.o_custkey
    FROM child ch
    WHERE ch.o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = ch.o_custkey)
    ORDER BY ch.o_orderkey
    """,
)
def q14_fk_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 FK validation operator (broadcast left_anti) on a child with
    injected orphans — validate_constraints analog (sqlserver2pgsql.pl:
    2950-2959)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 997 == 0, F.col("o_custkey") + 10000000)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
    )
    c = _t(spark, sf_dir, "customer")
    return (
        fk_violations(o, ["o_custkey"], c, ["c_custkey"])
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


@register(
    "q15_pk_validation",
    oracle="""
    WITH noisy AS (
      SELECT l_orderkey, l_linenumber FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey % 1009 = 0
    )
    SELECT l_orderkey, l_linenumber, count(*) AS n
    FROM noisy
    GROUP BY l_orderkey, l_linenumber
    HAVING count(*) > 1 OR (l_orderkey IS NULL OR l_linenumber IS NULL)
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q15_pk_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 PK validation (duplicate composite keys after injected dup rows)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    noisy = li.unionByName(li.filter(F.col("l_orderkey") % 1009 == 0))
    return pk_violations(noisy, ["l_orderkey", "l_linenumber"]).orderBy(
        "l_orderkey", "l_linenumber"
    )


@register(
    "q16_cleanse",
    oracle="""
    SELECT doc_id,
           replace(replace(text, chr(0), ''), chr(13), '') AS text_clean,
           length(replace(replace(text, chr(0), ''), chr(13), '')) AS clean_len,
           lang, source
    FROM documents
    ORDER BY doc_id
    """,
)
def q16_cleanse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 cleanse (sqlserver2pgsql.pl:3585-3642) over documents: strip NUL
    and CR from all string columns in one projection of byte-level
    ``replace`` calls."""
    d = _t(spark, sf_dir, "documents")
    cleaned = cleanse_strings(d, "\x00\r")
    return cleaned.select(
        "doc_id",
        F.col("text").alias("text_clean"),
        F.length("text").alias("clean_len"),
        "lang",
        "source",
    ).orderBy("doc_id")


@register(
    "q11_topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q11_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K: Spark plans this as TakeOrderedAndProject — per-partition
    heaps + driver merge of K rows, no global sort at 100 TB."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )
