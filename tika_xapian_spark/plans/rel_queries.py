"""Relational query registry — the TPC-H-shape subset still carried
beside the document queries: wide and ROLLUP aggregation, semi/outer
joins, a correlated window aggregate, a disjunctive join predicate and a
pure scan, over the TPC-H-ish tables, each with a DuckDB oracle.

Money/measure sums use exact integer cents (``round(x*100)::bigint`` before
summing) so double-summation order can never break cross-engine equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def cents(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def q_tpch_pricing_summary(spark, sf_dir):
    """Q1-shape: wide hash aggregation with partial/final combine."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).alias("sum_qty_cents"),
            F.sum(cents("l_extendedprice")).alias("sum_base_price_cents"),
            F.sum(cents("l_discount")).alias("sum_disc_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_TPCH_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""


def q_tpch_order_priority(spark, sf_dir):
    """Q4-shape (order-priority checking): orders per priority bucket in a
    quarter having at least one LATE lineitem — an existential (LEFT SEMI)
    join, the one relational join type the registry lacked. The reference
    schema's commit/receipt dates don't exist in the synthetic table, so
    'late' is l_shipdate > o_orderdate + 60 days (same fact-fact exists
    shape). Semi joins never materialize match multiplicity, so the probe
    side stays one row per order through the shuffle — the right plan when
    each order averages 4+ lineitems."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li["l_orderkey"] == F.col("o_orderkey"))
        & (li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


ORACLE_TPCH_ORDER_PRIORITY = """
SELECT o.o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY 1
ORDER BY 1"""


def q_tpch_rollup_revenue(spark, sf_dir):
    """ROLLUP / grouping-sets — the OLAP subtotal operator the registry
    lacked: revenue at (returnflag, linestatus), per-returnflag subtotal,
    and grand total in ONE pass. Spark expands the grouping sets before
    the exchange, so partial aggregation still combines map-side and the
    plan stays one shuffle — the right shape at any scale (output rows =
    grouping-set count x group cardinality, independent of input size).
    grouping_id disambiguates a real NULL group from a subtotal row."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        # grouping_id() is only resolvable INSIDE the aggregate — the
        # analyzer rejects it in a post-agg projection
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.sum(cents("l_extendedprice")).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "l_returnflag", "l_linestatus", "gid", "revenue_cents", "n_items"
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


ORACLE_TPCH_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus)::INT AS gid,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus"""


def q_tpch_small_qty_revenue(spark, sf_dir):
    """Q17-shape (small-quantity-order revenue), widened per brand: revenue
    from lineitems whose quantity is below 20% of the average quantity for
    their part — the correlated-scalar-aggregate pattern. Planned as a
    WINDOW aggregate over ``l_partkey`` rather than the textbook aggregate
    self-join: the fact is scanned ONCE and shuffled ONCE (the window
    exchange), where the self-join form scans lineitem twice and shuffles
    both the raw probe and the pre-agg. The window's hash partitioning on
    ``l_partkey`` survives the filter, so the follow-up join to ``part``
    (hint-free; linear at 200k/SF, AQE broadcasts it while it fits)
    re-exchanges only the part side even when it degrades to a shuffle
    join. The 20%-of-avg comparison is done in exact integers: with
    ``ql = round(qty*100)``, ``qty < 0.2 * sum/cnt  ⇔  5*ql*cnt < sum_ql``
    — no float average whose summation order could flip a boundary row
    between engines."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    ql = F.round(F.col("l_quantity") * 100).cast("long")
    w = Window.partitionBy("l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.withColumn("ql", ql)
        .withColumn("sum_ql", F.sum("ql").over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(w))
        .filter(F.lit(5) * F.col("ql") * F.col("cnt") < F.col("sum_ql"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(cents("l_extendedprice")).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


ORACLE_TPCH_SMALL_QTY = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_ql,
         count(*) AS cnt
  FROM lineitem GROUP BY 1
)
SELECT p.p_brand,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       count(*) AS n_items
FROM lineitem l
JOIN per_part pp ON l.l_partkey = pp.l_partkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE 5 * CAST(round(l.l_quantity * 100) AS BIGINT) * pp.cnt < pp.sum_ql
GROUP BY 1
ORDER BY 1"""


def q_tpch_cust_order_distribution(spark, sf_dir):
    """Q13-shape (customer order-count distribution): how many customers
    placed exactly N qualifying orders, INCLUDING the zero bucket — the
    outer-join histogram. Planned scale-first: orders pre-aggregate to one
    row per customer (map-side combine collapses the fact before its
    shuffle), then ``customer`` LEFT-joins the counts and ``coalesce(0)``
    fills the zero bucket — the alternative (LEFT join raw orders, then
    count) shuffles every order row. The second groupBy is on the tiny
    histogram domain."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    per_cust = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count(F.lit(1)).alias("n")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    return (
        cust.join(per_cust, F.col("c_custkey") == F.col("ck"), "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


ORACLE_TPCH_CUST_DIST = """
SELECT n_orders, count(*) AS n_customers
FROM (
  SELECT c.c_custkey,
         count(o.o_orderkey) AS n_orders
  FROM customer c
  LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus <> 'F') o
    ON c.c_custkey = o.o_custkey
  GROUP BY 1
)
GROUP BY 1
ORDER BY n_customers DESC, n_orders DESC"""


def q_tpch_revenue_forecast(spark, sf_dir):
    """Q6-shape (forecasting revenue change): one year of shipments in a
    narrow discount band and below a quantity cap, summed — the pure
    scan-shape query. The whole predicate is sargable and every referenced
    column is projected, so the plan must be a single parquet scan with
    ALL THREE filters in ``PushedFilters`` and a 4-column ``ReadSchema``
    feeding a partial+final aggregate — zero shuffle beyond the 1-row
    final agg exchange. At 10^12 rows this query is exactly as fast as the
    scan layout allows (row-group min/max skip on ``l_shipdate`` if the
    writer sorted by it); anything more in the plan is a bug, and
    test_plan_shapes pins that. Revenue is ``extendedprice * discount``
    per TPC-H Q6 (the discount amount itself, not the discounted price),
    rounded to cents per row before the exact integer sum."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(cents(F.col("l_extendedprice") * F.col("l_discount")))
            .alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLE_TPCH_REVENUE_FORECAST = """
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24"""


def q_tpch_discounted_brand_revenue(spark, sf_dir):
    """Q19-shape (discounted revenue, disjunctive predicate): revenue from
    three (brand, size-range, quantity-range) bands OR'ed together — the
    classic join-with-residual-disjunction. Planned so the disjunction
    does NOT defeat pushdown: Catalyst factors the common
    ``p_brand IN (...)`` / ``p_size <= 15`` / quantity bounds out of the
    OR (constraint propagation), so ``part`` arrives at the join already
    cut to the three brands (~12% of rows) and ``lineitem`` to the
    quantity envelope — the OR itself evaluates as the join residual, not
    as a post-join filter over the full fact. ``part`` is hint-free:
    linear at 200k/SF, AQE broadcasts the filtered slice while it fits."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    bands = (
        ((brand == "Brand#12") & size.between(1, 5) & qty.between(1, 11))
        | ((brand == "Brand#2") & size.between(1, 10) & qty.between(10, 20))
        | ((brand == "Brand#23") & size.between(1, 15) & qty.between(20, 30))
    )
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .filter(bands)
        .groupBy("p_brand")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


ORACLE_TPCH_DISCOUNTED_BRAND = """
SELECT p.p_brand,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       count(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
GROUP BY 1
ORDER BY 1"""


LATE_SHIP_DAYS = 60


def q_tpch_late_shipments(spark, sf_dir):
    """Q12-shape (shipping-mode lateness, re-keyed to ``o_orderpriority``
    since this corpus carries no shipmode column): per priority bucket,
    items shipped more than LATE_SHIP_DAYS days after the order date vs
    total, plus the exact total delay in days. One big-big shuffle
    (lineitem⋈orders on orderkey) feeding a conditional aggregate over a
    5-value group domain — map-side partial aggregation collapses each
    task to ≤5 rows before the final exchange. Delay math stays in whole
    days (``datediff`` on date-truncated timestamps), so the sum is an
    exact bigint at any scale."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum((delay > LATE_SHIP_DAYS).cast("long")).alias("n_late"),
            F.sum(delay.cast("long")).alias("delay_days_total"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_TPCH_LATE_SHIPMENTS = f"""
SELECT o.o_orderpriority,
       count(*) AS n_items,
       CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate)
                          > {LATE_SHIP_DAYS} THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(sum(date_diff('day', o.o_orderdate, l.l_shipdate)) AS BIGINT)
         AS delay_days_total
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
ORDER BY 1"""


REL_QUERIES = {
    "tpch_pricing_summary": q_tpch_pricing_summary,
    "tpch_order_priority": q_tpch_order_priority,
    "tpch_rollup_revenue": q_tpch_rollup_revenue,
    "tpch_small_qty_revenue": q_tpch_small_qty_revenue,
    "tpch_cust_order_distribution": q_tpch_cust_order_distribution,
    "tpch_revenue_forecast": q_tpch_revenue_forecast,
    "tpch_discounted_brand_revenue": q_tpch_discounted_brand_revenue,
    "tpch_late_shipments": q_tpch_late_shipments,
}


def rel_oracle_sqls() -> dict[str, str]:
    return {
        "tpch_pricing_summary": ORACLE_TPCH_PRICING,
        "tpch_order_priority": ORACLE_TPCH_ORDER_PRIORITY,
        "tpch_rollup_revenue": ORACLE_TPCH_ROLLUP,
        "tpch_small_qty_revenue": ORACLE_TPCH_SMALL_QTY,
        "tpch_cust_order_distribution": ORACLE_TPCH_CUST_DIST,
        "tpch_revenue_forecast": ORACLE_TPCH_REVENUE_FORECAST,
        "tpch_discounted_brand_revenue": ORACLE_TPCH_DISCOUNTED_BRAND,
        "tpch_late_shipments": ORACLE_TPCH_LATE_SHIPMENTS,
    }
