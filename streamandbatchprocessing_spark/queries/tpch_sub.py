"""Decorrelated-subquery / scalar-aggregate join patterns (TPC-H
Q13/Q14/Q15/Q17/Q18/Q19/Q22 analogs over the fixture star schema).

The reference has zero joins (SURVEY.md §2.3); the previous extension
module (`tpch.py`) covers the plain join surface. This module covers the
query shapes whose *optimization* is the interesting part — correlated
subqueries rewritten as aggregate-then-join, scalar subqueries as
broadcast crossjoins, HAVING-driven semi joins, and disjunctive
predicates that must still push down to the scan. These are exactly the
shapes that separate a plan that survives 100 TB from one that doesn't:
each docstring states the intended physical plan.

Naming continues the b-series (b18..b24) so the driver's CORRECTNESS
report groups them with the join suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggregates import DSUM_SQL, davg, dsum
from ..sources.batch import load_table
from .registry import query


# ---------------------------------------------------------------------------
# b18 — TPC-H Q13: customer order-count distribution (outer join → 2-level agg)
# ---------------------------------------------------------------------------
@query(
    "b18_order_count_histogram",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def b18_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: how many customers placed k orders (excluding urgent).

    The outer-join condition carries the priority predicate so customers
    with only-urgent orders still count as 0 — a LEFT JOIN with an ON
    (not WHERE) filter, the classic Q13 trap.

    Scale: orders is the big side, so the join shuffles on custkey
    (customer is broadcastable but the per-customer COUNT needs the
    orders rows co-located by custkey anyway); the first agg reuses that
    partitioning — one shuffle total before the tiny histogram agg.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# b19 — TPC-H Q17: small-quantity revenue (per-group avg as decorrelated agg)
# ---------------------------------------------------------------------------
@query(
    "b19_small_quantity_revenue",
    oracle=f"""
    SELECT {DSUM_SQL.format(x='l_extendedprice')} / 7.0 AS avg_yearly
    FROM (
        SELECT l.l_extendedprice,
               l.l_quantity,
               AVG(l.l_quantity) OVER (PARTITION BY l.l_partkey) AS avg_qty
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1' AND p.p_type = 'SMALL'
    )
    WHERE l_quantity < 0.2 * avg_qty
    """,
)
def b19_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: yearly revenue lost if small orders (< 20% of the
    part's average quantity) were no longer taken, for one brand/type.

    The correlated subquery `l_quantity < 0.2 * (SELECT avg(...) WHERE
    same partkey)` is decorrelated as a window over l_partkey AFTER the
    selective part filter — the broadcast part join prunes lineitem to
    ~1/36 of the table first, so the window's shuffle is over the pruned
    fact, not the full one. (TPC-H Q17's textbook Spark plan is
    aggregate-then-self-join; the window form is one shuffle instead of
    two and identical semantics.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_type") == "SMALL")
    )
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    return (
        joined.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# b20 — TPC-H Q19: disjunctive multi-attribute predicate pushdown
# ---------------------------------------------------------------------------
@query(
    "b20_disjunctive_revenue",
    oracle=f"""
    SELECT {DSUM_SQL.format(x='l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 21)
       OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 40)
       OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 60)
    """,
)
def b20_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under an OR of brand × size × quantity bands.

    The disjunction mixes columns from both sides, so it can't be fully
    pushed below the join — but Catalyst derives the single-side
    residuals (`l_quantity BETWEEN 1 AND 60` on the scan, brand/size
    union on part) and pushes those; the full predicate stays as the
    join filter. Part is broadcast, so at 100 TB this is one fact scan
    with a tight pushed range filter and zero shuffle before the scalar
    aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q, sz, br = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((br == "Brand#3") & sz.between(1, 15) & q.between(1, 21))
        | ((br == "Brand#9") & sz.between(10, 30) & q.between(10, 40))
        | ((br == "Brand#14") & sz.between(20, 50) & q.between(20, 60))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# b21 — TPC-H Q18: HAVING-driven semi join (large-volume orders)
# ---------------------------------------------------------------------------
@query(
    "b21_large_volume_orders",
    oracle=f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           {DSUM_SQL.format(x='l.l_quantity')} AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 270
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
)
def b21_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold, with
    customer attribution — the `IN (GROUP BY ... HAVING)` shape.

    The HAVING subquery becomes an aggregate + LEFT SEMI join on
    l_orderkey. Scale: the semi join's build side is the post-HAVING key
    set — tiny (high threshold), so AQE converts it to broadcast at
    runtime; the orderkey aggregation and the semi probe share the
    l_orderkey partitioning, and the final per-order agg reuses it again
    — the fact table is shuffled on one key once.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "sq"))
        .filter(F.col("sq") > 270)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# b22 — TPC-H Q22: scalar subquery + anti join (idle rich customers)
# ---------------------------------------------------------------------------
@query(
    "b22_idle_rich_customers",
    oracle=f"""
    SELECT n.n_name,
           COUNT(*) AS numcust,
           {DSUM_SQL.format(x='c.c_acctbal')} AS totacctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal > (
            SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
          )
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def b22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: customers above the global positive-balance average who
    never ordered, grouped by nation.

    Two subquery shapes in one: the scalar `AVG(...)` becomes a 1-row
    aggregate cross-joined (broadcast-nested-loop of a single row — the
    scalable replacement for the reference's `Window.partitionBy()`
    grand total, SURVEY.md W1), and `NOT EXISTS` becomes a LEFT ANTI
    join. Scale: anti join shuffles customer vs orders' distinct custkeys
    on one key; nation is broadcast; the scalar never leaves the driver
    plan as a single-partition exchange.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    global_avg = cust.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal", "avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(global_avg))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# b23 — TPC-H Q14: conditional-aggregate share (promo revenue)
# ---------------------------------------------------------------------------
@query(
    "b23_promo_revenue_share",
    oracle=f"""
    SELECT 100.0 * {DSUM_SQL.format(
        x="CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END"
    )} / {DSUM_SQL.format(x='l.l_extendedprice * (1 - l.l_discount)')} AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-03-01'
      AND l.l_shipdate <  TIMESTAMP '1995-06-01'
    """,
)
def b23_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percentage of a quarter's revenue from PROMO parts.

    A ratio of two conditional aggregates in ONE pass — no second scan,
    no window. Scale: the shipdate range pushes to the parquet scan
    (row-group min/max skipping), part is broadcast, and the whole query
    is scan → broadcast-probe → partial/final agg of two running sums.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1995-06-01").cast("timestamp_ntz"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg((100.0 * dsum(promo_rev) / dsum(rev)).alias("promo_revenue_pct"))
    )


# ---------------------------------------------------------------------------
# b24 — TPC-H Q15: argmax via scalar-aggregate join (top supplier)
# ---------------------------------------------------------------------------
@query(
    "b24_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {DSUM_SQL.format(x='l_extendedprice * (1 - l_discount)')} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '1995-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def b24_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue.

    The view-plus-scalar-max shape: aggregate once, take MAX over the
    aggregate, join back. Implementation caches nothing — the revenue
    aggregate is supplier-cardinality (small), so Spark recomputing it
    for the MAX branch is two cheap passes over an already-pruned scan;
    at cluster scale you'd `.cache()` the CTE, but correctness and plan
    shape are identical. The equality join against the broadcast 1-row
    max replaces a global sort. Decimal-exact sums make `=` on the max
    safe (no float ties lost).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp_ntz"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supplier), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# b25 — TPC-H Q7: trade volume between nation pairs (dim self-join aliasing)
# ---------------------------------------------------------------------------
@query(
    "b25_nation_trade_volume",
    oracle=f"""
    SELECT n1.n_name AS cust_nation,
           n2.n_name AS supp_nation,
           CAST(YEAR(l.l_shipdate) AS BIGINT) AS l_year,
           {DSUM_SQL.format(x='l.l_extendedprice * (1 - l.l_discount)')} AS volume
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
    WHERE n1.n_name IN ('NATION_0', 'NATION_1')
      AND n2.n_name IN ('NATION_0', 'NATION_1')
      AND n1.n_name <> n2.n_name
    GROUP BY n1.n_name, n2.n_name, YEAR(l.l_shipdate)
    ORDER BY cust_nation, supp_nation, l_year
    """,
)
def b25_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations per year, with the
    nation dimension joined TWICE under different roles (customer's vs
    supplier's nation) — the self-join-aliasing shape.

    Scale: true dimensions (customer, supplier, nation×2) broadcast;
    orders is a FACT and is never broadcast — instead it is pruned first
    by the broadcast customer⋈n1 probe (keeping only the two nations'
    customers, ~2/|nations| of orders), and only then shuffle-joined to
    lineitem on orderkey. The cross-side inequality (n1 <> n2) is a
    cheap post-broadcast filter. One fact-fact shuffle total.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_0", "NATION_1"))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_0", "NATION_1"))
    pruned_orders = (
        orders.select("o_orderkey", "o_custkey")
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .select("o_orderkey", "cust_nation")
    )
    return (
        li.join(pruned_orders, li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "volume"
            )
        )
        .orderBy("cust_nation", "supp_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# b26 — TPC-H Q10: returned-item revenue attribution
# ---------------------------------------------------------------------------
@query(
    "b26_returned_item_losses",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {DSUM_SQL.format(x='l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           n.n_name, c.c_acctbal
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1995-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def b26_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned the most revenue in a
    half-year — selective fact filter (returnflag, order-date range) →
    star join → per-customer agg → deterministic top-20.

    Scale: both fact filters push to their scans (returnflag is a
    dictionary-encoded low-cardinality column — row groups skip);
    customer and nation broadcast; the only shuffle is lineitem⋈orders
    on orderkey, then the final agg reuses nothing bigger than the
    surviving rows. Top-20 fuses to TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp_ntz"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "n_name", "c_acctbal")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# b27 — TPC-H Q6: forecast revenue change (pure pushdown scan-agg)
# ---------------------------------------------------------------------------
@query(
    "b27_forecast_revenue_change",
    oracle=f"""
    SELECT {DSUM_SQL.format(x='l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def b27_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue delta if discounts in a band were eliminated —
    THE pushdown benchmark: no join, no groupBy keys, just how much of
    the scan the engine can skip. All three predicates push to the
    parquet reader (row-group min/max on shipdate/discount/quantity);
    the plan is scan → scalar partial/final agg, zero shuffles beyond
    the 1-row final combine.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


# ---------------------------------------------------------------------------
# b28 — TPC-H Q12: priority counts by order-size class (join + count-if)
# ---------------------------------------------------------------------------
@query(
    "b28_priority_by_order_size",
    oracle="""
    WITH sized AS (
        SELECT l_orderkey,
               CASE WHEN SUM(l_quantity) >= 100 THEN 'bulk' ELSE 'regular' END
                   AS size_class
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT s.size_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN sized s ON o.o_orderkey = s.l_orderkey
    GROUP BY s.size_class
    ORDER BY s.size_class
    """,
)
def b28_priority_by_order_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: classify each order by total quantity, then
    count high/low-priority orders per class with count-if conditional
    aggregates (reference A7 pattern) — one fact aggregation, one join
    against orders, one tiny final agg.

    Scale: the per-orderkey sizing agg shuffles lineitem once on its
    join key, so the subsequent orders join reuses that partitioning;
    priorities collapse into two conditional counters in a single pass
    (no pivot/second scan).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sized = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "tq"))
        .select(
            "l_orderkey",
            F.when(F.col("tq") >= 100, "bulk").otherwise("regular").alias(
                "size_class"
            ),
        )
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(sized, orders.o_orderkey == sized.l_orderkey)
        .groupBy("size_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("size_class")
    )


# ---------------------------------------------------------------------------
# b29 — TPC-H Q4: order-priority checking (EXISTS with predicate → semi join)
# ---------------------------------------------------------------------------
@query(
    "b29_priority_order_check",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1995-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def b29_priority_order_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a quarter with at least one line item
    shipped more than 30 days after ordering, counted per priority —
    EXISTS with a CORRELATED inequality (l_shipdate > o_orderdate + 30),
    not just a key match.

    The correlated predicate needs o_orderdate on the probe side, so a
    bare key semi-join can't express it; the decorrelation is a LEFT
    SEMI join whose condition carries both the key equality and the
    inequality. Scale: the quarter filter prunes orders first (pushed to
    the scan), the semi join shuffles on orderkey only, and each order
    stops probing at its first late item (semi-join short-circuit) —
    no DISTINCT, no duplicate elimination.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )
