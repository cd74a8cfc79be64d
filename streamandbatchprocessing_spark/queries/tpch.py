"""Join / aggregation / window / set-op queries over the star schema.

The reference implements zero joins (SURVEY.md §2.3) — every analysis is
single-table. This module is the *extension* join surface the north star
requires: broadcast-hash joins for dimension tables, sort-merge for
fact-fact, semi/anti joins, set ops, rollup/cube, window ranking,
pagination, as-of joins, range-frame windows, and explicit
skew-mitigation (salting) — each with a DuckDB oracle.

Scale notes apply per-query in docstrings; the common themes:
  * every dimension-side join is `F.broadcast(...)` → no shuffle of the
    fact table beyond its aggregation;
  * aggregate sums use `dsum`/`davg` (exact decimal accumulate) so
    results are partition-order-independent — required both for the
    oracle hash match and for run-to-run reproducibility on a cluster;
  * top-k orderings always carry a unique tiebreaker key so LIMIT is
    deterministic under any parallel plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggregates import DAVG_SQL, DSUM_SQL, davg, dsum, pround
from ..sources.batch import load_table
from .registry import persist_tracked, query


# ---------------------------------------------------------------------------
# b01 — TPC-H Q1-style pricing summary (scan → filter → hash agg → sort)
# ---------------------------------------------------------------------------
@query(
    "b01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {DSUM_SQL.format(x='l_quantity')}                                   AS sum_qty,
           {DSUM_SQL.format(x='l_extendedprice')}                              AS sum_base_price,
           {DSUM_SQL.format(x='l_extendedprice * (1 - l_discount)')}           AS sum_disc_price,
           {DSUM_SQL.format(x='l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {DAVG_SQL.format(x='l_quantity')}                                   AS avg_qty,
           {DAVG_SQL.format(x='l_extendedprice')}                              AS avg_price,
           {DAVG_SQL.format(x='l_discount')}                                   AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def b01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 over the fixture lineitem.

    Scale: single scan + partial/final hash agg on 6 groups; the filter
    and the 7-column projection push down to the parquet scan, AQE
    coalesces the tiny final exchange. No join, no skew exposure.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax")), "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# b02 — TPC-H Q3-style top-k revenue (3-way join → agg → deterministic top-k)
# ---------------------------------------------------------------------------
@query(
    "b02_top_unshipped_orders",
    oracle=f"""
    SELECT o.o_orderkey,
           {DSUM_SQL.format(x='l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-30'
      AND l.l_shipdate > TIMESTAMP '1998-06-30'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def b02_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer ⋈ orders ⋈ lineitem, revenue top-10.

    Scale: customer (a true dimension) is broadcast; orders is a FACT
    and carries no hint — lineitem ⋈ orders shuffles both sides on
    orderkey (SMJ), and AQE may still downgrade to broadcast at toy SFs.
    A forced `broadcast(orders)` would OOM executors at production
    scale, so the hint stays off fact tables (guarded by
    `test_no_forced_broadcast_of_fact_tables`). `LIMIT` after sort
    becomes TakeOrderedAndProject: each partition keeps 10 rows, no
    global sort. Tiebreak on o_orderkey keeps the top-k deterministic.
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-30").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-30").cast("timestamp_ntz")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# b03 — TPC-H Q5-style regional volume (5-way star join)
# ---------------------------------------------------------------------------
@query(
    "b03_regional_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           {DSUM_SQL.format(x='l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def b03_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region→nation→customer→orders→lineitem→supplier star join.

    Scale: the true dimensions (region 5 rows, nation 25, supplier
    ~sf·10k, customer ~sf·150k) broadcast; orders is a FACT and joins
    lineitem unhinted — one orderkey shuffle, which AQE can still turn
    into a broadcast join at toy SFs but must be free to keep as SMJ at
    100 TB. Everything after that single shuffle is chained
    broadcast-hash joins over the fact stream into a 25-group
    aggregation — the canonical star-join shape.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# ---------------------------------------------------------------------------
# b04 — broadcast dimension join + agg
# ---------------------------------------------------------------------------
@query(
    "b04_brand_volume",
    oracle=f"""
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           {DSUM_SQL.format(x='l.l_quantity')} AS total_qty,
           {DSUM_SQL.format(x='l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def b04_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast(part) → per-brand rollup. The `F.broadcast` hint
    guarantees a BroadcastHashJoin regardless of stats, so the lineitem
    side streams through map-side with no shuffle before the agg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity", "total_qty"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# b05 / b06 — semi and anti joins
# ---------------------------------------------------------------------------
@query(
    "b05_customers_with_open_orders",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    ORDER BY c_custkey
    """,
)
def b05_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — existence check without duplicating fact rows.
    Scale: semi joins short-circuit per probe row and never inflate
    output; with the dimension side broadcast there is no shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    open_orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


@query(
    "b06_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def b06_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# b07 / b16 — rollup & cube (multi-dimensional aggregates)
# ---------------------------------------------------------------------------
@query(
    "b07_priority_rollup",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {DSUM_SQL.format(x='o_totalprice')} AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def b07_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (status → status+priority → grand),
    computed by hierarchical re-aggregation instead of Spark's
    Expand-based ``rollup()`` — for two reasons:

    * Scale: Expand replicates every scan row once per grouping set
      (3x here) before the partial aggregate; aggregating at the
      finest level first and re-agg'ing the BOUNDED group table
      (≤ |status| x |priority| rows, tracked-persisted) upward keeps
      the fact scan single-width and shares it across all levels.
    * ANSI conformance on empty input: SQL's ``()`` grouping set
      yields one grand-total row (COUNT 0, SUM NULL) even over zero
      rows; Spark's ``rollup()`` emits nothing (verified Spark 4.1).
      ``groupBy().agg()`` always returns a row, restoring the
      standard semantics the DuckDB oracle implements.

    Exactness across levels: counts re-aggregate as sums; money stays
    in DECIMAL(25,6) (associative addition — the dsum discipline)
    until one final double cast per level."""
    orders = load_table(spark, sf_dir, "orders")
    g2 = persist_tracked(
        orders.groupBy("o_orderstatus", "o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
            .alias("dec_price"),
        )
    )
    lvl2 = g2.select(
        "o_orderstatus", "o_orderpriority", "n_orders",
        F.col("dec_price").cast("double").alias("total_price"),
    )
    lvl1 = (
        g2.groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("dec_price").cast("double").alias("total_price"),
        )
        .select(
            "o_orderstatus",
            F.lit(None).cast("string").alias("o_orderpriority"),
            "n_orders", "total_price",
        )
    )
    lvl0 = g2.groupBy().agg(
        F.coalesce(F.sum("n_orders"), F.lit(0)).cast("long")
        .alias("n_orders"),
        F.sum("dec_price").cast("double").alias("total_price"),
    ).select(
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("string").alias("o_orderpriority"),
        "n_orders", "total_price",
    )
    return lvl2.unionByName(lvl1).unionByName(lvl0)


@query(
    "b16_returnflag_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           {DSUM_SQL.format(x='l_quantity')} AS total_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def b16_returnflag_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dims, by hierarchical
    re-aggregation (see b07): one single-width fact scan into the
    bounded finest-level table, then the (flag), (status) and ()
    grouping sets re-aggregate that table — no 4x Expand, and the
    grand-total row survives empty input per ANSI."""
    li = load_table(spark, sf_dir, "lineitem")
    g2 = persist_tracked(
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(25,6)"))
            .alias("dec_qty"),
        )
    )
    full = g2.select(
        "l_returnflag", "l_linestatus", "n_items",
        F.col("dec_qty").cast("double").alias("total_qty"),
    )

    def _level(key: str, other: str) -> DataFrame:
        return (
            g2.groupBy(key)
            .agg(
                F.sum("n_items").alias("n_items"),
                F.sum("dec_qty").cast("double").alias("total_qty"),
            )
            .select(
                key, F.lit(None).cast("string").alias(other),
                "n_items", "total_qty",
            )
            .select("l_returnflag", "l_linestatus", "n_items", "total_qty")
        )

    grand = g2.groupBy().agg(
        F.coalesce(F.sum("n_items"), F.lit(0)).cast("long")
        .alias("n_items"),
        F.sum("dec_qty").cast("double").alias("total_qty"),
    ).select(
        F.lit(None).cast("string").alias("l_returnflag"),
        F.lit(None).cast("string").alias("l_linestatus"),
        "n_items", "total_qty",
    )
    return (
        full.unionByName(_level("l_returnflag", "l_linestatus"))
        .unionByName(_level("l_linestatus", "l_returnflag"))
        .unionByName(grand)
    )


# ---------------------------------------------------------------------------
# b08 — ranking window (top-N per group)
# ---------------------------------------------------------------------------
@query(
    "b08_top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def b08_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number() top-3 per customer — the scalable pagination/ranking
    primitive the reference spec'd but never implemented
    (AGENTS.md:1149-1155 vs BatchRoutes.scala:149). Unique tiebreak
    (o_orderkey) makes ranks deterministic under any partitioning."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


# ---------------------------------------------------------------------------
# b09 — offset/limit pagination
# ---------------------------------------------------------------------------
@query(
    "b09_order_page",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    ORDER BY o_orderkey
    LIMIT 50 OFFSET 100
    """,
)
def b09_order_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan pagination (`offset().limit()`), replacing the reference's
    driver-side `toJSON.collect().drop(offset)` (BatchRoutes.scala:149)
    which is O(table) per page. Sorted on a unique key so pages are
    stable."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
        .offset(100)
        .limit(50)
    )


# ---------------------------------------------------------------------------
# b10 — set operation (EXCEPT)
# ---------------------------------------------------------------------------
@query(
    "b10_machinery_without_pending",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'P'
    ORDER BY c_custkey
    """,
)
def b10_machinery_without_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT DISTINCT set op (Spark `subtract`)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    machinery = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    pending = orders.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return machinery.subtract(pending).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# b11 — as-of join (event → latest prior click)
# ---------------------------------------------------------------------------
@query(
    "b11_asof_last_click",
    oracle="""
    WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                FROM events),
    p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
    c AS (SELECT * FROM ev WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
)
def b11_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click at-or-before it by
    the same user. Spark lacks a native ASOF operator; the idiomatic
    scalable composition is a per-key ordered window with
    `last(..., ignorenulls)` over an unbounded-preceding frame — one
    shuffle on user_id, no point-in-time cross join, state bounded by
    the window sort. (DuckDB oracle uses its native ASOF JOIN.)"""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.withColumn(
        "click_ts", F.when(F.col("event_type") == "click", F.col("ts"))
    )
    return (
        marked.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# b12 — skew-mitigated (salted) aggregation
# ---------------------------------------------------------------------------
@query(
    "b12_salted_segment_stats",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           {DSUM_SQL.format(x='o.o_totalprice')} AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def b12_salted_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a low-cardinality, potentially
    skewed key. Phase 1 aggregates by (segment, salt16) spreading each
    hot key over 16 reducers; phase 2 merges the 16 partials. Decimal
    partials re-sum exactly, so the result is identical to the direct
    groupBy (the oracle). At 100 TB this caps any single reducer's input
    at ~1/16 of the hottest key; AQE skew-join handles the join side.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    partial = (
        joined.withColumn("_salt", F.pmod(F.hash("o_orderkey"), F.lit(16)))
        .groupBy("c_mktsegment", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("_t"),
        )
    )
    return (
        partial.groupBy("c_mktsegment")
        .agg(
            F.sum("_n").alias("n_orders"),
            F.sum("_t").cast("double").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# b13 — global-share via scalar-agg broadcast (the W1 rewrite)
# ---------------------------------------------------------------------------
@query(
    "b13_priority_revenue_share",
    oracle="""
    WITH agg AS (
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS t
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_orders,
           CAST(t AS DOUBLE) AS total_price,
           floor((CAST(t AS DOUBLE) / CAST(SUM(t) OVER () AS DOUBLE) * 100) * 100.0 + 0.5) / 100.0
               AS revenue_share_pct
    FROM agg
    ORDER BY o_orderpriority
    """,
)
def b13_priority_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue share of total — the reference computes this with
    `sum(...).over(Window.partitionBy())` (AnalysisAggregator.scala:
    112-119), which funnels all rows through ONE partition. The scalable
    rewrite: aggregate per group, then cross-join a broadcast scalar
    grand total. Exact decimal partials keep share math deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("_t"),
    )
    total = agg.agg(F.sum("_t").alias("_g"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "o_orderpriority",
            "n_orders",
            F.col("_t").cast("double").alias("total_price"),
            pround(
                F.col("_t").cast("double") / F.col("_g").cast("double") * 100, 2
            ).alias("revenue_share_pct"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# b14 — multi-distinct aggregation
# ---------------------------------------------------------------------------
@query(
    "b14_status_distincts",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderpriority) AS n_priorities
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def b14_status_distincts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two distinct aggregates + plain count in one pass — exercises
    Catalyst's RewriteDistinctAggregates Expand plan (reference A4)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# b15 — conditional aggregation (count-if pivot)
# ---------------------------------------------------------------------------
@query(
    "b15_segment_status_pivot",
    oracle=f"""
    SELECT c.c_mktsegment,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_finished,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_open,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pending,
           {DSUM_SQL.format(x="CASE WHEN o.o_orderstatus = 'F' THEN o.o_totalprice ELSE 0 END")}
               AS finished_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def b15_segment_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count-if pivot by status (reference A7 pattern:
    `sum(when(cond,1).otherwise(0))`, AnalysisAggregator.scala:138-142)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def count_if(status: str, alias: str):
        return F.sum(
            F.when(F.col("o_orderstatus") == status, 1).otherwise(0)
        ).alias(alias)

    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            count_if("F", "n_finished"),
            count_if("O", "n_open"),
            count_if("P", "n_pending"),
            dsum(
                F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(0.0),
                "finished_price",
            ),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# b17 — range-frame window (events within trailing 5 minutes)
# ---------------------------------------------------------------------------
@query(
    "b17_clicks_before_purchase",
    oracle="""
    WITH ev AS (SELECT event_id, user_id, event_type,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
                FROM events)
    SELECT p.event_id, p.user_id,
           (SELECT COUNT(*) FROM ev c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND c.tsu BETWEEN p.tsu - 300000000 AND p.tsu) AS clicks_5m
    FROM ev p
    WHERE p.event_type = 'purchase'
    ORDER BY p.event_id
    """,
)
def b17_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase, clicks by the same user in the trailing 5 minutes —
    a time-range join expressed as a rangeBetween window frame: ONE
    shuffle on user_id instead of an O(n·k) self-join; range frames
    include all ties deterministically."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "tsu", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsu")
        .rangeBetween(-300_000_000, 0)
    )
    return (
        ev.withColumn(
            "clicks_5m",
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).over(w),
        )
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "clicks_5m")
        .orderBy("event_id")
    )
