"""Relational coverage extensions (g-group): outer joins, exact
percentiles, manual variance (deterministic), lead/lag windows,
unpivot, cross-join grids, intersect — rounding out the operator
inventory beyond what the reference uses (SURVEY.md §2.3 notes the
reference has no joins/set-ops at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggregates import DSUM_SQL, davg, dsum, pround, pround_sql
from ..sources.batch import load_table
from .registry import persist_tracked, query


# ---------------------------------------------------------------------------
# g01 — full outer join + coalesce bucketing
# ---------------------------------------------------------------------------
@query(
    "g01_customer_order_coverage",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey, COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey)
    SELECT COALESCE(p.n_orders, 0) AS n_orders,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_acctbal
    FROM customer c FULL OUTER JOIN per_cust p ON c.c_custkey = p.o_custkey
    GROUP BY COALESCE(p.n_orders, 0)
    ORDER BY n_orders
    """,
)
def g01_customer_order_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of customers against per-customer order counts,
    bucketed by order count (0 = never ordered). Aggregate-then-join
    keeps the outer join dimension-sized on both sides."""
    cust = load_table(spark, sf_dir, "customer")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "full_outer")
        .select(
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.col("c_acctbal"),
        )
        .groupBy("n_orders")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_acctbal"),
        )
        .orderBy("n_orders")
    )


# ---------------------------------------------------------------------------
# g02 — exact percentiles (median / p90)
# ---------------------------------------------------------------------------
@query(
    "g02_price_percentiles",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           floor((quantile_cont(o_totalprice, 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS median_price,
           floor((quantile_cont(o_totalprice, 0.9)) * 1000000.0 + 0.5) / 1000000.0 AS p90_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def g02_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (`F.percentile` ==
    SQL-standard PERCENTILE_CONT == DuckDB quantile_cont; rounded to 6dp
    to absorb any last-ulp interpolation-order difference). Exact
    percentile is a sort-based aggregate — at 100 TB prefer
    approx_percentile (t-digest) for sketchable accuracy; kept exact
    here because the oracle must match bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            pround(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("median_price"),
            pround(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# g03 — deterministic variance/stddev via exact decimal moments
# ---------------------------------------------------------------------------
@query(
    "g03_acctbal_dispersion",
    oracle=f"""
    WITH m AS (
        SELECT c_mktsegment,
               COUNT(*) AS n,
               {DSUM_SQL.format(x='c_acctbal')} AS s1,
               {DSUM_SQL.format(x='c_acctbal * c_acctbal')} AS s2
        FROM customer GROUP BY c_mktsegment)
    SELECT c_mktsegment, n,
           floor((s1 / n) * 1000000.0 + 0.5) / 1000000.0 AS mean_acctbal,
           floor(((s2 - s1 * s1 / n) / (n - 1)) * 1000000.0 + 0.5) / 1000000.0 AS var_acctbal,
           floor((sqrt((s2 - s1 * s1 / n) / (n - 1))) * 1000000.0 + 0.5) / 1000000.0 AS stddev_acctbal
    FROM m
    ORDER BY c_mktsegment
    """,
)
def g03_acctbal_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev from exact decimal first/second moments —
    order-independent (unlike the built-in streaming variance, whose
    merge order varies with partitioning) and engine-portable; sqrt is
    IEEE-exact so determinism survives. This is also the right shape at
    scale: two decimal sums in one pass."""
    cust = load_table(spark, sf_dir, "customer")
    m = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("c_acctbal", "s1"),
        dsum(F.col("c_acctbal") * F.col("c_acctbal"), "s2"),
    )
    # n = 1 group (e.g. a lone NULL-segment row): sample variance is
    # undefined — try_divide yields NULL, matching the oracle's x/0.
    var = F.try_divide(
        F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"),
        F.col("n") - 1,
    )
    return (
        m.select(
            "c_mktsegment",
            "n",
            pround(F.col("s1") / F.col("n"), 6).alias("mean_acctbal"),
            pround(var, 6).alias("var_acctbal"),
            pround(F.sqrt(var), 6).alias("stddev_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# g04 — lead/lag ordered windows (inter-order gaps)
# ---------------------------------------------------------------------------
@query(
    "g04_order_gaps",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
               LAG(o_orderdate) OVER w AS prev_date,
               LEAD(o_orderdate) OVER w AS next_date
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
    SELECT o_custkey, o_orderkey,
           CAST(datediff('day', prev_date, o_orderdate) AS BIGINT) AS days_since_prev,
           CAST(datediff('day', o_orderdate, next_date) AS BIGINT) AS days_until_next
    FROM seq
    WHERE prev_date IS NOT NULL
    ORDER BY o_custkey, o_orderkey
    """,
)
def g04_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over (customer, order-date) sequences with a unique
    tiebreak — one shuffle on o_custkey, deterministic under ties."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
            .cast("long")
            .alias("days_since_prev"),
            F.datediff(F.lead("o_orderdate").over(w), F.col("o_orderdate"))
            .cast("long")
            .alias("days_until_next"),
        )
        .filter(F.col("days_since_prev").isNotNull())
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# g05 — unpivot (stack) wide→long
# ---------------------------------------------------------------------------
@query(
    "g05_status_unpivot",
    oracle=f"""
    WITH wide AS (
        SELECT o_orderpriority,
               {DSUM_SQL.format(x="CASE WHEN o_orderstatus='F' THEN o_totalprice ELSE 0 END")} AS finished,
               {DSUM_SQL.format(x="CASE WHEN o_orderstatus='O' THEN o_totalprice ELSE 0 END")} AS open_,
               {DSUM_SQL.format(x="CASE WHEN o_orderstatus='P' THEN o_totalprice ELSE 0 END")} AS pending
        FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, status, revenue FROM (
        SELECT o_orderpriority, 'F' AS status, finished AS revenue FROM wide
        UNION ALL
        SELECT o_orderpriority, 'O', open_ FROM wide
        UNION ALL
        SELECT o_orderpriority, 'P', pending FROM wide)
    ORDER BY o_orderpriority, status
    """,
)
def g05_status_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-then-unpivot: conditional-sum pivot to wide, then
    ``stack()`` back to long — the Expand-based unpivot primitive."""
    orders = load_table(spark, sf_dir, "orders")

    def cond_sum(status: str, alias: str):
        return dsum(
            F.when(F.col("o_orderstatus") == status, F.col("o_totalprice")).otherwise(
                0.0
            ),
            alias,
        )

    wide = orders.groupBy("o_orderpriority").agg(
        cond_sum("F", "finished"), cond_sum("O", "open_"), cond_sum("P", "pending")
    )
    return (
        wide.select(
            "o_orderpriority",
            F.expr(
                "stack(3, 'F', finished, 'O', open_, 'P', pending) AS (status, revenue)"
            ),
        )
        .orderBy("o_orderpriority", "status")
    )


# ---------------------------------------------------------------------------
# g06 — cross-join dimension grid + zero-filled counts
# ---------------------------------------------------------------------------
@query(
    "g06_region_status_grid",
    oracle="""
    WITH grid AS (
        SELECT r_name, s FROM region
        CROSS JOIN (SELECT UNNEST(['F','O','P']) AS s)),
    actual AS (
        SELECT r.r_name, o.o_orderstatus AS s, COUNT(*) AS n
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        JOIN region r ON n2.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, o.o_orderstatus)
    SELECT g.r_name, g.s AS o_orderstatus, COALESCE(a.n, 0) AS n_orders
    FROM grid g LEFT JOIN actual a ON g.r_name = a.r_name AND g.s = a.s
    ORDER BY g.r_name, o_orderstatus
    """,
)
def g06_region_status_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense region×status grid: cross join of small dims LEFT JOINed to
    actual counts, zeros filled — the standard report-densification
    shape (all-broadcast, no fact-side shuffle beyond the agg)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    statuses = spark.createDataFrame([("F",), ("O",), ("P",)], ["s"])
    grid = region.select("r_name").crossJoin(statuses)
    actual = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", F.col("o_orderstatus").alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        grid.join(actual, ["r_name", "s"], "left")
        .select(
            "r_name",
            F.col("s").alias("o_orderstatus"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
        )
        .orderBy("r_name", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# g07 — INTERSECT set op
# ---------------------------------------------------------------------------
@query(
    "g07_building_with_open_orders",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    ORDER BY c_custkey
    """,
)
def g07_building_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT DISTINCT (Spark `intersect`)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    open_orders = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return building.intersect(open_orders).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# g08 — string expression surface
# ---------------------------------------------------------------------------
@query(
    "g08_part_name_features",
    oracle="""
    SELECT p_partkey,
           -- Case mapping follows Unicode FULL uppercase (the
           -- JVM/ICU behavior): ß expands to SS. DuckDB's utf8proc
           -- upper() maps ß to the single char U+1E9E instead, so the
           -- oracle pre-expands the one divergent codepoint in this
           -- domain. (Other full-vs-simple divergences — ligatures,
           -- İ — are out of the fixture's character set.)
           upper(replace(p_brand, 'ß', 'ss')) AS brand_upper,
           CAST(length(p_name) AS BIGINT) AS name_len,
           substr(p_name, 1, 10) AS name_prefix,
           replace(p_type, ' ', '_') AS type_slug,
           CAST(contains(p_name, 'a') AS BOOLEAN) AS has_a,
           -- concat_ws, matching the Spark side: skip-NULL join
           -- semantics (DuckDB's concat() would keep the ':' literal
           -- next to a NULL operand: ':ECONOMY')
           concat_ws(':', p_brand, p_type) AS brand_type
    FROM part
    ORDER BY p_partkey
    """,
)
def g08_part_name_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface (upper/length/substr/replace/
    contains/concat) — pure projection, fully pushdown-friendly."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.upper("p_brand").alias("brand_upper"),
            F.length("p_name").cast("long").alias("name_len"),
            F.substring("p_name", 1, 10).alias("name_prefix"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_slug"),
            F.col("p_name").contains("a").alias("has_a"),
            F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        )
        .orderBy("p_partkey")
    )


@query(
    "g09_multigrain_time_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS VARCHAR) AS day,
           CASE WHEN GROUPING(hour(ts)) = 0
                THEN CAST(hour(ts) AS BIGINT) ELSE -1 END AS hr,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY GROUPING SETS ((date_trunc('day', ts), hour(ts), event_type),
                            (date_trunc('day', ts), event_type))
    ORDER BY day, hr, event_type
    """,
)
def g09_multigrain_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hourly AND daily
    grains for the events fact in ONE pass via GROUPING SETS — Spark
    plans a single scan + Expand, so adding a grain costs an extra
    aggregation stream, not an extra scan of the 100 TB table. `hr=-1`
    marks daily-grain rows (the GROUPING() sentinel, kept explicit so
    the result is self-describing like a timescale continuous aggregate).
    """
    ev = load_table(spark, sf_dir, "events")
    pre = ev.select(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.hour(F.col("ts")).alias("h"),
        "event_type",
        "value",
    )
    d, h, et = F.col("d"), F.col("h"), F.col("event_type")
    return (
        pre.groupingSets([[d, h, et], [d, et]], d, h, et)
        .agg(
            F.grouping("h").alias("_gh"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
        )
        .select(
            F.col("d").cast("date").cast("string").alias("day"),
            F.when(F.col("_gh") == 0, F.col("h").cast("long"))
            .otherwise(F.lit(-1))
            .alias("hr"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("day", "hr", "event_type")
    )


@query(
    "g10_json_extraction",
    oracle="""
    WITH p AS (SELECT event_type,
                      CASE WHEN json_valid(props) THEN
                          CAST(json_extract(props, '$.k') AS INTEGER)
                      END AS k
               FROM events)
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(k) AS n_parsed,
           CAST(SUM(CAST(k AS DECIMAL(25,6))) AS DOUBLE) / COUNT(k) AS avg_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           COUNT(DISTINCT k // 10) AS k_deciles_seen
    FROM p
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def g10_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared JSON parsing of the ``props`` payload column —
    the reference's S2/S3 Kafka-value path (``from_json`` against a
    StructType, malformed → null, never schema drift;
    Schemas.scala:44-48) exercised over the fixture.

    Scale: from_json with an explicit schema is a codegen'd JVM
    expression — parse happens during the scan projection, only the
    referenced field is materialized, and nulls (not exceptions) keep
    a 100 TB parse job from dying on one bad record.
    """
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k INT").getField("k").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_parsed"),
            davg("k", "avg_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.countDistinct(F.floor(F.col("k") / 10)).alias("k_deciles_seen"),
        )
        .orderBy("event_type")
    )


@query(
    "g11_user_funnel",
    oracle="""
    WITH stages AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(t_view) AS n_view,
           CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
               AS n_view_click,
           CAST(SUM(CASE WHEN t_purchase > t_click AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel,
           floor((SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) * 1.0
                 / COUNT(t_view)) * 1000000.0 + 0.5) / 1000000.0 AS view_to_click_rate,
           floor((SUM(CASE WHEN t_purchase > t_click AND t_click > t_view
                          THEN 1 ELSE 0 END) * 1.0
                 / COUNT(t_view)) * 1000000.0 + 0.5) / 1000000.0 AS full_funnel_rate
    FROM stages
    """,
)
def g11_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): per-user first
    timestamp of each stage via conditional MIN (one pass, one shuffle
    on user_id — NOT one scan per stage), then ordering predicates count
    users who progressed through stages in sequence. NULL time
    comparisons are false in both engines, so users missing a stage drop
    out of downstream counts without explicit null handling.

    Scale: the classic funnel anti-pattern is N self-joins of the event
    table (one per stage); the conditional-MIN pivot keeps it at one
    scan + one user-keyed aggregation regardless of funnel depth.
    """
    ev = load_table(spark, sf_dir, "events")

    def first_ts(stage: str):
        return F.min(F.when(F.col("event_type") == stage, F.col("ts")))

    stages = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    did_click = F.col("t_click") > F.col("t_view")
    full = (F.col("t_purchase") > F.col("t_click")) & did_click
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return stages.agg(
        F.count("t_view").alias("n_view"),
        cnt(did_click).alias("n_view_click"),
        cnt(full).alias("n_full_funnel"),
        pround(F.try_divide(cnt(did_click) * 1.0, F.count("t_view")), 6)
        .alias("view_to_click_rate"),
        pround(F.try_divide(cnt(full) * 1.0, F.count("t_view")), 6)
        .alias("full_funnel_rate"),
    )


# One SQL text, two engines: executed verbatim by spark.sql AND by the
# DuckDB oracle — the strongest possible dialect-parity statement.
_G12_SQL = """
    SELECT r.r_name,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT c.c_custkey) AS n_customers,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
               AS total_revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
    GROUP BY r.r_name
    ORDER BY r.r_name
"""


@query("g12_sql_interface", oracle=_G12_SQL)
def g12_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-string entry point: fixture tables registered as views,
    then ``spark.sql`` runs the IDENTICAL text the DuckDB oracle runs —
    ANSI joins, decimal-exact aggregation, timestamp literal and all.
    Catalyst plans it exactly like the DataFrame twin (b03): broadcast
    dims, pushed date filter, partial/final agg — declaring the query in
    SQL instead of DataFrame calls changes nothing about the physical
    plan, which is the point of an engine with one optimizer."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir)
    return spark.sql(_G12_SQL)


# ---------------------------------------------------------------------------
# g13 — cross-series correlation (deterministic moment accumulation)
# ---------------------------------------------------------------------------
#: Exact 6-dp half-away-from-zero quantization of the mean s6/n_vals
#: (s6 = decimal sum in integer micro-units) in pure integer arithmetic
#: — engine-portable where round(double, 6) is not. Shared with the
#: boundary test in tests/test_analytics.py.
_MICRO_MEAN_SQL = (
    "CAST((CASE WHEN s6 < 0"
    "           THEN -((2 * (-s6) + n_vals) DIV (2 * n_vals))"
    "           ELSE (2 * s6 + n_vals) DIV (2 * n_vals) END)"
    "     * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(18,6))"
)
@query(
    "g13_value_correlation",
    oracle="""
    WITH s0 AS (SELECT event_type,
                       date_trunc('minute', CAST(ts AS TIMESTAMP)) AS mb,
                       CAST(SUM(CAST(value AS DECIMAL(25,6))) * 1000000
                            AS BIGINT) AS s6,
                       COUNT(value) AS n
                FROM events GROUP BY event_type, mb),
    s AS (SELECT event_type, mb,
                 CAST((CASE WHEN s6 < 0
                            THEN -((2 * (-s6) + n) // (2 * n))
                            ELSE (2 * s6 + n) // (2 * n) END)
                      * CAST(0.000001 AS DECIMAL(7,6))
                      AS DECIMAL(18,6)) AS m
          FROM s0),
    p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                 a.m AS x, b.m AS y
          FROM s a JOIN s b ON a.mb = b.mb AND a.event_type < b.event_type),
    agg AS (SELECT type_a, type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_buckets,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
            FROM p GROUP BY type_a, type_b),
    v AS (SELECT type_a, type_b, n_buckets,
                 n_buckets * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n,
                 n_buckets * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
                 n_buckets * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
          FROM agg)
    SELECT type_a, type_b, n_buckets,
           CASE WHEN vx <= 0 OR vy <= 0 THEN NULL
                ELSE floor((cov_n / (sqrt(vx) * sqrt(vy))) * 1000000.0 + 0.5) / 1000000.0
           END AS corr
    FROM v
    ORDER BY type_a, type_b
    """,
)
def g13_value_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between the per-minute mean-value
    series of every event-type pair — the cross-series analytics shape
    (do purchases move with clicks?).

    Determinism design: built-in ``corr()`` accumulates float moments in
    partition order, so its low bits are partition-dependent and
    engine-specific — unusable under a bit-exact gate. Instead the
    series values are quantized to DECIMAL(18,6) and every moment
    (Σx, Σy, Σxy, Σx², Σy²) is accumulated in EXACT decimal arithmetic
    (associative — any partitioning, any engine, same digits); only the
    final closed-form combination runs in double, as the identical
    expression on both engines. Same discipline as dsum, extended to
    second moments.

    The quantization itself is also exact: the per-minute mean is
    rounded half-away-from-zero to 6 dp entirely in INTEGER micro-unit
    arithmetic — m6 = (2·|S6| + n) div (2·n) on the micro-scaled
    decimal sum — never through a double. ``round(double, 6)`` was the
    one residual engine-divergence risk here: Spark rounds the exact
    binary expansion via BigDecimal HALF_UP while DuckDB rounds the
    scaled double, which can disagree on an exact .5 boundary. Integer
    div/add are bit-identical on both engines by construction
    (truncating division, non-negative operands after the sign split).

    Scale: two shuffles total — the (type, minute) pre-aggregation
    (map-side combinable) and the |types|²-sized pair aggregation over
    the bucket-joined series; the events table is scanned once."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.groupBy(
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("mb"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(25,6)")).alias("dsum_raw"),
            F.count("value").alias("n_vals"),
        )
        .withColumn("s6", F.expr("CAST(dsum_raw * 1000000 AS BIGINT)"))
        .select(
            "event_type", "mb",
            F.expr(_MICRO_MEAN_SQL).alias("m"),
        )
    )
    a, b = s.alias("a"), s.alias("b")
    p = a.join(
        b,
        (F.col("a.mb") == F.col("b.mb"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.m").alias("x"),
        F.col("b.m").alias("y"),
    )
    agg = p.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_buckets")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    # NULL for degenerate pairs: a constant series has zero variance,
    # which double rounding of the exact sums can surface as a tiny
    # NEGATIVE — guard on the variance terms (identical expression on
    # both engines, so the sign agrees) before any sqrt/divide.
    corr = F.when(
        (vx <= 0) | (vy <= 0), F.lit(None).cast("double")
    ).otherwise(pround(cov_n / (F.sqrt(vx) * F.sqrt(vy)), 6))
    return agg.select(
        "type_a", "type_b", "n_buckets", corr.alias("corr")
    ).orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# g14 — staged conversion funnel (ordered event-sequence analytics)
# ---------------------------------------------------------------------------
@query(
    "g14_conversion_funnel",
    oracle="""
    WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                FROM events),
    s1 AS (SELECT user_id, MIN(ts) AS t_signup
           FROM ev WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, s1.t_signup, MIN(e.ts) AS t_click
           FROM ev e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t_signup
           GROUP BY e.user_id, s1.t_signup),
    s3 AS (SELECT e.user_id, s2.t_signup, s2.t_click, MIN(e.ts) AS t_purchase
           FROM ev e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
           GROUP BY e.user_id, s2.t_signup, s2.t_click)
    SELECT s1.user_id, s1.t_signup, s2.t_click, s3.t_purchase,
           CASE WHEN s3.t_purchase IS NULL THEN NULL
                ELSE epoch_us(s3.t_purchase) - epoch_us(s1.t_signup)
           END AS funnel_us
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id
    LEFT JOIN s3 ON s3.user_id = s1.user_id
    ORDER BY s1.user_id
    """,
)
def g14_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence conversion funnel: for every user who signed
    up, the first click strictly AFTER the signup, then the first
    purchase strictly after that click — the staged min-ts chaining
    that sessionized product analytics is built on (each stage's
    predicate depends on the previous stage's aggregate, so it is NOT a
    single grouped aggregation).

    Scale design: three scans of events, each pushed down to one
    event_type (on a production table partitioned/clustered by type,
    each scan touches only its slice — the filters reach the parquet
    scan, plan-asserted for the analytics family), then per-stage
    linear shuffles on user_id. The stage joins stay on the same
    user_id key, so a co-partitioned layout reuses one exchange; no
    stage is ever quadratic. Funnel latency is reported in exact
    integer microseconds (epoch_us difference — no float time math)."""
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id", "t_signup")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2.select("user_id", "t_click"), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.join(s2.select("user_id", "t_click"), "user_id", "left")
        .join(s3.select("user_id", "t_purchase"), "user_id", "left")
        .select(
            "user_id", "t_signup", "t_click", "t_purchase",
            F.when(
                F.col("t_purchase").isNull(), F.lit(None).cast("long")
            ).otherwise(
                F.unix_micros(F.col("t_purchase").cast("timestamp"))
                - F.unix_micros(F.col("t_signup").cast("timestamp"))
            ).alias("funnel_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# g15 — cohort retention grid (first-touch cohorts × day offset)
# ---------------------------------------------------------------------------
@query(
    "g15_cohort_retention",
    oracle="""
    WITH ev AS (SELECT user_id,
                       CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
                FROM events),
    first AS (SELECT user_id, MIN(d) AS cohort_date
              FROM ev GROUP BY user_id),
    sizes AS (SELECT cohort_date,
                     CAST(COUNT(*) AS BIGINT) AS cohort_size
              FROM first GROUP BY cohort_date),
    act AS (SELECT DISTINCT user_id, d FROM ev),
    grid AS (SELECT f.cohort_date,
                    CAST(date_diff('day', f.cohort_date, a.d) AS BIGINT)
                        AS day_offset,
                    CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
             FROM act a JOIN first f ON f.user_id = a.user_id
             GROUP BY f.cohort_date, day_offset)
    SELECT g.cohort_date, g.day_offset, s.cohort_size, g.n_active,
           floor((g.n_active * 1.0 / s.cohort_size) * 1000000.0 + 0.5) / 1000000.0 AS retention
    FROM grid g JOIN sizes s ON s.cohort_date = g.cohort_date
    ORDER BY g.cohort_date, g.day_offset
    """,
)
def g15_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users cohorted by their FIRST active
    day; each (cohort, day-offset) cell counts the cohort members still
    active that day, as a fraction of cohort size — the
    activation/retention grid every growth dashboard draws.

    Scale design: first-touch and per-day activity are two
    user_id-keyed aggregations (map-side combinable; the distinct
    collapses each user's day to one row BEFORE the join, so the join
    input is O(users × active-days), not O(events)); the grid
    aggregation shuffles on (cohort, offset) — bounded by days², not by
    data volume — and cohort sizes join back via broadcast (a
    dimension-sized table)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    sizes = first.groupBy("cohort_date").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    act = ev.distinct()
    grid = (
        act.join(first, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff(F.col("d"), F.col("cohort_date")).cast("long")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return (
        grid.join(F.broadcast(sizes), "cohort_date")
        .select(
            "cohort_date", "day_offset", "cohort_size", "n_active",
            pround(F.col("n_active") * 1.0 / F.col("cohort_size"), 6)
            .alias("retention"),
        )
        .orderBy("cohort_date", "day_offset")
    )


# ---------------------------------------------------------------------------
# g16 — range (interval) join via time-bucketing
# ---------------------------------------------------------------------------
@query(
    "g16_range_click_attribution",
    oracle="""
    WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts
          FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.p_ts,
           CAST(COUNT(c.c_ts) AS BIGINT) AS n_clicks,
           MAX(c.c_ts) AS last_click_ts
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.c_ts >= p.p_ts - INTERVAL 24 HOUR
     AND c.c_ts <  p.p_ts
    GROUP BY p.event_id, p.user_id, p.p_ts
    ORDER BY p.event_id
    """,
)
def g16_range_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: for every purchase, the clicks by the same
    user in the preceding 24 hours — last-touch attribution, the classic
    event-correlation shape that SQL writes as an inequality join.

    Scale design: a naive inequality join degenerates to a per-user
    cross product (Spark plans non-equi conditions as BNLJ or an
    exploded SMJ). Instead the interval is EQUI-JOINED on
    (user_id, 24h-bucket): each click emits exactly two candidate
    bucket keys (its own day-bucket and the next — any window that
    starts ≤24h after the click lands in one of the two), purchases
    keep their single bucket, and the true range predicate filters the
    candidate pairs AFTER the hash join. Work is O(events + matching
    pairs), the join is a plain shuffled/broadcast-able hash equi-join
    on a well-distributed composite key, and the 2× click fan-out is
    the entire overhead — the standard bucketed-range-join rewrite that
    range-join-capable engines apply automatically. The LEFT join +
    count-if keeps zero-click purchases in the result without a second
    pass."""
    day_us = 86_400_000_000  # 24 h in microseconds
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id",
        F.col("ts").alias("p_ts"),
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(day_us))
        .cast("long").alias("bucket"),
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("c_ts"),
            (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(day_us))
            .cast("long").alias("b0"),
        )
        .withColumn("bucket", F.explode(F.array(F.col("b0"), F.col("b0") + 1)))
        .drop("b0")
    )
    in_range = (
        F.unix_micros(F.col("c_ts").cast("timestamp"))
        >= F.unix_micros(F.col("p_ts").cast("timestamp")) - F.lit(day_us)
    ) & (
        F.unix_micros(F.col("c_ts").cast("timestamp"))
        < F.unix_micros(F.col("p_ts").cast("timestamp"))
    )
    return (
        p.join(c, ["user_id", "bucket"], "left")
        .groupBy("event_id", "user_id", "p_ts")
        .agg(
            F.count(F.when(in_range, F.lit(1))).alias("n_clicks"),
            F.max(F.when(in_range, F.col("c_ts"))).alias("last_click_ts"),
        )
        .select("event_id", "user_id", "p_ts", "n_clicks", "last_click_ts")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# g17 — time-weighted average (TWAP) in exact integer arithmetic
# ---------------------------------------------------------------------------
@query(
    "g17_time_weighted_value",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               CAST(CAST(value AS DECIMAL(25,3)) * 1000 AS BIGINT) AS v3,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               LEAD(epoch_us(CAST(ts AS TIMESTAMP)))
                   OVER (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   AS next_us
        FROM events),
    iv AS (SELECT user_id, v3, next_us - us AS dur_us
           FROM seq WHERE next_us IS NOT NULL),
    agg AS (SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_intervals,
                   SUM(dur_us) AS span_us,
                   SUM(v3 * dur_us) AS nsum
            FROM iv GROUP BY user_id)
    SELECT user_id, n_intervals, CAST(span_us AS BIGINT) AS span_us,
           CAST(CASE WHEN nsum < 0
                     THEN -((2 * CAST(-nsum AS BIGINT)
                             + CAST(span_us AS BIGINT))
                            // (2 * CAST(span_us AS BIGINT)))
                     ELSE (2 * CAST(nsum AS BIGINT)
                           + CAST(span_us AS BIGINT))
                          // (2 * CAST(span_us AS BIGINT))
                END AS DOUBLE) / 1000.0 AS twap
    FROM agg
    ORDER BY user_id
    """,
)
def g17_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value (TWAP): each event's value
    holds until the user's next event and is weighted by that exact
    duration — the irregular-time-series mean that plain AVG gets wrong
    whenever sampling is bursty.

    Determinism design: float Σ(value·Δt) is partition-order-dependent,
    so the whole pipeline runs in INTEGER arithmetic — values quantized
    to milli-units (≤5.61e5 for this domain), durations kept in exact
    microseconds (≤2.6e12 for the 30-day span), products ≤1.5e18 and
    their sums bounded by max(v3)·Σdur ≤ 1.5e18: everything fits int64
    with 6× headroom, asserted conservatively rather than hoped (a
    wider domain would widen v3·dur to DECIMAL and re-derive the
    bound). The final mean is rounded half-away-from-zero entirely in
    integer division — (2N + D) div 2D after the same sign split g13's
    micro-mean uses, so a negative value domain rounds correctly too —
    the engine-portable discipline of g13's micro-unit means; the only
    double in the whole path is the final presentation divide of a
    small exact integer by 1000 (IEEE-exact, identical on both
    engines), so any partitioning on any engine produces identical
    digits.

    Scale design: one window (single linear shuffle on user_id — the
    partition key is the analysis key, so a table clustered by user
    needs no shuffle at all) feeding one map-side-combinable groupBy on
    the same key, which AQE/codegen fuse into the window's exchange;
    the events table is scanned once."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = (
        ev.select(
            "user_id",
            F.expr(
                "CAST(CAST(value AS DECIMAL(25,3)) * 1000 AS BIGINT)"
            ).alias("v3"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            F.lead(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
            .alias("next_us"),
        )
        .filter(F.col("next_us").isNotNull())
        .select("user_id", "v3", (F.col("next_us") - F.col("us")).alias("dur_us"))
    )
    agg = iv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur_us").alias("span_us"),
        F.sum(F.col("v3") * F.col("dur_us")).alias("nsum"),
    )
    return agg.select(
        "user_id", "n_intervals", "span_us",
        (
            # span_us = 0 guard (all of a user's events on one
            # timestamp): ANSI DIV errors on zero; the oracle's // is
            # NULL there — no time elapsed means no time-weighted mean.
            F.expr(
                "CAST(CASE WHEN span_us = 0 THEN NULL"
                " WHEN nsum < 0"
                " THEN -((2 * -nsum + span_us) DIV (2 * span_us))"
                " ELSE (2 * nsum + span_us) DIV (2 * span_us)"
                " END AS DOUBLE)"
            )
            / F.lit(1000.0)
        ).alias("twap"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# g18 — gap-based batch sessionization (lag → cumulative session ids)
# ---------------------------------------------------------------------------
@query(
    "g18_session_stats",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                   OVER (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
        FROM events),
    marked AS (
        SELECT user_id, event_id, us,
               CASE WHEN prev_us IS NULL
                         OR us - prev_us > 1800000000 THEN 1
                    ELSE 0 END AS is_start
        FROM seq),
    sess AS (
        SELECT user_id, event_id, us,
               SUM(is_start) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM marked)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(us) AS start_us,
           MAX(us) AS end_us,
           MAX(us) - MIN(us) AS duration_us
    FROM sess
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def g18_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization: a new session starts whenever a
    user is idle for more than 30 minutes; the session id is the
    running count of session-starts — the lag → flag → cumulative-sum
    idiom that turns an event log into sessions without any stateful
    operator. (f03 is the streaming twin via ``session_window``; this
    is the batch/backfill path every lambda pipeline also needs, and
    unlike ``session_window`` it yields a stable per-user session
    ordinal usable as a join key.)

    Scale design: ONE shuffle — lag, the session-start flag, and the
    running sum all share the same (user_id; ts, event_id) window
    frame, so Spark plans a single Exchange+Sort and evaluates both
    window functions in one pass; the closing per-session aggregate is
    map-side combinable on the already-co-located (user_id,
    session_seq) key. Timestamps stay in exact integer microseconds —
    no float time math, bit-identical on any engine/partitioning."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    seq = ev.select(
        "user_id", "event_id", us.alias("us"),
        F.lag(us).over(w).alias("prev_us"),
    )
    marked = seq.withColumn(
        "is_start",
        F.when(
            F.col("prev_us").isNull()
            | (F.col("us") - F.col("prev_us") > 1_800_000_000),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.withColumn(
        "session_seq", F.sum("is_start").over(wrun).cast("long")
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
            (F.max("us") - F.min("us")).alias("duration_us"),
        )
        .orderBy("user_id", "session_seq")
    )


# ---------------------------------------------------------------------------
# g19 — time-series gap fill + linear interpolation
# ---------------------------------------------------------------------------
@query(
    "g19_gap_fill_interpolate",
    oracle=f"""
    WITH ev AS (SELECT event_type,
                       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                       value
                FROM events),
    act AS (SELECT event_type, h,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   {pround_sql('CAST(SUM(CAST(value AS DECIMAL(25,6))) '
                               'AS DOUBLE) / COUNT(*)', 6)} AS val
            FROM ev GROUP BY event_type, h),
    bounds AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
               FROM act GROUP BY event_type),
    grid AS (SELECT event_type,
                    unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
             FROM bounds),
    j AS (SELECT g.event_type, g.h, epoch_us(g.h) AS hu, a.n_events, a.val
          FROM grid g LEFT JOIN act a
            ON a.event_type = g.event_type AND a.h = g.h),
    w AS (SELECT *,
            last_value(val IGNORE NULLS) OVER
                (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
            last_value(CASE WHEN val IS NOT NULL THEN hu END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
            first_value(val IGNORE NULLS) OVER
                (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
            first_value(CASE WHEN val IS NOT NULL THEN hu END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
          FROM j)
    SELECT event_type, h AS hour_start,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           CASE WHEN val IS NOT NULL THEN val
                ELSE {pround_sql(
                         'pv + (nv - pv) * (hu - ph) * 1.0 / (nh - ph)', 6)}
           END AS value,
           (val IS NULL) AS is_gap
    FROM w
    ORDER BY event_type, hour_start
    """,
)
def g19_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: hourly per-type averages on a DENSE
    hour grid, with empty hours linearly interpolated between their
    nearest observed neighbors — the resample/gap-fill step every
    downstream forecasting or anomaly job assumes has already happened.

    Scale: the actuals are one map-side-combinable aggregate; the grid
    is generated per type from its (min, max) hour — never a driver
    loop — and is bounded by time range, not data volume; the
    neighbor-carry windows partition by event_type (bounded state,
    parallel across types; a single-series deployment would bucket by
    coarse time ranges and stitch boundaries). All time math is exact
    integer microseconds; interpolated values quantize through the
    portable floor formula on 6-dp-quantized endpoints, so both engines
    interpolate identical doubles.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
        "value",
    )
    # persisted: bounds AND the grid join both consume act — without
    # the persist Catalyst recomputes it from a second full scan of
    # events (the hourly rollup is |types|x|hours| rows, metadata-sized
    # at any SF, so caching it is free; rescanning 100 TB is not).
    act = persist_tracked(
        ev.groupBy("event_type", "h").agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(dsum("value") / F.count(F.lit(1)), 6).alias("val"),
        )
    )
    bounds = act.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    j = grid.join(act, ["event_type", "h"], "left").withColumn(
        "hu", F.unix_micros(F.col("h").cast("timestamp"))
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    hu_obs = F.when(F.col("val").isNotNull(), F.col("hu"))
    filled = j.select(
        "event_type",
        F.col("h").alias("hour_start"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        "val",
        F.last("val", ignorenulls=True).over(wp).alias("pv"),
        F.last(hu_obs, ignorenulls=True).over(wp).alias("ph"),
        F.first("val", ignorenulls=True).over(wn).alias("nv"),
        F.first(hu_obs, ignorenulls=True).over(wn).alias("nh"),
        "hu",
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.col("hu") - F.col("ph")
    ) * F.lit(1.0) / (F.col("nh") - F.col("ph"))
    return filled.select(
        "event_type",
        "hour_start",
        "n_events",
        F.when(F.col("val").isNotNull(), F.col("val"))
        .otherwise(pround(interp, 6))
        .alias("value"),
        F.col("val").isNull().alias("is_gap"),
    ).orderBy("event_type", "hour_start")


# ---------------------------------------------------------------------------
# g20 — SCD2 dimension history (change-data versioning)
# ---------------------------------------------------------------------------
@query(
    "g20_scd2_priority_history",
    oracle="""
    WITH s AS (SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate,
                      LAG(o_orderpriority) OVER
                          (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS prev
               FROM orders),
    m AS (SELECT *, CASE WHEN prev IS NULL OR prev <> o_orderpriority
                         THEN 1 ELSE 0 END AS chg
          FROM s),
    r AS (SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey
                                   ROWS UNBOUNDED PRECEDING) AS version
          FROM m),
    v AS (SELECT o_custkey, CAST(version AS BIGINT) AS version,
                 MIN(o_orderpriority) AS o_orderpriority,
                 MIN(o_orderdate) AS valid_from,
                 CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM r GROUP BY o_custkey, version)
    SELECT o_custkey, version, o_orderpriority, valid_from,
           LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
               AS valid_to,
           n_orders,
           (LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
            IS NULL) AS is_current
    FROM v
    ORDER BY o_custkey, version
    """,
)
def g20_scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: collapse each customer's
    order-priority timeline into versioned validity intervals
    ([valid_from, valid_to), NULL-open current row) via change
    detection — the MERGE-free batch recipe for maintaining dimension
    history from an ordered change log.

    Scale: every step lives on o_custkey partitioning — the change
    flags, row numbers, and per-customer totals share one
    (o_custkey; date, key) window Exchange, and the run collapse is
    NOT a groupBy (which would re-shuffle on (custkey, version)):
    each run is represented by its start row, whose extent comes from
    lead() arithmetic on row numbers within the same partitioning. One
    shuffle total; per-key state is a lagged value. The total order
    within each customer (date, then unique order key) makes versions
    deterministic under any partitioning.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    prev = F.lag("o_orderpriority").over(w)
    chg = F.when(
        prev.isNull() | (prev != F.col("o_orderpriority")), F.lit(1)
    ).otherwise(F.lit(0))
    marked = o.select(
        "o_custkey",
        "o_orderpriority",
        "o_orderdate",
        chg.alias("chg"),
        F.row_number().over(w).alias("rn"),
        F.sum(chg).over(wrun).cast("long").alias("version"),
        F.count(F.lit(1)).over(wall).alias("cust_n"),
    )
    # run-start rows ARE the versions: valid_from is the start row's
    # own date (the run's minimum by construction), and the run length
    # is the gap to the next start (or to the customer's end).
    starts = marked.filter(F.col("chg") == 1)
    wv = Window.partitionBy("o_custkey").orderBy("version")
    valid_to = F.lead("o_orderdate").over(wv)
    n_orders = (
        F.coalesce(F.lead("rn").over(wv), F.col("cust_n") + 1) - F.col("rn")
    ).cast("long")
    return starts.select(
        "o_custkey",
        "version",
        "o_orderpriority",
        F.col("o_orderdate").alias("valid_from"),
        valid_to.alias("valid_to"),
        n_orders.alias("n_orders"),
        valid_to.isNull().alias("is_current"),
    ).orderBy("o_custkey", "version")


# ---------------------------------------------------------------------------
# g21 — rolling z-score anomaly detection (trailing-window baseline)
# ---------------------------------------------------------------------------
#: Baseline = the trailing 24 observed hours STRICTLY BEFORE the scored
#: hour (range frame -24..-1 on the integer hour index, so calendar
#: gaps shrink the baseline rather than shifting it); hours with fewer
#: than _ZS_MIN_BASE baseline points score NULL.
_ZS_MIN_BASE = 6
_ZS_THRESHOLD = 3.0


@query(
    "g21_rolling_zscore_anomaly",
    oracle=f"""
    WITH ev AS (SELECT event_type,
                       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                       value
                FROM events),
    act AS (SELECT event_type, h,
                   CAST(epoch_us(h) / 3600000000 AS BIGINT) AS hidx,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(floor((CAST(SUM(CAST(value AS DECIMAL(25,6)))
                                    AS DOUBLE) / COUNT(*))
                              * 1000000.0 + 0.5) AS BIGINT) AS vmu
            FROM ev GROUP BY event_type, h),
    w AS (SELECT *,
            COUNT(vmu) OVER tw AS bn,
            SUM(CAST(vmu AS DECIMAL(38,0))) OVER tw AS s1,
            SUM(CAST(vmu AS DECIMAL(38,0)) * CAST(vmu AS DECIMAL(38,0)))
                OVER tw AS s2
          FROM act
          WINDOW tw AS (PARTITION BY event_type ORDER BY hidx
                        RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)),
    z AS (SELECT event_type, h, n_events, vmu, bn,
                 CASE WHEN bn >= {_ZS_MIN_BASE}
                       AND CAST(bn * s2 - s1 * s1 AS DOUBLE) > 0
                      THEN (vmu - CAST(s1 AS DOUBLE) / bn)
                           / sqrt(CAST(bn * s2 - s1 * s1 AS DOUBLE)
                                  / (bn * (bn - 1)))
                 END AS zraw
          FROM w)
    SELECT event_type, h AS hour_start, n_events,
           CAST(vmu AS DOUBLE) / 1000000.0 AS value,
           CAST(bn AS BIGINT) AS baseline_n,
           {pround_sql('zraw', 6)} AS zscore,
           CASE WHEN zraw IS NULL THEN NULL
                ELSE abs(zraw) > {_ZS_THRESHOLD!r} END AS is_anomaly
    FROM z
    ORDER BY event_type, hour_start
    """,
)
def g21_rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type anomaly scores: each hour's mean value against
    the mean/stddev of its own trailing 24 observed hours — the
    rolling-baseline z-score monitor that pages someone when a metric
    jumps (|z| > 3).

    Scale: one map-side-combinable hourly rollup, then a single
    per-type window pass whose RANGE frame holds <= 24 rows of state.
    Determinism is the g13/g17 discipline end-to-end in INTEGER
    micro-units: the hourly mean quantizes to an int64 BEFORE the
    rolling moments, Σv and Σv² accumulate in exact DECIMAL(38,0)
    (order-independent; Σv² can exceed int64), and the variance
    numerator n·Σv² − (Σv)² is formed exactly in decimal before ONE
    correctly-rounded conversion to double — both engines then run the
    same IEEE divide/sqrt and the z-score quantizes through the
    portable floor formula."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
        "value",
    )
    act = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor(
            (dsum("value") / F.count(F.lit(1))) * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long").alias("vmu"),
    ).withColumn(
        "hidx",
        (F.unix_micros(F.col("h").cast("timestamp")) / 3_600_000_000)
        .cast("long"),
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("hidx")
        .rangeBetween(-24, -1)
    )
    vdec = F.col("vmu").cast("decimal(38,0)")
    w = act.select(
        "event_type",
        "h",
        "n_events",
        "vmu",
        F.count("vmu").over(tw).alias("bn"),
        F.sum(vdec).over(tw).alias("s1"),
        F.sum(vdec * vdec).over(tw).alias("s2"),
    )
    var_num = (F.col("bn") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "double"
    )
    zraw = F.when(
        (F.col("bn") >= _ZS_MIN_BASE) & (var_num > 0),
        (F.col("vmu") - F.col("s1").cast("double") / F.col("bn"))
        / F.sqrt(var_num / (F.col("bn") * (F.col("bn") - 1))),
    )
    return w.select(
        "event_type",
        F.col("h").alias("hour_start"),
        "n_events",
        (F.col("vmu").cast("double") / F.lit(1000000.0)).alias("value"),
        F.col("bn").cast("long").alias("baseline_n"),
        pround(zraw, 6).alias("zscore"),
        F.when(zraw.isNotNull(), F.abs(zraw) > _ZS_THRESHOLD).alias(
            "is_anomaly"
        ),
    ).orderBy("event_type", "hour_start")


# ---------------------------------------------------------------------------
# g22 — per-user event-type transition matrix (first-order Markov)
# ---------------------------------------------------------------------------
@query(
    "g22_event_transitions",
    oracle="""
    WITH s AS (SELECT user_id, event_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                          AS prev_type
               FROM events),
    t AS (SELECT prev_type, event_type AS next_type,
                 CAST(COUNT(*) AS BIGINT) AS n_trans
          FROM s WHERE prev_type IS NOT NULL
          GROUP BY prev_type, event_type),
    tot AS (SELECT prev_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
            FROM t GROUP BY prev_type)
    SELECT t.prev_type, t.next_type, t.n_trans, tot.n_from,
           floor((t.n_trans * 1.0 / tot.n_from) * 1000000.0 + 0.5)
               / 1000000.0 AS prob
    FROM t JOIN tot ON tot.prev_type = t.prev_type
    ORDER BY t.prev_type, t.next_type
    """,
)
def g22_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (prev_type → next_type) pair, the transition
    count and conditional probability — the session-path model behind
    next-action prediction and funnel-drop diagnosis.

    Scale: ONE window pass builds the lagged pairs (partitioned by
    user_id — parallel, never global; ordered by (ts, event_id) so the
    sequence is total and the result engine-deterministic), then two
    map-side-combinable aggregates over a |types|^2-bounded key space.
    The per-prev totals join is a broadcast of at most |types| rows.
    The probability divides two exact integers, so the double is
    bit-identical on any partitioning and engine."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    tot = t.groupBy("prev_type").agg(F.sum("n_trans").alias("n_from"))
    return (
        t.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type", "next_type", "n_trans", "n_from",
            pround(F.col("n_trans") * 1.0 / F.col("n_from"), 6).alias("prob"),
        )
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# g23 — snapshot diff (table reconciliation)
# ---------------------------------------------------------------------------
@query(
    "g23_snapshot_diff",
    oracle="""
    WITH snap_b AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.5
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 11 <> 0)
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'deleted'
                WHEN a.o_orderkey IS NULL THEN 'added'
                ELSE 'changed' END AS change_type,
           a.o_totalprice AS old_price,
           b.o_totalprice AS new_price
    FROM orders a
    FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_custkey <> b.o_custkey
       OR a.o_orderstatus <> b.o_orderstatus
       OR a.o_totalprice <> b.o_totalprice
       OR a.o_orderdate <> b.o_orderdate
       OR a.o_orderpriority <> b.o_orderpriority
    ORDER BY o_orderkey
    """,
)
def g23_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (data-diff): classify every primary key
    as added / deleted / changed between two table versions and emit
    only the churn — the audit step behind incremental-load validation
    and CDC backfills. Snapshot B is derived deterministically from
    the orders fixture (every 11th key deleted, every 7th price bumped
    by an IEEE-exact +1.5) so both engines diff identical inputs.

    Scale: ONE co-partitioned full-outer shuffle join on the primary
    key (zero-shuffle if both snapshots share a bucketed layout, b30's
    path); the column comparison is codegen'd per-row work and the
    output is bounded by the churn, never the table. At 100 TB a
    production diff first collapses the non-key columns into a single
    row fingerprint AT SCAN (md5 of the packed row) so only
    (key, fingerprint) shuffles — the explicit per-column compare here
    keeps the result oracle-exact and shows which field moved."""
    orders = load_table(spark, sf_dir, "orders")
    bumped = F.when(
        F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.5
    ).otherwise(F.col("o_totalprice"))
    snap_b = (
        orders.filter(F.col("o_orderkey") % 11 != 0)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            bumped.alias("o_totalprice"), "o_orderdate", "o_orderpriority",
        )
    )
    a, b = orders.alias("a"), snap_b.alias("b")
    ak, bk = F.col("a.o_orderkey"), F.col("b.o_orderkey")
    differs = (
        ak.isNull() | bk.isNull()
        | (F.col("a.o_custkey") != F.col("b.o_custkey"))
        | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
        | (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
        | (F.col("a.o_orderdate") != F.col("b.o_orderdate"))
        | (F.col("a.o_orderpriority") != F.col("b.o_orderpriority"))
    )
    return (
        a.join(b, ak == bk, "full_outer")
        .filter(differs)
        .select(
            F.coalesce(ak, bk).alias("o_orderkey"),
            F.when(bk.isNull(), F.lit("deleted"))
            .when(ak.isNull(), F.lit("added"))
            .otherwise(F.lit("changed"))
            .alias("change_type"),
            F.col("a.o_totalprice").alias("old_price"),
            F.col("b.o_totalprice").alias("new_price"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# g24 — interval coalesce (merge overlapping validity ranges)
# ---------------------------------------------------------------------------
@query(
    "g24_interval_coalesce",
    oracle="""
    WITH iv AS (SELECT o_custkey, o_orderkey,
                       o_orderdate AS ivl_start,
                       o_orderdate + INTERVAL 7 DAY AS ivl_end
                FROM orders),
    m AS (SELECT *, MAX(ivl_end) OVER (
                        PARTITION BY o_custkey
                        ORDER BY ivl_start, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max_end
          FROM iv),
    f AS (SELECT *, CASE WHEN prev_max_end IS NULL
                           OR ivl_start > prev_max_end
                         THEN 1 ELSE 0 END AS is_new
          FROM m),
    g AS (SELECT *, SUM(is_new) OVER (
                        PARTITION BY o_custkey
                        ORDER BY ivl_start, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS island
          FROM f)
    SELECT o_custkey, CAST(island AS BIGINT) AS island,
           MIN(ivl_start) AS merged_start,
           MAX(ivl_end) AS merged_end,
           CAST(COUNT(*) AS BIGINT) AS n_intervals
    FROM g
    GROUP BY o_custkey, island
    ORDER BY o_custkey, island
    """,
)
def g24_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (gaps-and-islands over RANGES): each order
    opens a 7-day validity window per customer; overlapping windows
    merge into maximal islands — the range-merge primitive behind
    entitlement periods, maintenance windows, and contiguous-coverage
    audits. Complements g18, which islands POINT events by gap; here
    intervals themselves carry extent, so a row can be swallowed by a
    predecessor that ends later (the running-max comparison, not lag).

    Scale: both window passes (running max-end, then running island
    sum) and the final aggregate share ONE o_custkey exchange —
    per-customer sequences sort in parallel, and the ordering
    (ivl_start, o_orderkey) is total so island numbering is
    engine-deterministic. Touching intervals (start == prev end)
    merge; only a strict gap starts a new island."""
    orders = load_table(spark, sf_dir, "orders")
    iv = orders.select(
        "o_custkey", "o_orderkey",
        F.col("o_orderdate").alias("ivl_start"),
        F.expr("o_orderdate + INTERVAL 7 DAYS").alias("ivl_end"),
    )
    w = Window.partitionBy("o_custkey").orderBy("ivl_start", "o_orderkey")
    prev_max = F.max("ivl_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "is_new",
        F.when(
            prev_max.isNull() | (F.col("ivl_start") > prev_max), 1
        ).otherwise(0),
    )
    islanded = flagged.withColumn(
        "island",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    return (
        islanded.groupBy("o_custkey", "island")
        .agg(
            F.min("ivl_start").alias("merged_start"),
            F.max("ivl_end").alias("merged_end"),
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
        )
        .orderBy("o_custkey", "island")
    )


# ---------------------------------------------------------------------------
# g25 — hour-of-week seasonality profile
# ---------------------------------------------------------------------------
@query(
    "g25_hour_of_week_profile",
    oracle="""
    WITH e AS (SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
                      CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod,
                      event_type, value
               FROM events),
    g AS (SELECT dow, hod,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_purchases
          FROM e GROUP BY dow, hod),
    t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM g)
    SELECT g.dow, g.hod, g.n_events, g.n_purchases,
           floor((g.n_events * 1.0 / t.total) * 1000000.0 + 0.5) / 1000000.0
               AS share
    FROM g CROSS JOIN t
    ORDER BY g.dow, g.hod
    """,
)
def g25_hour_of_week_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonality: event and purchase counts per
    (day-of-week, hour-of-day) cell plus each cell's share of total
    traffic — the 168-row profile behind capacity planning, anomaly
    baselines (g21's z-scores per cell instead of globally), and
    send-time optimization. Day-of-week is Sunday=0 on both engines
    (Spark's ``dayofweek`` is 1-based Sunday-first; shifted by one to
    match DuckDB's 0-based).

    Scale: one linear scan into a 168-cell aggregate (map-side
    combinable), one broadcast scalar total — no window, no join, no
    skew exposure; the profile merges trivially across any
    partitioning or date range."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
            "event_type",
        )
        .groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("long").alias("n_purchases"),
        )
    )
    t = g.agg(F.sum("n_events").cast("long").alias("total"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "dow", "hod", "n_events", "n_purchases",
            pround(F.col("n_events") * 1.0 / F.col("total"), 6)
            .alias("share"),
        )
        .orderBy("dow", "hod")
    )


# ---------------------------------------------------------------------------
# g26 — RFM customer segmentation (quartile-scored recency/frequency/monetary)
# ---------------------------------------------------------------------------
@query(
    "g26_rfm_segments",
    oracle=f"""
    WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
               FROM events WHERE event_type = 'purchase'),
    anchor AS (SELECT CAST(MAX(ts) AS DATE) AS maxd FROM p),
    per_user AS (SELECT user_id,
                        CAST(COUNT(*) AS BIGINT) AS frequency,
                        {DSUM_SQL.format(x='value')} AS monetary,
                        CAST(MAX(ts) AS DATE) AS last_d
                 FROM p GROUP BY user_id),
    rfm AS (SELECT user_id, frequency, monetary,
                   CAST(date_diff('day', last_d, anchor.maxd) AS BIGINT)
                       AS recency_days
            FROM per_user CROSS JOIN anchor),
    th AS (SELECT
        {pround_sql('quantile_cont(recency_days, 0.25)', 6)} AS r25,
        {pround_sql('quantile_cont(recency_days, 0.50)', 6)} AS r50,
        {pround_sql('quantile_cont(recency_days, 0.75)', 6)} AS r75,
        {pround_sql('quantile_cont(frequency, 0.25)', 6)} AS f25,
        {pround_sql('quantile_cont(frequency, 0.50)', 6)} AS f50,
        {pround_sql('quantile_cont(frequency, 0.75)', 6)} AS f75,
        {pround_sql('quantile_cont(monetary, 0.25)', 6)} AS m25,
        {pround_sql('quantile_cont(monetary, 0.50)', 6)} AS m50,
        {pround_sql('quantile_cont(monetary, 0.75)', 6)} AS m75
        FROM rfm),
    scored AS (SELECT
        CAST(4 - (CAST(recency_days > r25 AS INT)
                  + CAST(recency_days > r50 AS INT)
                  + CAST(recency_days > r75 AS INT)) AS INT) AS r_score,
        CAST(1 + (CAST(frequency > f25 AS INT)
                  + CAST(frequency > f50 AS INT)
                  + CAST(frequency > f75 AS INT)) AS INT) AS f_score,
        CAST(1 + (CAST(monetary > m25 AS INT)
                  + CAST(monetary > m50 AS INT)
                  + CAST(monetary > m75 AS INT)) AS INT) AS m_score,
        monetary
        FROM rfm CROSS JOIN th)
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           {pround_sql('CAST(SUM(CAST(monetary AS DECIMAL(25,6))) AS DOUBLE)',
                       6)} AS total_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def g26_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every purchasing user scored 1-4 on Recency
    (days since last purchase — lower is better, so the score flips),
    Frequency, and Monetary value against the corpus's own exact
    quartiles, then the 4x4x4 segment grid reported with user counts
    and revenue — the marketing-analytics staple (champions = 444,
    at-risk = 1xx) built entirely from one event scan.

    Scale: one linear scan into per-user aggregates (decimal-exact
    monetary), ONE whole-table exact-percentile aggregate producing
    nine scalar thresholds (a 1-row broadcast — g02's determinism
    argument: 6dp-rounded PERCENTILE_CONT matches quantile_cont;
    production swaps in approx_percentile sketches), then a stateless
    scored projection into a <=64-cell map-side-combinable group.
    Scores are integer comparisons against the rounded thresholds, so
    the grid is partitioning-invariant."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    per_user = p.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("frequency"),
        dsum("value", "monetary"),
        F.to_date(F.max("ts")).alias("last_d"),
    )
    anchor = p.agg(F.to_date(F.max("ts")).alias("maxd"))
    rfm = per_user.crossJoin(F.broadcast(anchor)).select(
        "user_id", "frequency", "monetary",
        F.datediff("maxd", "last_d").cast("long").alias("recency_days"),
    )
    th = rfm.agg(
        *[
            pround(F.percentile(c, F.lit(q)), 6).alias(f"{c[0]}{int(q * 100)}")
            for c in ("recency_days", "frequency", "monetary")
            for q in (0.25, 0.50, 0.75)
        ]
    )
    scored = rfm.crossJoin(F.broadcast(th)).select(
        (
            4 - (
                (F.col("recency_days") > F.col("r25")).cast("int")
                + (F.col("recency_days") > F.col("r50")).cast("int")
                + (F.col("recency_days") > F.col("r75")).cast("int")
            )
        ).cast("int").alias("r_score"),
        (
            1 + (
                (F.col("frequency") > F.col("f25")).cast("int")
                + (F.col("frequency") > F.col("f50")).cast("int")
                + (F.col("frequency") > F.col("f75")).cast("int")
            )
        ).cast("int").alias("f_score"),
        (
            1 + (
                (F.col("monetary") > F.col("m25")).cast("int")
                + (F.col("monetary") > F.col("m50")).cast("int")
                + (F.col("monetary") > F.col("m75")).cast("int")
            )
        ).cast("int").alias("m_score"),
        "monetary",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            dsum("monetary", "total_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# g27 — top event paths (first-3-step journey census)
# ---------------------------------------------------------------------------
@query(
    "g27_top_event_paths",
    oracle="""
    WITH r AS (SELECT user_id, event_type,
                      ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS rn
               FROM events),
    pu AS (SELECT user_id,
                  MAX(CASE WHEN rn = 1 THEN event_type END) AS s1,
                  MAX(CASE WHEN rn = 2 THEN event_type END) AS s2,
                  MAX(CASE WHEN rn = 3 THEN event_type END) AS s3
           FROM r WHERE rn <= 3 GROUP BY user_id),
    p AS (SELECT concat_ws('>', s1, s2, s3) AS path FROM pu)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM p GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
)
def g27_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 opening journeys: each user's first three events (ordered
    by timestamp with event_id as the total-order tie-break) joined into
    a ``a>b>c`` path string, counted across users. The product-analytics
    "common paths" report, and the sequence-level complement of g22's
    one-step transition matrix.

    Scale: ONE user-keyed window exchange produces the step ranks; the
    per-user reduce is three conditional MAXes (map-side combinable,
    never collect_list — output is bounded at |event_types|^3 paths
    regardless of corpus size); the final top-20 fuses to
    TakeOrderedAndProject. Users with fewer than three events keep
    their shorter path (concat_ws skips NULLs identically on both
    engines)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = (
        ev.select(
            "user_id", "event_type", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
    )
    pu = r.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("rn") == i, F.col("event_type"))).alias(f"s{i}")
            for i in (1, 2, 3)
        ]
    )
    return (
        pu.select(F.concat_ws(">", "s1", "s2", "s3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# g28 — rolling 7-day active users (exact sliding-window distinct)
# ---------------------------------------------------------------------------
@query(
    "g28_rolling_active_users",
    oracle=f"""
    WITH pr AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    fan AS (SELECT pr.d + CAST(o.i AS INTEGER) AS report_day, pr.user_id
            FROM pr CROSS JOIN
                 (SELECT unnest(generate_series(0, 6)) AS i) o),
    a7 AS (SELECT f.report_day,
                  CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_active_7d
           FROM fan f
           GROUP BY f.report_day),
    a1 AS (SELECT d AS report_day,
                  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_1d
           FROM pr GROUP BY d)
    SELECT a1.report_day, a1.n_active_1d, a7.n_active_7d,
           {pround_sql('a1.n_active_1d * 1.0 / a7.n_active_7d', 6)}
               AS dau_wau_ratio
    FROM a1 JOIN a7 ON a1.report_day = a7.report_day
    ORDER BY a1.report_day
    """,
)
def g28_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day active users per day (DAU next to WAU, plus
    the DAU/WAU stickiness ratio) — the engagement dashboard staple
    that naive SQL writes as a per-day correlated COUNT(DISTINCT ...)
    range scan.

    Scale: the corpus collapses FIRST to distinct (day, user) pairs
    (one map-side-combinable distinct — at 100 TB this is the only
    pass over the raw events); the sliding window is then a fixed 7x
    fan-out of the reduced pair set via sequence+explode (pure
    equi-operations — no BroadcastNestedLoop range join, g16's
    argument), reduced by an exact countDistinct whose key space is
    days x users-per-week, and inner-joined against the real-day
    panel (the DAU aggregate) so phantom trailing days drop out. The
    fan-out factor is the window length — constant, never
    data-dependent."""
    ev = load_table(spark, sf_dir, "events")
    pairs = persist_tracked(
        ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    )
    fan = pairs.select(
        "d", "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
    ).select(F.date_add("d", F.col("i")).alias("report_day"), "user_id")
    # a7 carries up to 6 phantom trailing days past the last observed
    # day; the final inner join against the real-day panel (a1) drops
    # them — no separate day semi-join needed.
    a7 = fan.groupBy("report_day").agg(
        F.countDistinct("user_id").cast("long").alias("n_active_7d")
    )
    a1 = pairs.groupBy(F.col("d").alias("report_day")).agg(
        F.countDistinct("user_id").cast("long").alias("n_active_1d")
    )
    return (
        a1.join(a7, "report_day")
        .select(
            "report_day", "n_active_1d", "n_active_7d",
            pround(
                F.col("n_active_1d") * 1.0 / F.col("n_active_7d"), 6
            ).alias("dau_wau_ratio"),
        )
        .orderBy("report_day")
    )


# ---------------------------------------------------------------------------
# g29 — revenue concentration by customer decile (the Pareto report)
# ---------------------------------------------------------------------------
@query(
    "g29_revenue_pareto",
    oracle=f"""
    WITH pc AS (SELECT o_custkey, {DSUM_SQL.format(x='o_totalprice')} AS revenue
                FROM orders GROUP BY o_custkey),
    th AS (SELECT
        {", ".join(pround_sql(f'quantile_cont(revenue, 0.{q})', 6) + f' AS t{q}'
                   for q in range(1, 10))}
        FROM pc),
    sc AS (SELECT 1 + {" + ".join(f'CAST(revenue > t{q} AS INT)'
                                  for q in range(1, 10))} AS decile,
                  revenue
           FROM pc CROSS JOIN th),
    g AS (SELECT CAST(decile AS INT) AS decile,
                 CAST(COUNT(*) AS BIGINT) AS n_customers,
                 {DSUM_SQL.format(x='revenue')} AS total_revenue
          FROM sc GROUP BY decile),
    t AS (SELECT {DSUM_SQL.format(x='total_revenue')} AS grand_total FROM g)
    SELECT decile, n_customers, total_revenue,
           {pround_sql('total_revenue / grand_total', 6)} AS revenue_share,
           {pround_sql(
               'CAST(SUM(CAST(total_revenue AS DECIMAL(25,6))) '
               'OVER (ORDER BY decile DESC) AS DOUBLE) / grand_total', 6)}
               AS cum_share_from_top
    FROM g CROSS JOIN t
    ORDER BY decile
    """,
)
def g29_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) report: customers bucketed into
    revenue deciles against the corpus's own exact percentiles, each
    decile's customer count, revenue, share, and the cumulative share
    from the top down — the "top 10% of customers drive X% of revenue"
    table. Deciles come from NINE broadcast thresholds and a stateless
    integer scoring (g26's quartile trick widened), NOT from a global
    rank of every customer — ranking |customers| rows is a full sort
    at 100 TB; nine scalar thresholds are one aggregate.

    Scale: one map-side-combinable per-customer rollup (decimal-exact
    revenue), ONE whole-table exact-percentile aggregate broadcast as
    a 1-row panel (production swaps in approx_percentile, g26's
    argument), a stateless scored projection into <=10 groups, and the
    cumulative window runs on the 10-row decile panel (panel_window —
    explicit bounded-panel choice). Every share divides by the same
    broadcast grand total and is 6dp-rounded on both engines."""
    from ..functions.windows import panel_window

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        dsum("o_totalprice", "revenue")
    )
    th = per_cust.agg(
        *[
            pround(F.percentile("revenue", F.lit(q / 10.0)), 6).alias(f"t{q}")
            for q in range(1, 10)
        ]
    )
    decile = (
        1
        + sum(
            (F.col("revenue") > F.col(f"t{q}")).cast("int")
            for q in range(1, 10)
        )
    ).cast("int")
    scored = per_cust.crossJoin(F.broadcast(th)).select(
        decile.alias("decile"), "revenue"
    )
    grid = scored.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        dsum("revenue", "total_revenue"),
    )
    tot = grid.agg(dsum("total_revenue", "grand_total"))
    w = panel_window("decile", F.desc("decile"))
    return (
        grid.crossJoin(F.broadcast(tot))
        .select(
            "decile", "n_customers", "total_revenue",
            pround(F.col("total_revenue") / F.col("grand_total"), 6)
            .alias("revenue_share"),
            pround(
                F.sum(F.col("total_revenue").cast("decimal(25,6)"))
                .over(w)
                .cast("double")
                / F.col("grand_total"),
                6,
            ).alias("cum_share_from_top"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# g30 — daily new vs returning actives (acquisition-vs-retention split)
# ---------------------------------------------------------------------------
@query(
    "g30_new_returning_users",
    oracle="""
    WITH p AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    a AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS active_users
          FROM p GROUP BY d),
    f AS (SELECT user_id, MIN(d) AS d FROM p GROUP BY user_id),
    n AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users FROM f GROUP BY d),
    j AS (SELECT a.d, a.active_users,
                 COALESCE(n.new_users, 0) AS new_users
          FROM a LEFT JOIN n ON a.d = n.d)
    SELECT d AS event_date, active_users, new_users,
           active_users - new_users AS returning_users,
           CAST(SUM(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
    FROM j ORDER BY event_date
    """,
)
def g30_new_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day: active users, first-ever-seen (new) users, returning
    users, and the cumulative user base to date — the acquisition-vs-
    retention split every growth dashboard leads with, and the
    denominator series g15's cohort grid normalizes against.

    Scale: the corpus collapses FIRST to distinct (day, user) pairs
    (the g28 move — one shuffle bounded by actives, not events); both
    the per-day census and the per-user first-day reduce run on that
    reduced set, and everything after is arithmetic on the ≤|days|
    panel. The cumulative sum is a panel_window over the bounded day
    panel, never a corpus-wide running sum. All-integer output — no
    float for engines to disagree on."""
    from ..functions.windows import panel_window

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    pairs = persist_tracked(ev.distinct())
    act = pairs.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("active_users")
    )
    first = pairs.groupBy("user_id").agg(F.min("d").alias("d"))
    new = first.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    j = act.join(new, "d", "left").select(
        "d", "active_users",
        F.coalesce(F.col("new_users"), F.lit(0).cast("long"))
        .alias("new_users"),
    )
    w = panel_window("d", F.asc("d"))
    return j.select(
        F.col("d").alias("event_date"),
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users"))
        .alias("returning_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("event_date")


# ---------------------------------------------------------------------------
# g31 — inter-arrival time profile per event type (traffic cadence QA)
# ---------------------------------------------------------------------------
@query(
    "g31_interarrival_profile",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, event_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS us
               FROM events),
    g AS (SELECT event_type,
                 us - LAG(us) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS gap
          FROM e),
    f AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap) AS BIGINT) AS max_gap_us,
           {pround_sql(
               'CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DOUBLE)'
               ' / COUNT(*) / 1000000.0', 6)} AS mean_gap_s,
           {pround_sql('quantile_cont(gap, 0.5) / 1000000.0', 6)}
               AS p50_gap_s,
           {pround_sql('quantile_cont(gap, 0.9) / 1000000.0', 6)}
               AS p90_gap_s
    FROM f GROUP BY event_type ORDER BY event_type
    """,
)
def g31_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival cadence: for every event, the gap
    since the SAME USER's previous event (any type), profiled per the
    arriving event's type — count, min/max, mean, and exact p50/p90
    gaps. This is the traffic-cadence table capacity planning and
    anomaly baselines (g21) read, and the empirical ground truth for
    f03/g18's session-gap threshold choice.

    Scale: ONE user-keyed window exchange computes every lag (the g18
    shape — gaps are integer microseconds via unix_micros, no float
    time math), then a |types|-bounded aggregate. The deterministic
    ordering tiebreak is event_id. Mean accumulates exact
    DECIMAL(38,0) micro-units with ONE double conversion (g13's
    discipline); p50/p90 use the exact SQL-standard PERCENTILE_CONT
    over int64 inputs (== DuckDB quantile_cont, the g02 precedent,
    6dp-rounded) — at 100 TB swap for approx_percentile's t-digest,
    the p11->p12 twin argument."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("us"), F.asc("event_id"))
    g = ev.select(
        "event_type",
        (F.col("us") - F.lag("us").over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    return (
        g.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap").cast("long").alias("min_gap_us"),
            F.max("gap").cast("long").alias("max_gap_us"),
            F.sum(F.col("gap").cast("decimal(38,0)")).alias("s"),
            F.percentile("gap", F.lit(0.5)).alias("q50"),
            F.percentile("gap", F.lit(0.9)).alias("q90"),
        )
        .select(
            "event_type", "n_gaps", "min_gap_us", "max_gap_us",
            pround(
                F.col("s").cast("double") / F.col("n_gaps") / 1000000.0, 6
            ).alias("mean_gap_s"),
            pround(F.col("q50") / 1000000.0, 6).alias("p50_gap_s"),
            pround(F.col("q90") / 1000000.0, 6).alias("p90_gap_s"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# g32 — order-to-ship latency profile (fulfillment SLA table)
# ---------------------------------------------------------------------------
@query(
    "g32_ship_latency_profile",
    oracle=f"""
    WITH j AS (SELECT o.o_orderpriority,
                      date_diff('day', CAST(o.o_orderdate AS DATE),
                                CAST(l.l_shipdate AS DATE)) AS lat_days
               FROM lineitem l JOIN orders o
                 ON l.l_orderkey = o.o_orderkey)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(MIN(lat_days) AS BIGINT) AS min_days,
           CAST(MAX(lat_days) AS BIGINT) AS max_days,
           {pround_sql(
               'CAST(SUM(CAST(lat_days AS DECIMAL(38,0))) AS DOUBLE)'
               ' / COUNT(*)', 6)} AS mean_days,
           {pround_sql('quantile_cont(lat_days, 0.5)', 6)} AS p50_days,
           {pround_sql('quantile_cont(lat_days, 0.9)', 6)} AS p90_days
    FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def g32_ship_latency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency per order priority: lineitem count, min /
    max / mean / exact p50 / p90 days between order placement and line
    shipment — the fulfillment-SLA table an operations review reads,
    and the b29 (Q4 late-shipment) check generalized from a boolean to
    the full latency distribution.

    Scale: ONE fact-to-fact equi-join on the natural key (unhinted —
    AQE broadcasts at toy SF, SMJ at scale, the b02 discipline), with
    both sides pruned to key + one date column at the scan; latency is
    integer days (datediff — no float time math), the aggregate is
    |priorities|-bounded and map-side combinable except the exact
    PERCENTILE_CONT, which sorts int64 days per group (== DuckDB
    quantile_cont, g02's precedent, 6dp-rounded; at 100 TB swap for
    approx_percentile's t-digest — the p11->p12 twin argument). The
    mean accumulates DECIMAL(38,0) with ONE double conversion."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship_d")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("ord_d")
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff("ship_d", "ord_d").cast("long").alias("lat_days"),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
            F.min("lat_days").cast("long").alias("min_days"),
            F.max("lat_days").cast("long").alias("max_days"),
            F.sum(F.col("lat_days").cast("decimal(38,0)")).alias("s"),
            F.percentile("lat_days", F.lit(0.5)).alias("q50"),
            F.percentile("lat_days", F.lit(0.9)).alias("q90"),
        )
        .select(
            "o_orderpriority", "n_lineitems", "min_days", "max_days",
            pround(F.col("s").cast("double") / F.col("n_lineitems"), 6)
            .alias("mean_days"),
            pround(F.col("q50"), 6).alias("p50_days"),
            pround(F.col("q90"), 6).alias("p90_days"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# g33 — brand basket-affinity lift (market-basket co-occurrence)
# ---------------------------------------------------------------------------
@query(
    "g33_brand_basket_lift",
    oracle=f"""
    WITH ob AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    tot AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM ob),
    per AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_1
            FROM ob GROUP BY brand),
    pr AS (SELECT x.brand AS brand_a, y.brand AS brand_b,
                  CAST(COUNT(*) AS BIGINT) AS n_ab
           FROM ob x JOIN ob y ON x.ok = y.ok AND x.brand < y.brand
           GROUP BY x.brand, y.brand)
    SELECT brand_a, brand_b, n_ab,
           a.n_1 AS n_orders_a, b.n_1 AS n_orders_b,
           {pround_sql('CAST(n_ab AS DOUBLE) / n_orders', 6)} AS support,
           {pround_sql(
               'CAST(CAST(n_ab AS DECIMAL(38,0)) * n_orders AS DOUBLE)'
               ' / CAST(CAST(a.n_1 AS DECIMAL(38,0)) * b.n_1 AS DOUBLE)',
               6)} AS lift
    FROM pr JOIN per a ON pr.brand_a = a.brand
            JOIN per b ON pr.brand_b = b.brand, tot
    ORDER BY brand_a, brand_b
    """,
)
def g33_brand_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity between part brands: for every brand pair
    co-purchased in at least one order, the co-occurrence count,
    support, and lift = P(a,b) / (P(a)·P(b)) — the cross-sell /
    assortment table, and the relational twin of e19's collocation
    lift (same statistic, baskets instead of token windows).

    Scale: part is a broadcast dim; each order collapses to ONE sorted
    distinct-brand array in a single orderkey shuffle (collect_set
    dedupes in the same exchange — measured 2x faster at sf0.1 than
    the distinct-then-self-join shape it replaces, 1.7 s vs 3.2 s
    steady-state, identical 300-row output), and the k·(k-1)/2 pairs
    per order are generated map-side by a codegen'd nested transform —
    Σk² with k ≤ |brands| (a bounded enum), linear in orders, never
    all-pairs across orders, and no second shuffle of the basket
    stream. Per-brand counts and the order total join back as
    |brands|-bounded / scalar broadcasts; the output is
    |brands|²-bounded. Lift forms both integer products exactly in
    DECIMAL(38,0) with ONE double conversion each, so both engines
    divide identical doubles."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    arrs = persist_tracked(
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
    )
    tot = arrs.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    per = (
        arrs.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("long").alias("n_1"))
    )
    # sort_array makes the collect_set order deterministic, so the
    # (x < y) pair orientation is by construction brand_a < brand_b.
    pairs = arrs.select(
        F.explode(
            F.expr(
                "flatten(transform(bs, (x, i) ->"
                " transform(slice(bs, i + 2, size(bs) - i - 1),"
                " y -> struct(x AS brand_a, y AS brand_b))))"
            )
        ).alias("p")
    ).select("p.*")
    pr = pairs.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_ab")
    )
    a = per.select(F.col("brand").alias("brand_a"),
                   F.col("n_1").alias("n_orders_a"))
    b = per.select(F.col("brand").alias("brand_b"),
                   F.col("n_1").alias("n_orders_b"))
    dec = "decimal(38,0)"
    return (
        pr.join(F.broadcast(a), "brand_a")
        .join(F.broadcast(b), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a", "brand_b", "n_ab", "n_orders_a", "n_orders_b",
            pround(
                F.col("n_ab").cast("double") / F.col("n_orders"), 6
            ).alias("support"),
            pround(
                (F.col("n_ab").cast(dec) * F.col("n_orders"))
                .cast("double")
                / (F.col("n_orders_a").cast(dec) * F.col("n_orders_b"))
                .cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy("brand_a", "brand_b")
    )


# ---------------------------------------------------------------------------
# g34 — cohort LTV curve (cumulative revenue per user by acquisition week)
# ---------------------------------------------------------------------------
@query(
    "g34_cohort_ltv",
    oracle=f"""
    WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type, value
                FROM events),
    first AS (SELECT user_id, MIN(d) AS cohort_date
              FROM ev GROUP BY user_id),
    sizes AS (SELECT cohort_date,
                     CAST(COUNT(*) AS BIGINT) AS cohort_size
              FROM first GROUP BY cohort_date),
    cell AS (SELECT f.cohort_date,
                    CAST(date_diff('day', f.cohort_date, e.d) AS BIGINT)
                        AS day_offset,
                    CAST(COUNT(*) AS BIGINT) AS n_purchases,
                    SUM(CAST(e.value AS DECIMAL(25,6))) AS rev
             FROM ev e JOIN first f ON f.user_id = e.user_id
             WHERE e.event_type = 'purchase'
             GROUP BY f.cohort_date, day_offset),
    cum AS (SELECT cohort_date, day_offset, n_purchases,
                   rev,
                   SUM(rev) OVER (PARTITION BY cohort_date
                                  ORDER BY day_offset) AS cum_rev
            FROM cell)
    SELECT c.cohort_date, c.day_offset, c.n_purchases,
           {pround_sql('CAST(c.rev AS DOUBLE)', 6)} AS revenue,
           {pround_sql('CAST(c.cum_rev AS DOUBLE)', 6)} AS cum_revenue,
           {pround_sql(
               'CAST(c.cum_rev AS DOUBLE) / s.cohort_size', 6)}
               AS ltv_per_user
    FROM cum c JOIN sizes s ON s.cohort_date = c.cohort_date
    ORDER BY c.cohort_date, c.day_offset
    """,
)
def g34_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users cohorted by FIRST active day;
    each (cohort, day-offset) cell carries that day's purchase count
    and revenue plus the cohort's CUMULATIVE revenue and LTV per
    acquired user — the payback-period table next to g15's retention
    grid (g15 says who comes back; this says what they're worth).

    Scale: the g15 discipline — first-touch is one user-keyed reduce,
    the purchase stream joins it on user (map-side vs the
    dimension-sized first-touch table at scale), the cell aggregate
    shuffles on (cohort, offset) — bounded by days², not data volume —
    and cohort sizes broadcast back. Revenue accumulates in exact
    DECIMAL(25,6) (order-independent) including the running total,
    whose window runs on the bounded days² grid, never the corpus;
    every double is produced by ONE decimal conversion + pround."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d"), "event_type", "value"
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    sizes = first.groupBy("cohort_date").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    cell = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff(F.col("d"), F.col("cohort_date")).cast("long")
            .alias("day_offset"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("rev"),
        )
    )
    w = (
        Window.partitionBy("cohort_date")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cell.withColumn("cum_rev", F.sum("rev").over(w))
    return (
        cum.join(F.broadcast(sizes), "cohort_date")
        .select(
            "cohort_date", "day_offset", "n_purchases",
            pround(F.col("rev").cast("double"), 6).alias("revenue"),
            pround(F.col("cum_rev").cast("double"), 6).alias("cum_revenue"),
            pround(
                F.col("cum_rev").cast("double") / F.col("cohort_size"), 6
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_date", "day_offset")
    )


# ---------------------------------------------------------------------------
# g35 — purchase-frequency survival curve (k-or-more loyalty table)
# ---------------------------------------------------------------------------
_FREQ_MAX_K = 20


@query(
    "g35_purchase_frequency_curve",
    oracle=f"""
    WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases
               FROM events WHERE event_type = 'purchase'
               GROUP BY user_id),
    h AS (SELECT n_purchases, CAST(COUNT(*) AS BIGINT) AS n_users
          FROM u GROUP BY n_purchases),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_buyers FROM u),
    grid AS (SELECT CAST(k AS BIGINT) AS k
             FROM range(1, {_FREQ_MAX_K} + 1) g(k)),
    c AS (SELECT g.k,
                 CAST(COALESCE(SUM(h.n_users), 0) AS BIGINT)
                     AS users_k_or_more
          FROM grid g LEFT JOIN h ON h.n_purchases >= g.k
          GROUP BY g.k)
    SELECT c.k, c.users_k_or_more,
           floor((CAST(c.users_k_or_more AS DOUBLE) / t.total_buyers)
                 * 1000000.0 + 0.5) / 1000000.0 AS buyer_share
    FROM c, tot t
    ORDER BY c.k
    """,
)
def g35_purchase_frequency_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Purchase-frequency survival: for k = 1..20, how many buyers made
    at least k purchases and their share of all buyers — the loyalty
    curve behind g26's F score (RFM quantizes it to quartiles; this is
    the raw distribution a retention target is set against).

    Scale: the corpus collapses FIRST to one count per buyer (a
    user-keyed map-side-combinable aggregate), then to a histogram
    bounded by the maximum per-user count; the k-or-more rollup is a
    K x |histogram| bounded panel join (the p22 cumulative shape) and
    the buyer total broadcasts as one scalar. All integers until the
    6dp share."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases")
    )
    h = u.groupBy("n_purchases").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    tot = u.agg(F.count(F.lit(1)).cast("long").alias("total_buyers"))
    grid = spark.range(1, _FREQ_MAX_K + 1).select(
        F.col("id").cast("long").alias("k")
    )
    c = (
        grid.join(h, F.col("n_purchases") >= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.coalesce(F.sum("n_users"), F.lit(0)).cast("long")
            .alias("users_k_or_more")
        )
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "k", "users_k_or_more",
            pround(
                F.try_divide(
                    F.col("users_k_or_more").cast("double"),
                    F.col("total_buyers"),
                ),
                6,
            ).alias("buyer_share"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# g36 — order-value reconciliation audit (billing integrity)
# ---------------------------------------------------------------------------
@query(
    "g36_order_value_reconciliation",
    oracle=f"""
    WITH lc AS (SELECT l_orderkey,
                       {DSUM_SQL.format(
                           x="l_extendedprice * (1 - l_discount)"
                             " * (1 + l_tax)")} AS recomputed
                FROM lineitem GROUP BY l_orderkey),
    per AS (SELECT o.o_orderpriority AS priority,
                   o.o_totalprice, lc.recomputed,
                   floor(abs(lc.recomputed - o.o_totalprice)
                         * 1000000.0 + 0.5) / 1000000.0 AS abs_dev
            FROM orders o JOIN lc ON lc.l_orderkey = o.o_orderkey)
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN abs_dev > 0.01 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mismatched,
           floor(({DSUM_SQL.format(x="abs_dev")} / COUNT(*))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_abs_dev,
           MAX(abs_dev) AS max_abs_dev,
           {DSUM_SQL.format(x="o_totalprice")} AS recorded_total,
           {DSUM_SQL.format(x="recomputed")} AS recomputed_total
    FROM per GROUP BY priority ORDER BY priority
    """,
)
def g36_order_value_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Billing reconciliation audit: recompute every order's value from
    its line items (Σ extendedprice·(1−discount)·(1+tax)) and compare
    to the recorded ``o_totalprice`` — per order priority: order count,
    count of orders off by more than a cent, mean and max absolute
    deviation, and the recorded-vs-recomputed totals. The standard
    header-vs-detail integrity gate a warehouse runs after every load:
    silent drift between a rollup column and its detail table is the
    classic double-ingest / partial-load symptom, and the audit
    localizes it to a priority class before anyone debugs row-by-row.

    Scale: the detail side COLLAPSES per order key BEFORE touching the
    header (map-side-combinable decimal sum — one row per order flows
    into the join, never raw line items), then one UNHINTED orderkey
    equi-join against orders (AQE broadcasts the header side at toy SF,
    SMJ with both sides hash-shuffled on the key at scale — the b02
    discipline) and a 5-cell rollup. Per-line charges
    are exactly-specified IEEE doubles in textually identical order on
    both engines; per-order sums accumulate DECIMAL(25,6) (dsum), the
    deviation is 6dp floor-quantized (pround) before comparison and
    aggregation, so mismatch counts, means, and maxima are bit-portable
    and partition-order-independent by construction."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    charge = (
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
    )
    lc = li.groupBy("l_orderkey").agg(dsum(charge, "recomputed"))
    per = orders.join(
        lc, lc["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice", "recomputed",
        pround(
            F.abs(F.col("recomputed") - F.col("o_totalprice")), 6
        ).alias("abs_dev"),
    )
    return (
        per.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            # when/otherwise, not a bare boolean cast: an unknowable
            # deviation (NULL charge inputs → NULL abs_dev) is not a
            # mismatch — the oracle's CASE sends NULL to ELSE 0, while
            # sum(cast(NULL)) would poison the whole group to NULL.
            F.sum(F.when(F.col("abs_dev") > 0.01, 1).otherwise(0))
            .cast("long").alias("n_mismatched"),
            pround(
                dsum(F.col("abs_dev")) / F.count(F.lit(1)), 6
            ).alias("mean_abs_dev"),
            F.max("abs_dev").alias("max_abs_dev"),
            dsum(F.col("o_totalprice"), "recorded_total"),
            dsum(F.col("recomputed"), "recomputed_total"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# g37 — order-status consistency audit (state machine vs detail)
# ---------------------------------------------------------------------------
@query(
    "g37_order_status_consistency",
    oracle="""
    WITH ls AS (SELECT l_orderkey,
                       CAST(SUM(CASE WHEN l_linestatus = 'F'
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
                       CAST(SUM(CASE WHEN l_linestatus = 'O'
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
                       CAST(COUNT(*) AS BIGINT) AS n_items
                FROM lineitem GROUP BY l_orderkey),
    j AS (SELECT o.o_orderstatus AS recorded_status,
                 CASE WHEN ls.n_o = 0 THEN 'F'
                      WHEN ls.n_f = 0 THEN 'O'
                      ELSE 'P' END AS derived_status,
                 ls.n_items
          FROM orders o JOIN ls ON ls.l_orderkey = o.o_orderkey),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM j)
    SELECT recorded_status, derived_status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(n_items) AS BIGINT) AS n_lineitems,
           CASE WHEN recorded_status = derived_status
                THEN 1 ELSE 0 END AS is_consistent,
           floor((CAST(COUNT(*) AS DOUBLE) / MAX(n_total))
                 * 1000000.0 + 0.5) / 1000000.0 AS order_share
    FROM j CROSS JOIN tot
    GROUP BY recorded_status, derived_status
    ORDER BY recorded_status, derived_status
    """,
)
def g37_order_status_consistency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-status state-machine audit: re-derive every order's status
    from its line items (all lines F → 'F' fulfilled, all lines O →
    'O' open, mixed → 'P' partial — the TPC-H consistency rule) and
    tally the (recorded, derived) confusion grid with a consistency
    flag and order shares. g36 reconciles the header's NUMBER against
    the detail; this reconciles its STATE — the complementary
    integrity gate that catches status-update lag, partial loads, and
    out-of-order CDC applies, and localizes the damage to a specific
    (recorded, derived) cell before anyone replays a feed.

    Scale: the g36 frame exactly — the detail side collapses per
    orderkey FIRST (two conditional int64 counts, map-side
    combinable; one row per order enters the join), the orderkey
    equi-join is unhinted (AQE broadcasts the header side at toy SF,
    SMJ at scale), and the grid is ≤ |statuses|² = 9 integer cells
    with one broadcast scalar total. All-integer output plus one
    6dp-quantized share — bit-portable under any partitioning."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ls = li.groupBy("l_orderkey").agg(
        F.sum((F.col("l_linestatus") == "F").cast("long")).cast("long")
        .alias("n_f"),
        F.sum((F.col("l_linestatus") == "O").cast("long")).cast("long")
        .alias("n_o"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
    derived = (
        F.when(F.col("n_o") == 0, F.lit("F"))
        .when(F.col("n_f") == 0, F.lit("O"))
        .otherwise(F.lit("P"))
    )
    j = orders.join(
        ls, ls["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.col("o_orderstatus").alias("recorded_status"),
        derived.alias("derived_status"),
        "n_items",
    )
    tot = j.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        j.groupBy("recorded_status", "derived_status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("n_items").cast("long").alias("n_lineitems"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "recorded_status", "derived_status", "n_orders", "n_lineitems",
            # CASE semantics (oracle): a NULL recorded status is NOT
            # consistent (0), never NULL — a bare boolean cast would
            # propagate the NULL.
            F.when(
                F.col("recorded_status") == F.col("derived_status"), 1
            ).otherwise(0).cast("long").alias("is_consistent"),
            pround(
                F.col("n_orders").cast("double") / F.col("n_total"), 6
            ).alias("order_share"),
        )
        .orderBy("recorded_status", "derived_status")
    )
