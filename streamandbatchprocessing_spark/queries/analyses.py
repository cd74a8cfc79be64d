"""The reference's 9 analyses (SURVEY.md §2.10) re-expressed over the
driver's ``events`` fixture table.

The reference's transaction schema doesn't exist in the fixtures, so the
driver contract maps roles (FIXTURES.md §3): ``events.ts`` = event time,
``event_type`` = status/category-like dimension, ``value`` = money
measure, ``user_id`` = customer, and ``props.k`` (JSON) = product
category-like dimension. Each query keeps the exact analysis shape —
filter → groupBy → aggregates → post-computation → sort — with the same
aggregate inventory (A1-A12) as the cited reference analysis.

The literal transaction-schema implementations (for API parity) live in
``operators/analytics.py``; these fixture-mapped versions are the
correctness-gated ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.aggregates import DAVG_SQL, DSUM_SQL, davg, dsum, pround
from ..sources.batch import load_table
from .registry import query

# events.props is a JSON object like {"k": 87}; this is the portable pair
# of extraction expressions (verified equivalent Spark<->DuckDB). The
# json_valid guard matches Spark's malformed→NULL contract
# (get_json_object/from_json): DuckDB's json_extract ERRORS on a
# malformed/empty payload, which would kill a whole query for one bad
# record.
_K_SQL = ("CASE WHEN json_valid(props) THEN "
          "CAST(json_extract_string(props, '$.k') AS INTEGER) END")


def _events_with_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))


# ---------------------------------------------------------------------------
# a01 — revenue_by_category (AnalysisAggregator.scala:68-80)
# ---------------------------------------------------------------------------
@query(
    "a01_revenue_by_category",
    oracle=f"""
    WITH ev AS (SELECT *, {_K_SQL} AS k FROM events)
    SELECT k,
           {DSUM_SQL.format(x='value')} AS total_value,
           {DAVG_SQL.format(x='value')} AS avg_value,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM ev
    WHERE event_type = 'purchase'
    GROUP BY k
    ORDER BY total_value DESC, k
    """,
)
def a01_revenue_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter(status) → groupBy(category) → sum/avg/count/countDistinct
    → desc revenue. Single shuffle on a low-cardinality key; the JSON
    extraction is a JVM built-in (no Python in the row path)."""
    ev = _events_with_k(spark, sf_dir)
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("k")
        .agg(
            dsum("value", "total_value"),
            davg("value", "avg_value"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("total_value"), F.asc("k"))
    )


# ---------------------------------------------------------------------------
# a02 — revenue_by_region (two-key grid, :86-97)
# ---------------------------------------------------------------------------
@query(
    "a02_type_category_grid",
    oracle=f"""
    WITH ev AS (SELECT *, {_K_SQL} % 5 AS k_bucket FROM events)
    SELECT event_type, k_bucket,
           {DSUM_SQL.format(x='value')} AS total_value,
           COUNT(*) AS n_events,
           {DAVG_SQL.format(x='value')} AS avg_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM ev
    GROUP BY event_type, k_bucket
    ORDER BY total_value DESC, event_type, k_bucket
    """,
)
def a02_type_category_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-key groupBy grid (region×city in the reference)."""
    ev = _events_with_k(spark, sf_dir).withColumn("k_bucket", F.col("k") % 5)
    return (
        ev.groupBy("event_type", "k_bucket")
        .agg(
            dsum("value", "total_value"),
            F.count(F.lit(1)).alias("n_events"),
            davg("value", "avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("total_value"), "event_type", "k_bucket")
    )


# ---------------------------------------------------------------------------
# a03 — payment_analysis with revenue share (:103-121, window W1 rewrite)
# ---------------------------------------------------------------------------
@query(
    "a03_type_share",
    oracle="""
    WITH agg AS (
        SELECT event_type,
               COUNT(*) AS n_events,
               SUM(CAST(value AS DECIMAL(25,6))) AS t,
               COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type
    )
    SELECT event_type, n_events,
           CAST(t AS DOUBLE) AS total_value,
           n_users,
           floor((CAST(t AS DOUBLE) / CAST(SUM(t) OVER () AS DOUBLE) * 100) * 100.0 + 0.5) / 100.0
               AS value_share_pct
    FROM agg
    ORDER BY n_events DESC, event_type
    """,
)
def a03_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """payment_analysis parity: per-group totals + share-of-grand-total.
    The reference computes the grand total with an empty-partition window
    (`sum().over(Window.partitionBy())`) which collapses to ONE
    partition; here it is a broadcast scalar-agg cross join — same
    result, no single-partition bottleneck at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("_t"),
        F.countDistinct("user_id").alias("n_users"),
    )
    total = agg.agg(F.sum("_t").alias("_g"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "n_events",
            F.col("_t").cast("double").alias("total_value"),
            "n_users",
            pround(F.col("_t").cast("double") / F.col("_g").cast("double") * 100, 2)
            .alias("value_share_pct"),
        )
        .orderBy(F.desc("n_events"), "event_type")
    )


# ---------------------------------------------------------------------------
# a04 — customer_segmentation (:127-155)
# ---------------------------------------------------------------------------
@query(
    "a04_user_segmentation",
    oracle=f"""
    WITH agg AS (
        SELECT user_id,
               {DSUM_SQL.format(x='value')} AS ltv,
               COUNT(*) AS n_events,
               MIN(CAST(ts AS TIMESTAMP)) AS first_seen,
               MAX(CAST(ts AS TIMESTAMP)) AS last_seen,
               COUNT(DISTINCT CASE WHEN json_valid(props) THEN
                   CAST(json_extract_string(props,'$.k') AS INTEGER) END)
                   AS n_categories
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id
    )
    SELECT user_id, ltv, n_events, first_seen, last_seen, n_categories,
           CASE WHEN ltv >= 5000 THEN 'vip'
                WHEN ltv >= 3500 THEN 'high_value'
                WHEN ltv >= 2000 THEN 'mid_value'
                WHEN n_events = 1 THEN 'one_time'
                ELSE 'low_value' END AS segment
    FROM agg
    ORDER BY ltv DESC, user_id
    """,
)
def a04_user_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer_segmentation parity: per-user LTV + when-chain segment
    bucketing (reference thresholds rescaled to the fixture value
    domain). Deterministic because ltv is an exact decimal sum."""
    ev = _events_with_k(spark, sf_dir)
    agg = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            dsum("value", "ltv"),
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.col("ts").cast("timestamp")).alias("first_seen"),
            F.max(F.col("ts").cast("timestamp")).alias("last_seen"),
            F.countDistinct("k").alias("n_categories"),
        )
    )
    segment = (
        F.when(F.col("ltv") >= 5000, "vip")
        .when(F.col("ltv") >= 3500, "high_value")
        .when(F.col("ltv") >= 2000, "mid_value")
        .when(F.col("n_events") == 1, "one_time")
        .otherwise("low_value")
    )
    return agg.withColumn("segment", segment).orderBy(F.desc("ltv"), F.asc("user_id"))


# ---------------------------------------------------------------------------
# a05 — fraud_analysis (:161-176; disjunctive filter P4)
# ---------------------------------------------------------------------------
@query(
    "a05_anomaly_hotspots",
    oracle=f"""
    WITH ev AS (SELECT *, {_K_SQL} % 10 AS k_bucket FROM events)
    SELECT k_bucket,
           COUNT(*) AS n_anomalies,
           {DSUM_SQL.format(x='value')} AS total_value,
           {DAVG_SQL.format(x='value')} AS avg_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM ev
    WHERE event_type = 'error' OR value > 400
    GROUP BY k_bucket
    ORDER BY n_anomalies DESC, k_bucket
    """,
)
def a05_anomaly_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fraud_analysis parity: disjunctive predicate (is_fraudulent OR
    fraud_score>0.7 → error-type OR high-value) then hotspot grid."""
    ev = _events_with_k(spark, sf_dir).withColumn("k_bucket", F.col("k") % 10)
    return (
        ev.filter((F.col("event_type") == "error") | (F.col("value") > 400))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_anomalies"),
            dsum("value", "total_value"),
            davg("value", "avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_anomalies"), F.asc("k_bucket"))
    )


# ---------------------------------------------------------------------------
# a06 — hourly_trends (:182-195)
# ---------------------------------------------------------------------------
@query(
    "a06_hourly_trends",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS event_date,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS event_hour,
           COUNT(*) AS n_events,
           {DSUM_SQL.format(x='value')} AS total_value,
           {DAVG_SQL.format(x='value')} AS avg_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
    ORDER BY event_date, event_hour
    """,
)
def a06_hourly_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hourly_trends parity: derive event_date/event_hour (to_date +
    hour, P-date functions) → two-key groupBy → ascending time sort."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("event_date", F.to_date("ts"))
        .withColumn("event_hour", F.hour("ts").cast("long"))
        .groupBy("event_date", "event_hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
            davg("value", "avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_date", "event_hour")
    )


# ---------------------------------------------------------------------------
# a07 — channel_performance (:201-219; rate% post-computation)
# ---------------------------------------------------------------------------
@query(
    "a07_type_performance",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {DSUM_SQL.format(x='value')} AS total_value,
           {DAVG_SQL.format(x='value')} AS avg_value,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CASE WHEN value > 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           floor((SUM(CASE WHEN value > 300 THEN 1 ELSE 0 END) * 100.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0
               AS big_value_pct
    FROM events
    GROUP BY event_type
    ORDER BY total_value DESC, event_type
    """,
)
def a07_type_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """channel_performance parity: per-channel stats + conditional
    counter + percentage post-computation (`fraud_rate_pct` analog)."""
    ev = load_table(spark, sf_dir, "events")
    n_big = F.sum(F.when(F.col("value") > 300, 1).otherwise(0))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
            davg("value", "avg_value"),
            F.countDistinct("user_id").alias("n_users"),
            n_big.alias("n_big"),
        )
        .withColumn(
            "big_value_pct",
            pround(F.col("n_big") * 100.0 / F.col("n_events"), 4),
        )
        .orderBy(F.desc("total_value"), F.asc("event_type"))
    )


# ---------------------------------------------------------------------------
# a08 — inventory_velocity (:256-285; datediff post-computation)
# ---------------------------------------------------------------------------
@query(
    "a08_user_velocity",
    oracle=f"""
    WITH agg AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               {DSUM_SQL.format(x='value')} AS total_value,
               MIN(CAST(ts AS DATE)) AS first_date,
               MAX(CAST(ts AS DATE)) AS last_date
        FROM events
        WHERE event_type IN ('purchase', 'view', 'click')
        GROUP BY user_id
    )
    SELECT user_id, n_events, total_value, first_date, last_date,
           CAST(datediff('day', first_date, last_date) + 1 AS BIGINT) AS days_active,
           floor((n_events / (datediff('day', first_date, last_date) + 1.0)) * 100.0 + 0.5) / 100.0
               AS daily_velocity
    FROM agg
    ORDER BY daily_velocity DESC, user_id
    """,
)
def a08_user_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inventory_velocity parity: min/max event dates → inclusive
    days-in-range (`datediff+1`) → rounded per-day velocity."""
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.filter(F.col("event_type").isin("purchase", "view", "click"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
            F.min(F.to_date("ts")).alias("first_date"),
            F.max(F.to_date("ts")).alias("last_date"),
        )
    )
    days = F.datediff(F.col("last_date"), F.col("first_date")) + 1
    return (
        agg.withColumn("days_active", days.cast("long"))
        .withColumn("daily_velocity", pround(F.col("n_events") / days.cast("double"), 2))
        .orderBy(F.desc("daily_velocity"), F.asc("user_id"))
    )


# ---------------------------------------------------------------------------
# a09 — realtime dashboard, batch view (:225-250; T2 window bucketing)
# ---------------------------------------------------------------------------
@query(
    "a09_dashboard_windows",
    oracle=f"""
    SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {DSUM_SQL.format(x='value')} AS total_value,
           {DAVG_SQL.format(x='value')} AS avg_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE event_type IN ('purchase', 'click')
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def a09_dashboard_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The realtimeDashboard aggregation run as a batch query: 5-minute
    tumbling `F.window` buckets × type. (The streaming execution of the
    same plan — watermark, availableNow trigger — is registered in the
    f-group; reference splits exact vs approx distinct the same way,
    A4/A5.) Window-start alignment: both Spark and DuckDB align tumbling
    buckets to the epoch, verified equal."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy(
            F.window("ts", "5 minutes").start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
            davg("value", "avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("window_start", "event_type")
    )
