"""Structured-Streaming correctness queries (f-group).

Each runs a real streaming query (file-source replay, availableNow
trigger, checkpointed, watermarked) to completion and returns the sink
table — so the driver's oracle compare covers the streaming engine
path, not a batch re-expression. The oracle is the batch semantics of
the same computation, which streaming must converge to on replayed
finite input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.aggregates import DSUM_SQL, dsum
from ..functions.pii import oracle_pii_count, oracle_scrub, pii_count, scrub
from ..sources.batch import load_table
from ..streaming.pipeline import (
    dashboard_plan,
    events_stream,
    events_stream_staged,
    final_update_rows,
    latest_state_plan,
    purchase_click_join_plan,
    run_to_memory,
    session_windows_plan,
    stateful_totals_with_eviction_plan,
    streaming_dedup_plan,
    user_totals_plan,
)
from .dedup import _CMS_D, _CMS_MIN_FRAC, _CMS_W, cms_grid, cms_heavy_hitters
from .registry import query


@query(
    "f01_streaming_dashboard",
    oracle=f"""
    WITH ev AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts
                FROM events WHERE event_type IN ('purchase', 'click')),
    slid AS (SELECT event_type, value, ts,
                    time_bucket(INTERVAL '1 minute', ts)
                      - k * INTERVAL '1 minute' AS window_start
             FROM ev CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS k))
    SELECT window_start,
           window_start + INTERVAL '5 minutes' AS window_end,
           event_type,
           COUNT(*) AS n_events,
           {DSUM_SQL.format(x='value')} AS total_value
    FROM slid
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def f01_streaming_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's realtimeDashboard as a real streaming run:
    watermark(10m) → window(5m, 1m) × type, complete mode. The oracle
    expands each event into its 5 covering slide buckets — the batch
    definition of a sliding window."""
    result = run_to_memory(
        dashboard_plan(events_stream(spark, sf_dir)),
        output_mode="complete",
        name_prefix="f01_dashboard",
    )
    return result.orderBy("window_start", "event_type")


@query(
    "f02_streaming_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
)
def f02_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on (user_id, event_type) — append mode;
    state is the distinct key set (bounded here; watermark-scoped in
    production via dropDuplicatesWithinWatermark)."""
    result = run_to_memory(
        streaming_dedup_plan(events_stream(spark, sf_dir)),
        output_mode="append",
        name_prefix="f02_dedup",
    )
    return result.orderBy("user_id", "event_type")


@query(
    "f03_session_windows",
    oracle="""
    WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                FROM events),
    flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL '30 minutes'
                    THEN 0 ELSE 1 END AS new_session
        FROM ev),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM numbered
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
)
def f03_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user as a REAL streaming run
    — `F.session_window` driven through the streaming engine
    (checkpointed availableNow drain, like every other f-query), the
    operator the reference lacks (SURVEY.md T8). The oracle is the
    classic gaps-and-islands formulation: a session ends 30 minutes
    after its last event.

    Streaming state is the set of open sessions per user (merged as
    events arrive); the watermark lets the engine finalize a session
    once no event inside its gap can still arrive. Complete output mode
    re-emits the merged result so the finite replay converges to the
    batch answer even for sessions still open at end-of-input."""
    plan = session_windows_plan(events_stream(spark, sf_dir))
    result = run_to_memory(
        plan, output_mode="complete", name_prefix="f03_sessions"
    )
    return result.orderBy("user_id", "session_start")


@query(
    "f04_stateful_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def f04_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState
    (SURVEY.md T8 extension): per-user running totals held in explicit
    GroupState — the arbitrary-state primitive the reference lacks.
    Money accumulates in integer cents inside pandas so state merge
    order can't perturb floats; availableNow drains the fixture in one
    run and the final state equals the batch aggregate (the oracle).

    Scale: state is one (n, cents, nv) triple per user key, partitioned by
    the groupBy — bounded, shuffle-once; production adds a timeout to
    evict idle keys."""
    stateful = user_totals_plan(events_stream(spark, sf_dir))
    result = run_to_memory(stateful, output_mode="update", name_prefix="f04_state")
    return final_update_rows(result, ["user_id"]).orderBy("user_id")


@query(
    "f05_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 5 MINUTE
     AND c.ts <= p.ts
    ORDER BY purchase_id, click_id
    """,
)
def f05_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER interval join (SURVEY.md T8 extension — absent
    from the reference): each purchase paired with each of the same
    user's clicks in the trailing 5 minutes, both sides unbounded
    streams (``purchase_click_join_plan``). The batch equivalent (b17)
    computes the same pairs with a range-frame window; the oracle is the
    plain SQL theta join."""
    joined = purchase_click_join_plan(events_stream(spark, sf_dir), "inner")
    result = run_to_memory(joined, output_mode="append", name_prefix="f05_ssj")
    return result.select("purchase_id", "click_id", "user_id").orderBy(
        "purchase_id", "click_id"
    )


@query(
    "p02_streaming_ingest_funnel",
    oracle=f"""
    WITH ev AS (SELECT event_id, event_type, value,
                       CAST(ts AS TIMESTAMP) AS ts
                FROM events
                WHERE event_type IN ('purchase', 'click') AND value > 0)
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {DSUM_SQL.format(x='value')} AS total_value
    FROM ev
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def p02_streaming_ingest_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed streaming ingest funnel — the streaming twin of p01's
    batch mix: quality gate (type + positive value) → streaming
    exact-dedup on event_id (``dropDuplicatesWithinWatermark``: state
    bounded by the watermark horizon, the only dedup that survives an
    unbounded stream) → 1-hour tumbling windows per type, all in ONE
    streaming plan the engine runs incrementally.

    Scale: the funnel filters BEFORE the dedup state store (fewer keys
    held) and the window state is (hours × types)-bounded; every stage's
    eviction is driven by the same watermark. The fixture's event_ids
    are unique, so the batch oracle is the plain filtered window
    aggregate — which is the invariant a correct dedup must preserve on
    duplicate-free input."""
    plan = (
        events_stream(spark, sf_dir)
        .filter(
            F.col("event_type").isin("purchase", "click") & (F.col("value") > 0)
        )
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    result = run_to_memory(plan, output_mode="update", name_prefix="p02_funnel")
    return final_update_rows(result, ["window_start", "event_type"]).orderBy(
        "window_start", "event_type"
    )


@query(
    "f06_idle_key_eviction",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def f06_idle_key_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary state WITH idle-key eviction (T8 completion):
    applyInPandasWithState + ProcessingTimeTimeout — every update arms a
    30-minute deadline, silent keys get a final ``finalized`` row and
    their state removed (see ``stateful_totals_with_eviction_plan``).

    The drain uses single-batch ``Trigger.Once`` — with processing-time
    timeouts armed the engine always considers another batch runnable,
    so an availableNow run never terminates on finite input. One batch
    covers the whole fixture, no key times out mid-drain, and the final
    update rows equal the batch aggregate (the oracle) — which is
    exactly the invariant eviction must preserve: it changes WHEN rows
    are finalized, never the totals. The eviction path itself is
    wall-clock-dependent, so it is proven by the timeout test
    (tests/test_streaming_pipeline.py), not the oracle compare."""
    stateful = stateful_totals_with_eviction_plan(events_stream(spark, sf_dir))
    result = run_to_memory(
        stateful, output_mode="update", name_prefix="f06_evict", trigger_once=True
    )
    return (
        final_update_rows(result, ["user_id"])
        .select("user_id", "n_events", "total_cents", "n_types")
        .orderBy("user_id")
    )


@query(
    "f07_stream_static_enrichment",
    oracle=f"""
    SELECT c.c_mktsegment AS segment, e.event_type,
           COUNT(*) AS n_events,
           {DSUM_SQL.format(x='e.value')} AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY segment, e.event_type
    ORDER BY segment, e.event_type
    """,
)
def f07_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment join (the T8 shape f05 does NOT cover:
    f05 joins two streams with interval state; here a stream joins a
    STATIC dimension): each micro-batch of events is enriched against
    the customer table, then rolled up per (segment, type) in complete
    mode.

    Scale: a stream–static equi-join is STATELESS — the static side is
    broadcast into every micro-batch (re-planned per batch, so a dim
    refresh is picked up on the next batch), no watermark bookkeeping,
    no join state store. That makes it the cheapest enrichment path in
    Structured Streaming and the default way a 100 TB event firehose
    picks up slowly-changing dimensions; aggregation state here is
    bounded by |segments| × |event types|, not by input volume. Exact
    decimal accumulation for the value total, as everywhere (dsum
    rule)."""
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = events_stream(spark, sf_dir).join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value")
    )
    result = run_to_memory(agg, output_mode="complete", name_prefix="f07_enrich")
    return result.orderBy("segment", "event_type")


@query(
    "f08_stream_left_outer_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 5 MINUTE
     AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    ORDER BY purchase_id, click_id
    """,
)
def f08_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — f05's inner join plus
    the null-padded row for every purchase with NO click in its trailing
    5 minutes (the attribution query's "unattributed conversions" side).
    The outer join adds no state, only deferred emission: a null row is
    emitted in a batch after the watermark proves no click can still
    arrive, so the source is staged with sentinel files
    (``events_stream_staged``) that flush it; their ``user_id = -1``
    rows are dropped from the result."""
    joined = purchase_click_join_plan(events_stream_staged(spark, sf_dir), "leftOuter")
    result = run_to_memory(joined, output_mode="append", name_prefix="f08_ssloj")
    return (
        result.filter(F.col("user_id") >= 0)
        .select("purchase_id", "click_id", "user_id")
        .orderBy("purchase_id", "click_id")
    )


@query(
    "f09_streaming_pii_scrub",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({oracle_pii_count('props', 'number')}) AS BIGINT) AS n_number,
           CAST(SUM(length({oracle_scrub('props')})) AS BIGINT) AS redacted_chars
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def f09_streaming_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e10's PII scrub applied INSIDE a streaming pipeline: the regexp
    mask/count projection runs per micro-batch (stateless map — scrub
    adds zero state), feeding a per-event-type running aggregate in
    complete mode. Demonstrates the batch/streaming contract the scrub
    was designed for: the same codegen'd expressions run verbatim in
    both engines' plans, and the drained streaming result equals the
    batch oracle.

    Scale: scrub cost is per-row map work distributed across stream
    partitions; the aggregate state is |event_type| rows — bounded."""
    stream = events_stream(spark, sf_dir).select(
        "event_type",
        pii_count(F.col("props"), "number").alias("n_num"),
        F.length(scrub(F.col("props"))).alias("red_len"),
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("n_num").alias("n_number"),
        F.sum("red_len").alias("redacted_chars"),
    )
    result = run_to_memory(agg, output_mode="complete", name_prefix="f09_pii")
    return result.orderBy("event_type")


@query(
    "f10_streaming_quantiles",
    oracle="""
    SELECT event_type,
           quantile_disc(value, 0.5)  AS approx_p50,
           quantile_disc(value, 0.95) AS approx_p95,
           quantile_disc(value, 0.99) AS approx_p99,
           CAST(COUNT(value) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def f10_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile monitoring: per-event-type p50/p95/p99 of
    ``value`` maintained by the GK ``percentile_approx`` sketch INSIDE
    streaming state (complete mode, real checkpointed availableNow
    drain) — the latency/value-distribution dashboard every ingest
    pipeline runs. This is the streaming face of c11: the sketch is
    legal in streaming aggregation precisely because its partials merge
    associatively across micro-batches, where an exact percentile
    (full sorted set per group) is not.

    State is O(accuracy) per event type, micro-batch merges are the
    same GK compress as partition merges, and in the exact regime
    (per-group n < accuracy/2, true at the sf0.01 gate) the drained
    result equals DuckDB ``quantile_disc`` bit-for-bit regardless of
    how the replay was micro-batched — the c11 oracle argument carried
    over to the streaming engine."""
    stream = events_stream(spark, sf_dir)
    pa = F.expr("percentile_approx(value, array(0.5D, 0.95D, 0.99D), 10000)")
    plan = (
        stream.groupBy("event_type")
        .agg(
            pa[0].alias("approx_p50"),
            pa[1].alias("approx_p95"),
            pa[2].alias("approx_p99"),
            F.count("value").alias("n"),
        )
    )
    result = run_to_memory(
        plan, output_mode="complete", name_prefix="f10_quantiles"
    )
    return result.orderBy("event_type")


#: f11's backfill/live boundary. Historical rows (< cutoff) are served
#: by the batch engine; rows at/after it replay through the streaming
#: engine — the Kappa/Lambda handoff point a production migration picks
#: (fixtures span 2024-01-01..-30 at every SF, so the cutoff bisects).
_F11_CUTOFF = "2024-01-16 00:00:00"


@query(
    "f11_lambda_unified_totals",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def f11_lambda_unified_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-backfill + streaming-increment unification (the
    Lambda→Kappa migration shape): per-type totals where history
    (ts < cutoff) is aggregated by the BATCH engine and everything at
    or after the cutoff replays through the real STREAMING engine
    (checkpointed availableNow drain), then the two partial aggregates
    reconcile by one final re-aggregation. The oracle is the
    whole-table batch aggregate — the unified view must be
    indistinguishable from having batch-processed everything.

    Why this works at 100 TB: both sides produce |event_type|-sized
    partials, and the reconciliation is the same associative merge the
    engine already does between partitions — counts add, exact-decimal
    sums add (the dsum discipline; a double sum would make the merged
    total depend on the batch/stream split point). A production
    deployment runs the streaming side continuously from the handoff
    offset and serves the union view; the batch side never reruns."""
    cutoff = F.lit(_F11_CUTOFF).cast("timestamp")
    agg = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("dec_total"),
    ]
    hist = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < cutoff)
        .groupBy("event_type")
        .agg(*agg)
    )
    live_plan = (
        events_stream(spark, sf_dir)
        .filter(F.col("ts") >= cutoff)
        .groupBy("event_type")
        .agg(*agg)
    )
    live = run_to_memory(
        live_plan, output_mode="complete", name_prefix="f11_live"
    )
    return (
        hist.unionByName(live)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("dec_total").cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "f12_stream_full_outer_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           COALESCE(p.user_id, c.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 5 MINUTE
     AND c.ts <= p.ts
    ORDER BY purchase_id, click_id
    """,
)
def f12_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — completes the streaming
    join matrix (inner f05, left-outer f08): every purchase-click
    attribution pair PLUS the unattributed purchases (null click) AND
    the orphaned clicks that led to no purchase in their forward
    5-minute window (null purchase) — the two failure sides an
    attribution pipeline monitors. As in f08, null-padded rows of BOTH
    sides wait for the watermark, the staged sentinels flush them, and
    the sentinel rows (``user_id = -1``, both types) are dropped."""
    joined = purchase_click_join_plan(events_stream_staged(spark, sf_dir), "fullOuter")
    result = run_to_memory(joined, output_mode="append", name_prefix="f12_ssfoj")
    return (
        result.filter(F.coalesce("user_id", "c_user_id") >= 0)
        .select(
            "purchase_id",
            "click_id",
            F.coalesce("user_id", "c_user_id").alias("user_id"),
        )
        .orderBy("purchase_id", "click_id")
    )


@query(
    "f13_streaming_heavy_hitters",
    oracle=f"""
    WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    tot AS (SELECT COUNT(*) AS n FROM ev),
    depths AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS d),
    sk AS (SELECT d,
                  CAST(('0x' || substr(md5('cms' || CAST(d AS VARCHAR)
                                            || ':' || k), 1, 15)) AS BIGINT)
                      % {_CMS_W} AS b,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM ev CROSS JOIN depths
           GROUP BY 1, 2),
    cand AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS true_n FROM ev GROUP BY k),
    est AS (SELECT cand.k, MIN(sk.c) AS est_n
            FROM cand CROSS JOIN depths
            JOIN sk ON sk.d = depths.d
                   AND sk.b = CAST(('0x' || substr(
                           md5('cms' || CAST(depths.d AS VARCHAR)
                               || ':' || cand.k), 1, 15)) AS BIGINT)
                       % {_CMS_W}
    GROUP BY cand.k)
    SELECT CAST(cand.k AS BIGINT) AS user_id,
           cand.true_n,
           CAST(est.est_n AS BIGINT) AS est_n
    FROM cand JOIN est ON est.k = cand.k CROSS JOIN tot
    WHERE est.est_n * 1.0 >= tot.n * {_CMS_MIN_FRAC}
    ORDER BY user_id
    """,
)
def f13_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c12's count-min sketch maintained by the STREAMING engine: raw
    events replay through a checkpointed availableNow drain that feeds
    every row straight into the d x w counter grid (explode to d cell
    keys → streaming groupBy count, complete mode) — the production
    sketch build, which never shuffles the key space, only <= d*w
    cells of state. The drained grid is then probed batch-side for the
    heavy-hitter report exactly as c12 does.

    Why this is the right streaming shape: CMS partials merge by
    cell-wise ADDITION, so micro-batch increments are associative and
    the drained grid equals the batch grid bit-for-bit no matter how
    the replay was chunked — which is what lets the oracle be the
    batch CMS definition. State is d*w counters, independent of
    cardinality, rate, and retention."""
    sketch = run_to_memory(
        cms_grid(events_stream(spark, sf_dir)),
        output_mode="complete",
        name_prefix="f13_cms_grid",
    )
    cand = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    return cms_heavy_hitters(cand, sketch)


# ---------------------------------------------------------------------------
# f14 — stream-stream LEFT SEMI join (attribution without duplication)
# ---------------------------------------------------------------------------
@query(
    "f14_stream_semi_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id
    FROM events p
    WHERE p.event_type = 'purchase'
      AND EXISTS (
        SELECT 1 FROM events c
        WHERE c.event_type = 'click'
          AND c.user_id = p.user_id
          AND CAST(c.ts AS TIMESTAMP)
              >= CAST(p.ts AS TIMESTAMP) - INTERVAL '5 minutes'
          AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP))
    ORDER BY purchase_id
    """,
)
def f14_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join: purchases preceded by at least one
    same-user click in the trailing 5 minutes, each emitted ONCE —
    attribution as an existence test. This completes the stream-stream
    join matrix (inner f05, left-outer f08, full-outer f12, semi here):
    the semi form is what funnels actually want, because the inner join
    duplicates a purchase once per matching click and forces a
    downstream dedup that semi avoids entirely.

    A semi join drops a left row's state the moment it matches (it can
    never emit again), and its emission is eager (existence is monotone
    — no watermark wait), so the availableNow drain surfaces every match
    without sentinel staging."""
    joined = purchase_click_join_plan(events_stream(spark, sf_dir), "left_semi")
    result = run_to_memory(joined, output_mode="append", name_prefix="f14_semi")
    return result.select("purchase_id", "user_id").orderBy("purchase_id")


# ---------------------------------------------------------------------------
# f15 — streaming latest-state materialization (CDC compaction)
# ---------------------------------------------------------------------------
@query(
    "f15_streaming_latest_state",
    oracle="""
    SELECT user_id,
           event_type AS last_event_type,
           CAST(ts AS TIMESTAMP) AS last_ts,
           value AS last_value
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                                event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def f15_streaming_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latest-state materialization: one row per user holding
    their most recent event (argmax by event time, event_id tiebreak),
    maintained incrementally as a streaming ``max(struct(...))``
    aggregate in complete mode — the CDC log-compaction semantics
    (Kafka compacted topics, Delta MERGE-latest) expressed INSIDE the
    engine, and what f07's enrichment dim would be if the dimension
    itself arrived as a stream.

    Scale: state is ONE struct per distinct user (key-bounded, not
    event-bounded) and the merge is associative — max over (ts,
    event_id, ...) structs — so micro-batch boundaries cannot change
    the result (the f11/f13 split-invariance argument; event_id
    uniqueness makes the comparison never reach the non-key fields).
    The batch oracle is the per-user ROW_NUMBER argmax. At 100 TB the
    same plan runs update-mode into a keyed sink (foreach_batch_upsert,
    streaming/transactions.py) instead of a complete-mode memory
    table."""
    result = run_to_memory(
        latest_state_plan(events_stream(spark, sf_dir)),
        output_mode="complete",
        name_prefix="f15_latest",
    )
    return result.select(
        "user_id",
        F.col("m.event_type").alias("last_event_type"),
        F.col("m.ts").alias("last_ts"),
        F.col("m.value").alias("last_value"),
    ).orderBy("user_id")
