"""Structured Streaming building blocks.

Parity targets (SURVEY.md §2.7): the reference runs two always-on
streaming queries — a raw Kafka→Delta append pipeline and a
watermarked sliding-window dashboard in complete mode
(StreamingJob.scala:20-72, AnalysisAggregator.scala:225-250). Here the
same plans are built source-agnostically: Kafka for production
(sources/kafka.py), file replay + ``availableNow`` trigger for
deterministic tests — the driver fixtures have no Kafka, and
correctness needs replayable input (SURVEY.md §5 test strategy).

Scale notes: watermarks bound state; sliding windows multiply state by
window/slide (5 here) — at 100 TB the dashboard state is
(windows × categories), small by construction since both dims are
bounded. Complete-mode output is only viable because the aggregate
cardinality is bounded; unbounded-key aggregations must use
append/update with watermark eviction.
"""

from __future__ import annotations

import itertools
import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..functions.aggregates import dsum
from ..sources.staging import staging_dir

_MEM_COUNTER = itertools.count()

#: Serializes the shuffle-partition save/set/restore of
#: :func:`shuffle_partitions` (drains, the live dashboard's start) —
#: two overlapping callers must not interleave their restores. RLock so
#: a nested drain on the same thread (e.g. a foreachBatch body that
#: itself drains) degrades to re-entry instead of deadlock; the nested
#: save/restore pair is then correctly LIFO within the one thread.
_DRAIN_CONF_LOCK = threading.RLock()

#: Physical schema of events.parquet when ``ts`` is stored as
#: TIMESTAMP(NANOS) read via nanosAsLong (see sources/batch._load_events)
#: — also the schema several tests use to write their own int64-ts
#: fixture files.
EVENTS_FILE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _events_ts_unit(sf_dir: str) -> str | None:
    """Parquet physical unit of events.ts: 'ns', 'us', or None for a
    plain INT64 column. The driver has shipped both nanos and micros
    fixtures across rounds, so every reader detects instead of assuming.

    ``events.parquet`` may be a single file (the fixtures) or a
    DIRECTORY of part files (the production layout) — probe the first
    part file in the latter case; a table's parts share one schema."""
    import glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        path = parts[0]
    t = pq.read_schema(path).field("ts").type
    return getattr(t, "unit", None)


def _events_schema_for(unit: str | None) -> StructType:
    if unit in (None, "ns"):
        return EVENTS_FILE_SCHEMA
    fields = [
        StructField(f.name, TimestampNTZType() if f.name == "ts" else f.dataType)
        for f in EVENTS_FILE_SCHEMA.fields
    ]
    return StructType(fields)


def _normalize_event_ts(raw: DataFrame, unit: str | None) -> DataFrame:
    # Target TimestampType (not NTZ): watermarks/event-time require it.
    # Session timezone is pinned to UTC by ensure_query_conf, so wall
    # clocks match the NTZ batch path and the timezone-naive oracle.
    if unit in (None, "ns"):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events fixture via the file source —
    deterministic replay of the same rows the batch path reads.

    Handles both table layouts: a single ``events.parquet`` file (the
    fixtures — streamed from the parent dir with a name filter, since
    the file source wants a directory) and an ``events.parquet/``
    DIRECTORY of part files (the production layout — streamed
    directly)."""
    unit = _events_ts_unit(sf_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    reader = spark.readStream.schema(_events_schema_for(unit))
    if os.path.isdir(path):
        raw = reader.parquet(path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return _normalize_event_ts(raw, unit)


def events_stream_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events fixture staged for OUTER-join /
    eviction semantics on finite input.

    The fixture is a single parquet file, so ``availableNow`` drains it
    in ONE micro-batch — and outer-join results (and any
    watermark-expiry output) are only emitted in a batch AFTER the
    watermark has advanced past a row's expiry, so on a 1-batch drain
    they would be withheld forever. Staging copies the fixture into a
    temp dir alongside two far-future sentinel files and reads with
    ``maxFilesPerTrigger=2``: batch 1 = the data PLUS the
    first sentinel (which sets the batch's max event time a day past
    every real row, so the watermark computed at batch end already
    clears all real-data expiries), batch 2 = the second sentinel,
    whose only job is to BE a batch — expired state flushes while it
    runs. Two micro-batches total; the earlier one-file-per-trigger
    staging spent a third batch advancing the watermark separately
    (measured ~25% of the whole f12 drain). Each sentinel carries one
    'purchase' AND one 'click' row (``user_id = -1``) because
    watermarks are tracked per branch and the GLOBAL watermark is
    their minimum — a click-only sentinel would stall the purchase
    branch. Callers must drop ``user_id < 0`` rows from the result.

    The batch arithmetic above assumes the fixture is a single parquet
    FILE (a multi-part ``events.parquet/`` directory would shift batch
    composition and watermark timing) — asserted below; directory
    fixtures take the unstaged :func:`events_stream` path."""
    import shutil
    import time as _time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    if not os.path.isfile(src):
        raise ValueError(
            f"events_stream_staged stages a single-file fixture; {src} "
            "is not a plain file — stream a multi-part directory via "
            "events_stream (staged batch accounting assumes one data "
            "file per the docstring)"
        )
    stage = staging_dir("sbp-staged-events-")
    dst = os.path.join(stage, "00-events.parquet")
    shutil.copyfile(src, dst)
    unit = _events_ts_unit(sf_dir) or "ns"
    # Max ts as a raw integer in the fixture's own unit; sentinels are
    # written in that same unit so the staged dir stays schema-uniform.
    raw_ts = pq.read_table(src, columns=["ts"])["ts"].cast(pa.int64())
    # Zero-row fixture (pruned slice / empty tenant): max is NULL.
    # Anchor sentinels at epoch 0 — the drain still runs its two
    # micro-batches and the sentinel-dropping filter leaves an empty,
    # schema-exact result instead of an int(None) crash.
    _mx = pc.max(raw_ts).as_py()
    mx_raw = int(_mx) if _mx is not None else 0
    base = _time.time()
    os.utime(dst, (base - 30, base - 30))
    day = 86_400 * (1_000_000_000 if unit == "ns" else 1_000_000)
    for i in range(2):
        ts_val = mx_raw + (i + 1) * day
        tbl = pa.table(
            {
                "event_id": pa.array([-2 * i - 1, -2 * i - 2], pa.int64()),
                "ts": pa.array([ts_val, ts_val], pa.timestamp(unit)),
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": pa.array(["purchase", "click"]),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array(["{}", "{}"]),
            }
        )
        path = os.path.join(stage, f"{i + 1:02d}-sentinel.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (base - 20 + 10 * i, base - 20 + 10 * i))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(_events_schema_for(unit))
        .option("maxFilesPerTrigger", "2")
        .parquet(stage)
    )
    return _normalize_event_ts(raw, unit)


#: State partitions of every drain's stateful operators in its fresh
#: checkpoint. Streaming state exchanges are never AQE-coalesced, and
#: 64 state tasks per micro-batch is pure scheduling overhead on
#: fixture-sized input (measured 2.8 s → 1.5 s at sf0.1). The live
#: dashboard's count is ``transactions.DASHBOARD_STATE_PARTITIONS``.
DRAIN_STATE_PARTITIONS = 8


def run_to_memory(
    df: DataFrame,
    output_mode: str = "complete",
    name_prefix: str = "sbp_mem",
    trigger_once: bool = False,
) -> DataFrame:
    """Execute a streaming DataFrame to completion with an
    ``availableNow`` trigger into a memory sink; return the sink table.

    availableNow processes all currently-available input then stops —
    the streaming engine plans the same incremental micro-batches it
    would for live data (checkpointed, watermark-tracked), which is what
    makes streaming logic testable against a batch oracle.

    ``trigger_once=True`` swaps in the single-batch ``Trigger.Once``:
    REQUIRED for plans with processing-time state timeouts, where the
    engine always considers another batch runnable, so availableNow
    (and ``processAllAvailable``) never terminate on finite input.

    The drain starts under :data:`DRAIN_STATE_PARTITIONS` shuffle
    partitions, which its fresh checkpoint pins; the session conf is
    restored after the drain. Concurrent BATCH queries on the same
    session observe the reduced value meanwhile (harmless at
    fixture scale — AQE re-coalesces batch shuffles). A production
    deployment instead sizes the session conf once for its key
    cardinality and keeps it for the checkpoint's lifetime.
    """
    spark = df.sparkSession
    name = f"{name_prefix}_{next(_MEM_COUNTER)}"
    checkpoint = staging_dir("sbp-stream-ckpt-")
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(checkpoint, "ckpt"))
    )
    writer = writer.trigger(once=True) if trigger_once else writer.trigger(
        availableNow=True
    )
    with shuffle_partitions(spark, DRAIN_STATE_PARTITIONS):
        query = writer.start()
        query.awaitTermination()
    return spark.table(name)


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int):
    """Run the body with the session's ``spark.sql.shuffle.partitions``
    at ``n``, restoring the old value after it (under
    ``_DRAIN_CONF_LOCK``). A stream started in the body pins ``n`` as
    its state-partition count in a fresh checkpoint: the query clones
    the session conf when ``start()`` builds it, so restoring right
    after ``start()`` returns leaves the running query at ``n``."""
    conf_key = "spark.sql.shuffle.partitions"
    with _DRAIN_CONF_LOCK:
        old_parts = spark.conf.get(conf_key)
        spark.conf.set(conf_key, str(n))
        try:
            yield
        finally:
            spark.conf.set(conf_key, old_parts)


def dashboard_plan(stream: DataFrame) -> DataFrame:
    """The realtimeDashboard aggregation (AnalysisAggregator.scala:
    225-250): watermark 10 min → sliding window(5 min, 1 min) ×
    event_type → counts + exact-decimal value totals.

    The reference uses approx_count_distinct here because exact distinct
    is illegal in streaming aggregation (SURVEY.md A4/A5 split); HLL
    sketches aren't portable across engines, so the oracle-gated columns
    stick to count/sum and the approx variant is covered by unit tests.
    """
    return (
        stream.filter(F.col("event_type").isin("purchase", "click"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes", "1 minute"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows_plan(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (``F.session_window``, SURVEY.md T8) as
    a streaming aggregation: sessions merge in state as events arrive;
    the watermark finalizes a session once no event within its gap can
    still arrive, so state is O(open sessions), not O(events).

    Run in complete mode on finite replay (run_to_memory) the merged
    result converges to the batch gaps-and-islands answer, including
    sessions still open at end-of-input — which append mode would hold
    back until the watermark passes their close."""
    return (
        stream.withWatermark("ts", gap)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup_plan(stream: DataFrame) -> DataFrame:
    """Streaming deduplication on (user_id, event_type) — the operator
    the reference lacks (SURVEY.md T8). Key-only projection so the
    retained-row choice (nondeterministic under parallelism) can't leak
    into results; with a watermark this becomes
    ``dropDuplicatesWithinWatermark`` for bounded state."""
    return stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )


def final_update_rows(updates: DataFrame, keys: list[str]) -> DataFrame:
    """Each key's last update-mode emission: a drain in update mode
    re-emits a key in every micro-batch that touches it, and its
    ``n_events`` only grows, so the row with the largest count is the
    final state."""
    w = Window.partitionBy(*keys).orderBy(F.desc("n_events"))
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _fold_cents(totals: tuple, pdf) -> tuple:
    """Fold one pandas chunk of a key's rows into its ``(n, cents, nv)``
    totals: the row count, the value sum in integer cents, and ``nv``,
    the count of non-null values. SUM over an all-NULL group is NULL in
    SQL and 0 is a legitimate sum, so only ``nv`` tells them apart."""
    import numpy as np

    n, cents, nv = totals
    # Half-AWAY-from-zero like the oracle's round(); pandas .round() is
    # half-to-even and differs on exact .5 cents. NULL values are
    # excluded exactly as SQL SUM excludes them — a NaN through
    # astype('int64') is platform garbage (observed: int64 min leaking
    # into totals), never a sum.
    v = (pdf["value"] * 100).to_numpy()
    v = v[~np.isnan(v)]
    cents += int(np.copysign(np.floor(np.abs(v) + 0.5), v).astype("int64").sum())
    return n + len(pdf), cents, nv + len(v)


def _totals_row(key, n: int, cents: int, nv: int, **extra):
    """The one-row pandas output of a user-totals update."""
    import pandas as pd

    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_cents": pd.array([cents if nv else None], dtype="Int64"),
            **{name: [value] for name, value in extra.items()},
        }
    )


def user_totals_plan(stream: DataFrame) -> DataFrame:
    """Per-user running totals in explicit GroupState
    (``applyInPandasWithState``, update mode, no timeout): one
    ``(user_id, n_events, total_cents)`` row per key per micro-batch.
    Money accumulates in integer cents inside pandas, so state merge
    order cannot perturb floats."""
    from functools import reduce

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        totals = reduce(_fold_cents, pdfs, state.get if state.exists else (0, 0, 0))
        state.update(totals)
        yield _totals_row(key, *totals)

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_cents bigint",
        stateStructType="n bigint, cents bigint, nv bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def purchase_click_join_plan(stream: DataFrame, how: str) -> DataFrame:
    """Purchase→click attribution: a stream-stream interval join of one
    events stream with itself, of type ``how``. Purchases
    ``(purchase_id, user_id, p_ts)`` meet the same user's clicks
    ``(click_id, c_user_id, c_ts)`` in the 5 minutes up to the purchase.
    Both sides are watermarked at 10 minutes, so the join state holds
    about (watermark + interval) of each side: rate x window, not
    history. Both branches filter the one source, which is listed and
    read once per micro-batch."""
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        how,
    )


def stateful_totals_with_eviction_plan(
    stream: DataFrame, timeout_ms: int = 30 * 60 * 1000
) -> DataFrame:
    """Per-user running totals in explicit GroupState WITH idle-key
    eviction (SURVEY.md T8 completion): ``ProcessingTimeTimeout`` arms a
    per-key deadline on every update; a key that stays silent past it
    gets one final ``finalized=true`` row and its state removed.

    This is the missing piece that makes arbitrary state viable at
    100 TB — without eviction, state is O(keys-ever) and a long-running
    job eventually spills or dies; with it, state is O(recently-active
    keys). Caveat (Spark semantics): processing-time timeouts only fire
    when SOME micro-batch runs, so a fully idle stream evicts nothing
    until data flows again — acceptable because state pressure and new
    data arrive together.

    State per key: the ``(n, cents, nv)`` totals of
    :func:`user_totals_plan` plus the bounded distinct event-type set as
    a sorted comma-joined string (state schemas are flat structs; the
    type universe is 5 values so the string is bounded)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, cents, nv, types = state.get
            state.remove()
            n_types = len([t for t in types.split(",") if t])
            yield _totals_row(key, n, cents, nv, n_types=n_types, finalized=True)
            return
        n, cents, nv, types = state.get if state.exists else (0, 0, 0, "")
        totals, tset = (n, cents, nv), {t for t in types.split(",") if t}
        for pdf in pdfs:
            totals = _fold_cents(totals, pdf)
            # COUNT(DISTINCT event_type) semantics: NULL never counts.
            tset |= set(pdf["event_type"].dropna().unique())
        state.update((*totals, ",".join(sorted(tset))))
        state.setTimeoutDuration(timeout_ms)
        yield _totals_row(key, *totals, n_types=len(tset), finalized=False)

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, n_events bigint, total_cents bigint, "
            "n_types bigint, finalized boolean"
        ),
        stateStructType="n bigint, cents bigint, nv bigint, types string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def latest_state_plan(stream: DataFrame) -> DataFrame:
    """Per-user latest event as a streaming ``max(struct(ts, event_id,
    event_type, value))`` aggregate ``(user_id, m)``: CDC log-compaction
    inside the engine. State is one struct per user, and the max merges
    associatively, so micro-batch boundaries cannot change the result
    (event_id is unique, so the comparison never reaches the non-key
    fields)."""
    return stream.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.col("ts"), F.col("event_id"), F.col("event_type"), F.col("value")
            )
        ).alias("m")
    )


def streaming_dedup_within_watermark_plan(
    stream: DataFrame, dedup_cols: list[str] | None = None
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the bounded-state streaming
    dedup (SURVEY.md T8 extension). Unlike ``dropDuplicates``, whose
    key state grows forever, state here is evicted once the watermark
    passes a key's last-seen event time: exactly-once semantics inside
    the watermark horizon, at-least-once beyond it. That trade is what
    makes streaming exact-dedup viable at 100 TB — state is
    O(keys-per-watermark-window), not O(keys-ever)."""
    return stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        dedup_cols or ["user_id", "event_type"]
    )
