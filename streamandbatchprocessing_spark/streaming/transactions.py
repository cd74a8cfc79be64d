"""The reference's two-query streaming pipeline + lifecycle manager.

Parity target: ``jobs/StreamingJob.scala:20-72`` — from one parsed
transaction stream, (1) an append-mode raw sink partitioned by
``event_date`` (the table batch jobs read), and (2) the complete-mode
windowed dashboard aggregate — both checkpointed, both running in the
``streaming-pool`` FAIR pool; plus the handle management of
``routes/StreamRoutes.scala:19-21,73-138``.

The dashboard's state is sized by its key space, not by the cores. It
is keyed by (5-min window sliding by 1 min, ``category``) under a
10-min watermark, so it holds about 15 windows × the categories
whatever the input rate, and its partial aggregation runs map-side
before the state exchange. Under the session default (2 × cores state
partitions) every micro-batch ran that many state tasks, each
committing its own state-store version (a delta file plus its
checksum) for a handful of rows; with one partition a micro-batch
commits once. A restart keeps the count pinned in the checkpoint's
offset log, so older checkpoints keep theirs.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.analytics import realtime_dashboard
from ..schemas import with_ingest_columns
from .pipeline import shuffle_partitions

#: State partitions of the dashboard query in a fresh checkpoint. Its
#: state is bounded by its key space, not by the input rate (see the
#: module docstring), so one partition holds it at any scale.
DASHBOARD_STATE_PARTITIONS = 1


def start_transaction_pipeline(
    spark: SparkSession,
    source: DataFrame,
    base_dir: str,
    trigger_available_now: bool = False,
):
    """Start both streaming queries; returns their handles.

    ``trigger_available_now`` turns the always-on pipeline into a
    deterministic drain-and-stop run for tests (SURVEY.md §5 layer 3).
    """
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "streaming-pool")
    try:
        enriched = with_ingest_columns(source)

        def _writer(df: DataFrame, name: str, mode: str, sink: str, partition_by=None):
            writer = (
                df.writeStream.format(sink)
                .queryName(name)
                .outputMode(mode)
                .option(
                    "checkpointLocation",
                    os.path.join(base_dir, "checkpoints", name),
                )
            )
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            if trigger_available_now:
                writer = writer.trigger(availableNow=True)
            return writer

        raw_query = _writer(
            enriched, "raw_transactions", "append", "parquet", ["event_date"]
        ).start(os.path.join(base_dir, "stream", "transactions"))

        try:
            # A complete-mode aggregate cannot go to a parquet sink
            # (file sinks are append-only), so the dashboard lands in a
            # memory table.
            dash = realtime_dashboard(enriched)
            with shuffle_partitions(spark, DASHBOARD_STATE_PARTITIONS):
                dash_query = _writer(
                    dash, "stream_aggregations", "complete", "memory"
                ).start()
        except Exception:
            # A half-started pipeline is worse than none: the raw query
            # would keep running with no handle anyone tracks, and its
            # queryName/checkpoint would block every future start.
            raw_query.stop()
            raise
        return [raw_query, dash_query]
    finally:
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)


def last_progress(query) -> dict | None:
    """The operator's view of a query's last micro-batch: rates, the
    trigger's duration, the watermark (event-time queries) and, per
    state operator, its rows, memory, commit time and partition count.
    ``None`` before the first progress."""
    progress = query.lastProgress
    if progress is None:
        return None
    p = json.loads(progress.json)
    out = {
        "batchId": p["batchId"],
        "numInputRows": p.get("numInputRows"),
        "inputRowsPerSecond": p.get("inputRowsPerSecond"),
        "processedRowsPerSecond": p.get("processedRowsPerSecond"),
        "durationMs": {"triggerExecution": p["durationMs"].get("triggerExecution")},
    }
    if "watermark" in p.get("eventTime", {}):
        out["eventTime"] = {"watermark": p["eventTime"]["watermark"]}
    if p["stateOperators"]:
        out["stateOperators"] = [
            {k: op.get(k) for k in (
                "numRowsTotal", "memoryUsedBytes", "commitTimeMs", "numShufflePartitions",
            )}
            for op in p["stateOperators"]
        ]
    return out


class StreamManager:
    """Query-handle lifecycle for the REST layer (StreamRoutes parity):
    start → handles; stop-all; status via isActive/id/name, plus each
    query's :func:`last_progress`."""

    def __init__(
        self, spark: SparkSession, source_factory: Callable[[str | None], DataFrame],
        base_dir: str,
    ) -> None:
        import threading

        self.spark = spark
        self.source_factory = source_factory
        self.base_dir = base_dir
        self._queries = []
        # The reference holds its handles in an AtomicReference
        # (StreamingJob.scala:20-21); the route-level is_active() check
        # alone is a TOCTOU — two concurrent starts would both pass it,
        # and the first pipeline's handles would be overwritten
        # (running queries nobody can stop). start() re-checks under
        # this lock.
        self._lock = threading.Lock()

    def is_active(self) -> bool:
        return any(q.isActive for q in self._queries)

    def start(self, topic: str | None = None) -> list[str]:
        with self._lock:
            if self.is_active():
                raise RuntimeError("streaming pipeline already running")
            source = self.source_factory(topic)
            self._queries = start_transaction_pipeline(
                self.spark, source, self.base_dir
            )
            return [str(q.id) for q in self._queries]

    def stop(self) -> int:
        """Stop all active queries; returns how many were ACTUALLY
        stopped (reference parity: stopAllQueries increments per
        q.isActive at stop time — deriving the count from a status()
        snapshot taken before stopping can drift if a query terminates
        or starts in between)."""
        with self._lock:
            stopped = 0
            for q in self._queries:
                if q.isActive:
                    q.stop()
                    stopped += 1
            self._queries = []
            return stopped

    def status(self) -> dict:
        return {
            "active": self.is_active(),
            "queries": [
                {
                    "id": str(q.id),
                    "name": q.name,
                    "isActive": q.isActive,
                    "lastProgress": last_progress(q),
                }
                for q in self._queries
            ],
        }


def foreach_batch_upsert(
    stream: DataFrame,
    target: "VersionedUpsertSink",
    checkpoint_dir: str,
    trigger_available_now: bool = False,
):
    """Exactly-once delivery to a non-transactional sink via
    ``foreachBatch`` — the production pattern for complete/update-mode
    results landing anywhere that isn't Delta (JDBC, key-value stores,
    plain parquet): the sink keys writes by ``(batch_id)`` so a replayed
    micro-batch after a crash overwrites instead of duplicating
    (idempotence), which upgrades Structured Streaming's at-least-once
    replay into effective exactly-once.

    Scale note: each micro-batch arrives as a normal DataFrame, so the
    upsert can use any batch machinery (broadcast joins, partitioned
    overwrite of only affected keys). State stays in the streaming
    engine; the sink only ever sees deltas.
    """

    def _sink(df: DataFrame, epoch_id: int) -> None:
        target.upsert(df, epoch_id)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class VersionedUpsertSink:
    """Minimal idempotent key-value sink for foreach_batch_upsert tests:
    rows merge by key columns; replaying the same epoch is a no-op
    (epoch ids are recorded, the at-least-once guard)."""

    def __init__(self, key_cols: list[str]) -> None:
        self.key_cols = key_cols
        self.rows: dict[tuple, dict] = {}
        self.applied_epochs: set[int] = set()

    def upsert(self, df: DataFrame, epoch_id: int) -> None:
        if epoch_id in self.applied_epochs:  # replayed micro-batch
            return
        for row in df.collect():  # test sink only; real sinks write batch-side
            d = row.asDict()
            self.rows[tuple(d[k] for k in self.key_cols)] = d
        self.applied_epochs.add(epoch_id)
