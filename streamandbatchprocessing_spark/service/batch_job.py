"""Batch analytics job runner.

Parity target: reference ``jobs/BatchJob.scala:25-116`` (the
``POST /batch/run`` execution path, SURVEY.md §3.1): load the event
table → date-range + dynamic equality filters → stamp batch columns →
persist raw snapshot (partitioned by category) → run 1-or-8 analyses →
persist aggregates → atomically flip registry status, with FAILED on
any exception and the scheduler pool reset in a finally.

Deliberate fixes of the reference's physical anti-patterns
(SURVEY.md §4), behavior-identical at the API level:
  1. row_count is observed on the snapshot write (an ``Observation``
     counting the rows as they are written), not a second pass over the
     source lineage (BatchJob.scala:65-71 rescans) nor a ``count()`` job
     over the snapshot. The raw page's ``total`` is that same count;
     each aggregate's row count is observed on its write too, and the
     schema of every output goes on the record (and ``meta.json``), so
     a page runs its own job only: no count, no schema inference.
  2. Analyses read the persisted snapshot, not the source lineage —
     ``full_report`` in the reference recomputes the filtered scan 8×
     (BatchJob.scala:76); here the snapshot is scanned once per
     analysis from compact, category-partitioned files. The read-back
     uses the schema the runner wrote, so no schema-inference job runs,
     and an empty snapshot (no files) reads as zero rows.
  3. Scheduler pool and job group (the batch id) set per-thread via
     ``setLocalProperty`` (works from Python threads under Py4J
     pinned-thread mode, on by default), so event logs and
     ``statusTracker().getJobIdsForGroup`` attribute a batch's jobs.
  4. The snapshot is rebalanced by ``category`` before it is written.
     Without it each input split writes one file per category it sees:
     a 7-day, one-filter window (4–7k rows, 4–5 splits) wrote about 50
     parquet files, which the analysis scan and the raw page then read
     back. AQE coalesces a small rebalance to one file per category and
     splits a large or skewed one into advisory-sized files, so the
     file count follows the bytes, not the split count. Files are
     dear on a local filesystem without the Hadoop native library:
     each ``create`` (with its checksum twin) spawns processes.

Every batch is a handful of small Spark jobs that queue in the FAIR
``batch-pool`` behind the stream, so the runner issues only the jobs
its outputs need; ``phase_s`` on the record says where the time went.
"""

from __future__ import annotations

import os
import time
import traceback
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..operators.analytics import run_analysis
from .maintenance import persist_record
from .registry import BatchRegistry, BatchStatus


def new_batch_id(now: datetime | None = None) -> str:
    """``batch-<yyyymmdd>-<8-hex>`` (reference BatchRoutes.scala:60-61)."""
    now = now or datetime.now(timezone.utc)
    return f"batch-{now:%Y%m%d}-{uuid.uuid4().hex[:8]}"


class BatchJobRunner:
    def __init__(
        self,
        spark: SparkSession,
        registry: BatchRegistry,
        base_dir: str,
        fmt: str = "parquet",
        source_loader=None,
    ) -> None:
        self.spark = spark
        self.registry = registry
        self.base_dir = base_dir
        self.fmt = fmt
        #: () -> DataFrame over the transaction schema; injected so tests
        #: and deployments choose the event table (Delta dir, parquet, …).
        self.source_loader = source_loader

    # -- paths (layout parity: AGENTS.md:1071-1100) ----------------------
    def raw_path(self, batch_id: str) -> str:
        return os.path.join(self.base_dir, "batches", batch_id, "raw")

    def agg_path(self, batch_id: str) -> str:
        return os.path.join(self.base_dir, "batches", batch_id, "aggregated")

    # -- execution -------------------------------------------------------
    def run(
        self,
        batch_id: str,
        start_date: str,
        end_date: str,
        analysis_type: str,
        filters: dict[str, str] | None = None,
    ) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", "batch-pool")
        sc.setJobGroup(batch_id, f"{analysis_type} {start_date}..{end_date}")
        try:
            t0 = time.time()
            if self.registry.update_if(
                batch_id, BatchStatus.PENDING, status=BatchStatus.RUNNING, started_at=t0
            ) is None:
                return  # failed by a shutdown before this thread got to it
            source = self._build_source(batch_id, start_date, end_date, filters or {})
            t1 = time.time()

            raw = self.raw_path(batch_id)
            # Snapshot partitioned by category: ~10 partitions whose
            # values downstream filters prune on (BatchJob.scala:65-69).
            # Fix 1: the write itself counts the rows it writes.
            # Fix 4: rebalanced by category, one file per category.
            raw_schema = _snapshot_schema(source.schema)
            if self._stopped(batch_id):
                return
            row_count = _write_counted(
                source.hint("rebalance", "category"), self.fmt, raw, "category"
            )
            t2 = time.time()

            # Fix 2: analyses read the snapshot back, with its known schema.
            snapshot = self.spark.read.format(self.fmt).schema(raw_schema).load(raw)
            agg = self.agg_path(batch_id)
            results = run_analysis(analysis_type, snapshot)
            schemas = {"raw": raw_schema.jsonValue()}
            agg_rows = {}
            for name, df in results.items():
                # Each analysis's schema and row count go on the record,
                # so its pages need no inference or count job either.
                path = os.path.join(agg, name) if analysis_type == "full_report" else agg
                schemas[name] = df.schema.jsonValue()
                if self._stopped(batch_id):
                    return
                agg_rows[name] = _write_counted(df, self.fmt, path)
            t3 = time.time()

            self._finish(
                batch_id,
                status=BatchStatus.COMPLETED,
                completed_at=time.time(),
                row_count=row_count,
                raw_path=raw,
                agg_path=agg,
                schemas=schemas,
                agg_row_count=agg_rows,
                phase_s={
                    "source": t1 - t0,
                    "snapshot_write": t2 - t1,
                    "analysis_write": t3 - t2,
                },
            )
        except Exception as exc:  # noqa: BLE001 — status machine contract
            self._finish(
                batch_id,
                status=BatchStatus.FAILED,
                completed_at=time.time(),
                error=f"{type(exc).__name__}: {exc}\n{traceback.format_exc(limit=5)}",
            )
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)
            clear_job_group(sc)

    def _stopped(self, batch_id: str) -> bool:
        """True once a shutdown has failed the batch: it starts no further
        write. Spark itself rejects a cancelled group's later jobs, but
        not the shuffle stages AQE submits ahead of them."""
        return self.registry.get(batch_id).status is not BatchStatus.RUNNING

    def _finish(self, batch_id: str, **changes) -> None:
        """Record and persist a terminal state, unless a shutdown already
        failed the batch while it ran."""
        record = self.registry.update_if(batch_id, BatchStatus.RUNNING, **changes)
        if record is not None:
            persist_record(self.base_dir, record)

    def _build_source(
        self,
        batch_id: str,
        start_date: str,
        end_date: str,
        filters: dict[str, str],
    ) -> DataFrame:
        """Filtered, stamped source (BatchJob.scala:44-59): the
        event_date BETWEEN drives partition pruning; dynamic equality
        filters push down to the scan."""
        if self.source_loader is None:
            raise ValueError("no source_loader configured")
        df = self.source_loader()
        df = df.filter(F.col("event_date").between(start_date, end_date))
        for column, value in filters.items():
            df = df.filter(F.col(column) == value)
        return df.withColumn("batch_id", F.lit(batch_id)).withColumn(
            "processing_timestamp", F.current_timestamp()
        )

    # -- retrieval (scalable pagination, AGENTS.md:1149-1155 spec) -------
    def page(
        self,
        path: str,
        offset: int = 0,
        limit: int = 100,
        total: int | None = None,
        schema: StructType | None = None,
    ) -> tuple[list[dict], int]:
        """In-plan offset/limit pagination over a persisted result —
        replaces the reference's collect-everything-then-slice
        (BatchRoutes.scala:147-149). Returns (rows, total). A caller
        that knows ``total`` and ``schema`` (both on the batch record)
        saves the count job and the schema-inference job, and the read
        too when the page is past the end."""
        if total is not None and offset >= total:
            return [], total
        reader = self.spark.read.format(self.fmt)
        df = (reader.schema(schema) if schema is not None else reader).load(path)
        if total is None:
            total = df.count()
        page_df = df.orderBy(*df.columns[:1]).offset(offset).limit(limit)
        return [row.asDict(recursive=True) for row in page_df.collect()], total


#: How long a stop waits for running batches before cancelling them, on
#: ``/stop`` (the reference's response-flush pause) and on
#: ``Runtime.shutdown`` alike. It bounds the stop; it is not meant to let
#: a batch finish (one takes about 5.5 s beside the live stream), since a
#: batch cut off here ends FAILED with the reason, which its client sees.
STOP_GRACE_S = 2.0


def stop_batches(runner: BatchJobRunner, pool, grace_s: float = 0.0) -> None:
    """Shut the batch pool down in bounded time: ``pool.shutdown(wait=True)``
    would wait forever on a hung batch. Queued batches never start.
    Running ones get ``grace_s`` to finish; then their job groups are
    cancelled, with every job they would start later too. Both end FAILED
    with the reason. A thread stuck outside Spark keeps running, but its
    record stays FAILED and it starts no further Spark job."""
    pool.shutdown(wait=False, cancel_futures=True)
    registry = runner.registry

    def fail(status: BatchStatus, reason: str) -> list[str]:
        failed = []
        for record in registry.list_by_status(status):
            record = registry.update_if(
                record.batch_id, status, status=BatchStatus.FAILED,
                completed_at=time.time(), error=reason,
            )
            if record is not None:
                persist_record(runner.base_dir, record)
                failed.append(record.batch_id)
        return failed

    fail(BatchStatus.PENDING, "service stopped before the batch started")
    deadline = time.time() + grace_s
    while registry.list_by_status(BatchStatus.RUNNING) and time.time() < deadline:
        time.sleep(0.05)
    reason = f"service stopped; cancelled after a {grace_s:g} s grace"
    # PySpark has no cancelJobGroupAndFutureJobs: a thread between two
    # jobs (in its loader, or between the snapshot and aggregate writes)
    # would otherwise start its next write after the cancel.
    jsc = runner.spark.sparkContext._jsc.sc()  # noqa: SLF001
    for batch_id in fail(BatchStatus.RUNNING, reason):
        jsc.cancelJobGroupAndFutureJobs(batch_id, reason)


def clear_job_group(sc) -> None:
    """Undo ``sc.setJobGroup`` on this thread (PySpark has no
    ``clearJobGroup``): the pool thread or request thread goes back to
    untagged jobs."""
    for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def _write_counted(df: DataFrame, fmt: str, path: str, partition_by: str | None = None) -> int:
    """Overwrite ``path`` with ``df`` and return the rows written, counted
    by an ``Observation`` on the write itself (no second job)."""
    written = Observation()
    writer = df.observe(written, F.count(F.lit(1)).alias("rows")).write.format(fmt)
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.mode("overwrite").save(path)
    return written.get["rows"]


def _snapshot_schema(source: StructType) -> StructType:
    """The schema a category-partitioned snapshot of ``source`` reads
    back with: the partition column last, every column nullable (as
    file sources read them)."""
    fields = [f for f in source.fields if f.name != "category"]
    fields += [source["category"]]
    return StructType([StructField(f.name, f.dataType, True) for f in fields])
