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
     over the snapshot. The raw page's ``total`` is that same count.
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
            self.registry.update(batch_id, status=BatchStatus.RUNNING, started_at=t0)
            source = self._build_source(batch_id, start_date, end_date, filters or {})
            t1 = time.time()

            raw = self.raw_path(batch_id)
            # Snapshot partitioned by category: ~10 partitions whose
            # values downstream filters prune on (BatchJob.scala:65-69).
            # Fix 1: the write itself counts the rows it writes.
            # Fix 4: rebalanced by category, one file per category.
            written = Observation()
            source.hint("rebalance", "category").observe(
                written, F.count(F.lit(1)).alias("rows")
            ).write.format(self.fmt).partitionBy("category").mode("overwrite").save(raw)
            row_count = written.get["rows"]
            t2 = time.time()

            # Fix 2: analyses read the snapshot back, with its known schema.
            snapshot = (
                self.spark.read.format(self.fmt)
                .schema(_snapshot_schema(source.schema))
                .load(raw)
            )
            agg = self.agg_path(batch_id)
            results = run_analysis(analysis_type, snapshot)
            if analysis_type == "full_report":
                for name, df in results.items():
                    df.write.format(self.fmt).mode("overwrite").save(
                        os.path.join(agg, name)
                    )
            else:
                results[analysis_type].write.format(self.fmt).mode(
                    "overwrite"
                ).save(agg)
            t3 = time.time()

            record = self.registry.update(
                batch_id,
                status=BatchStatus.COMPLETED,
                completed_at=time.time(),
                row_count=row_count,
                raw_path=raw,
                agg_path=agg,
                phase_s={
                    "source": t1 - t0,
                    "snapshot_write": t2 - t1,
                    "analysis_write": t3 - t2,
                },
            )
            persist_record(self.base_dir, record)
        except Exception as exc:  # noqa: BLE001 — status machine contract
            record = self.registry.update(
                batch_id,
                status=BatchStatus.FAILED,
                completed_at=time.time(),
                error=f"{type(exc).__name__}: {exc}\n{traceback.format_exc(limit=5)}",
            )
            persist_record(self.base_dir, record)
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)
            clear_job_group(sc)

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
        max_page: int = 10000,
        total: int | None = None,
    ) -> tuple[list[dict], int]:
        """In-plan offset/limit pagination over a persisted result —
        replaces the reference's collect-everything-then-slice
        (BatchRoutes.scala:147-149). Returns (rows, total). A caller
        that knows ``total`` (the snapshot's ``row_count``) saves the
        count job, and the read too when the page is past the end."""
        limit = min(limit, max_page)
        if total is not None and offset >= total:
            return [], total
        df = self.spark.read.format(self.fmt).load(path)
        if total is None:
            total = df.count()
        page_df = df.orderBy(*df.columns[:1]).offset(offset).limit(limit)
        return [row.asDict(recursive=True) for row in page_df.collect()], total


def clear_job_group(sc) -> None:
    """Undo ``sc.setJobGroup`` on this thread (PySpark has no
    ``clearJobGroup``): the pool thread or request thread goes back to
    untagged jobs."""
    for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def _snapshot_schema(source: StructType) -> StructType:
    """The schema a category-partitioned snapshot of ``source`` reads
    back with: the partition column last, every column nullable (as
    file sources read them)."""
    fields = [f for f in source.fields if f.name != "category"]
    fields += [source["category"]]
    return StructType([StructField(f.name, f.dataType, True) for f in fields])
