"""SparkSession factory.

Parity target: reference ``SparkManager.scala:11-54`` (AQE on, FAIR
scheduler with streaming/batch pools, Delta extensions, checkpoint dir,
driver memory) — rebuilt for PySpark with scale-minded defaults.

Scale notes (100 TB mindset):
  * AQE on with coalescing + skew-join handling: shuffle partition counts
    are sized at runtime, so the same plan works at sf0.001 and at 100 TB.
  * ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; we
    default it to 2× the local core count and expect a real cluster to
    override it (or rely on AQE's initialPartitionNum).
  * Arrow enabled so any pandas_udf path is vectorized.
  * Broadcast threshold raised to 64 MB: every dimension table in the
    star schema (region/nation/customer/supplier/part) broadcasts, so
    fact-side joins are shuffle-free.

Local masters commit streaming checkpoints through Spark's
``FileSystemBasedCheckpointFileManager``. Every micro-batch writes its
offset and commit log entries, the file source and sink metadata logs
and the state store deltas as a temp file renamed into place. Spark's
default, the FileContext-based manager, renames through
``AbstractFileSystem.renameInternal``, which stats the source, the
target and the target's parent as links; without the Hadoop native
library each of those stats on the local filesystem spawns a
``readlink`` process (1,112 of them for one f14 drain at sf0.01). The
FileSystem-based manager checks that the target is absent and calls
``rename(2)`` through ``RawLocalFileSystem``, which is the same atomic
rename the FileContext path ends in, and spawns no ``readlink``. It
also writes a ``.crc`` next to each log file. Cluster masters keep
Spark's default: their checkpoints live on HDFS, where FileContext's
rename-with-overwrite is one atomic call and no process is spawned.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "streamandbatchprocessing-spark"

_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")

FS_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def is_local_master(master: str) -> bool:
    """True for ``local`` and ``local[...]``: driver and executors share
    one JVM. ``local-cluster[...]`` runs separate executor JVMs, so it
    counts as a cluster."""
    return _LOCAL_MASTER.fullmatch(master) is not None


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    enable_fair_scheduler: bool = True,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults."""
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Parity: the reference sizes driver memory explicitly
        # (SparkManager.scala). The 1 GB local default OOMs the strict
        # oracle harness's full-result collect on the multi-million-row
        # pair queries at sf0.1; production result sets go through
        # sinks, never collect, so this only serves local verification.
        # Ignored (with a Spark warning) if the JVM already exists.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Split small files finer than the 4 MB default pretends they
        # cost: at 100 TB the bytes/parallelism term dominates the split
        # formula so this is scale-neutral, while multi-file local dirs
        # parallelize better (~5% on the scan-bound queries). NOTE: the
        # sf* fixtures are single-row-group parquet, so a single file's
        # scan stays 1 task no matter the split size — that ceiling is a
        # fixture artifact, not a plan property.
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    )
    if enable_fair_scheduler:
        # Reference runs streaming + on-demand batch jobs in one session
        # under FAIR scheduling (SparkManager.scala:21-26, fairscheduler.xml).
        pool_file = os.path.join(os.path.dirname(__file__), "fairscheduler.xml")
        if os.path.exists(pool_file):
            builder = (
                builder.config("spark.scheduler.mode", "FAIR")
                .config("spark.scheduler.allocation.file", pool_file)
            )
    if is_local_master(master):
        # List partition dirs on the driver. Above the threshold (32 paths
        # by default) Spark lists them in a Spark job, one task per dir;
        # on a local master those tasks run on the same JVM's threads, so
        # the job adds no parallelism, only a stage that queues in the
        # FAIR pools behind the stream. Cluster masters keep the
        # distributed listing that object stores with many dirs need.
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        ).config(
            # Commit checkpoint files through the FileSystem API (see the
            # module docstring): the FileContext default shells out to
            # ``readlink`` on every rename on a local filesystem.
            "spark.sql.streaming.checkpointFileManagerClass",
            FS_CHECKPOINT_FILE_MANAGER,
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def ensure_query_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf needed for deterministic query results.

    Called at the top of every registered query so results are stable even
    when the harness hands us a session we did not build (the driver does).
    UTC matters because ``hour()``/``to_date()`` are session-timezone
    dependent while the DuckDB oracle is timezone-naive.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
