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

Local masters also write every file through ``NioLocalFileSystem``
(``jvm/NioLocalFileSystem.java``). Without the Hadoop native library,
``RawLocalFileSystem.setPermission`` runs ``chmod`` as a process, and
every non-append create and mkdirs ends in it: checkpoint logs, state
store deltas, ``.crc`` files, parquet parts and their committer dirs
(330 spawns per f14 drain at sf0.01, 49 for a REST batch and its two
pages). The class is
Hadoop's checksummed ``LocalFileSystem`` over a ``RawLocalFileSystem``
whose ``setPermission`` sets the same 9 mode bits with one
``chmod(2)`` through ``java.nio``; other modes and filesystems without
POSIX attributes keep the stock call. File modes and ``.crc`` files are
unchanged. With ``hive-exec`` among Spark's jars, the stock ``file``
class is Hive's ``ProxyLocalFileSystem`` (registered last through
ServiceLoader), a ``FilterFileSystem`` over the same
``LocalFileSystem``, so nothing else changes either. The source is
compiled with ``javac`` against ``pyspark/jars`` on first use into a
class directory cached under ``$XDG_CACHE_HOME`` (or ``~/.cache``),
keyed by the source and the ``javac`` version. It is local-only: it
goes on the driver's classpath, and a cluster's executors would not
have it. Without ``javac``, when the compile fails, or when a JVM is
already running (its classpath is fixed; spark-submit and the pyspark
shell start one before Python), Spark's default class stays in place.

Every master keeps ``CODEGEN_CACHE_ENTRIES`` generated classes compiled
(``spark.sql.codegen.cache.maxEntries``, a static conf that executors
read from the same SparkConf). Spark's default LRU holds 100, and the
engine reuses more than that, cyclically, so the LRU missed on every
class. Measured with ``CodegenMetrics`` at sf0.01 on 4 cores:

  * one ``query_suite`` pass (the f14 drain, five corpus artifacts and
    seven registry queries) needs 177 distinct classes. With the
    default, every warm pass compiled 170-171 of them again (f14 36,
    b03 30, b08 19); with this cap a warm pass compiles none.
  * one ``stream_live`` run reuses about 220: 141 for the seven
    analyses' batches, 20 for their pages, about 20 for the two
    streaming queries and about 35 that first appeared beside the
    stream. With the default a warm REST batch compiled 15-31 classes;
    with this cap it compiles 2.
  * a cached class holds 21-31 KB of heap (its source and bytecode),
    so 1000 of them cost about 30 MB.

Some classes are used once, because Spark inlines a timestamp literal
into the generated code: ``current_timestamp()`` in a REST snapshot's
``processing_timestamp`` (2 classes per batch) and the batch timestamp
of each raw-sink micro-batch (2 per micro-batch). They pass through
the LRU. The unpaced live stream commits about four micro-batches a
second, so about 8 of them arrive per second, and a reused class that
is idle for (1000 - 220) / 8, about 100 s, is evicted; a REST client
cycling through the seven analyses comes back to each well within that.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

DEFAULT_APP_NAME = "streamandbatchprocessing-spark"

_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")

FS_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

NIO_LOCAL_FILESYSTEM = "streamandbatchprocessing_spark.jvm.NioLocalFileSystem"
_NIO_SOURCE = os.path.join(os.path.dirname(__file__), "jvm", "NioLocalFileSystem.java")
DRIVER_CLASSPATH = "spark.driver.extraClassPath"

CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
#: Generated classes the JVM keeps compiled; sized in the module docstring.
CODEGEN_CACHE_ENTRIES = 1000


def is_local_master(master: str) -> bool:
    """True for ``local`` and ``local[...]``: driver and executors share
    one JVM. ``local-cluster[...]`` runs separate executor JVMs, so it
    counts as a cluster."""
    return _LOCAL_MASTER.fullmatch(master) is not None


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def nio_filesystem_classes() -> str | None:
    """The directory of compiled ``NioLocalFileSystem`` classes, built once
    per source and ``javac`` version; None, with one log line, when it
    cannot be built."""
    javac = shutil.which("javac")
    try:
        if javac is None:
            raise OSError("javac not found on PATH")
        version = subprocess.run(
            [javac, "-version"], capture_output=True, text=True, check=True
        )
        with open(_NIO_SOURCE, "rb") as f:
            key = hashlib.sha256(
                f.read() + (version.stdout + version.stderr).encode()
            ).hexdigest()[:16]
        cache = os.path.join(
            os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
            "streamandbatchprocessing_spark",
        )
        classes = os.path.join(cache, f"nio-local-fs-{key}")
        if os.path.isdir(classes):
            return classes
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        api = glob.glob(os.path.join(jars, "hadoop-client-api-*.jar"))
        if not api:
            raise OSError(f"no hadoop-client-api jar in {jars}")
        os.makedirs(cache, exist_ok=True)
        staged = tempfile.mkdtemp(dir=cache)
        try:
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-cp", api[0],
                 "-d", staged, _NIO_SOURCE],
                capture_output=True, text=True, check=True,
            )
            try:
                os.replace(staged, classes)
            except OSError:
                if not os.path.isdir(classes):  # no concurrent build got there first
                    raise
        finally:
            shutil.rmtree(staged, ignore_errors=True)
        return classes
    except (OSError, subprocess.CalledProcessError) as exc:
        detail = (getattr(exc, "stderr", None) or str(exc)).strip().splitlines()
        log.warning("NioLocalFileSystem not built, keeping Spark's local "
                    "filesystem: %s", detail[-1] if detail else exc)
        return None


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
    extra = dict(extra_conf or {})
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
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
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
        # Only a new JVM can load the class; an existing one would fail
        # every file access on it. spark-submit and the pyspark shell
        # start the JVM first and hand its port over in the environment.
        jvm_running = (
            SparkContext._gateway is not None  # noqa: SLF001
            or "PYSPARK_GATEWAY_PORT" in os.environ
        )
        classes = None if jvm_running else nio_filesystem_classes()
        if classes is not None:
            own = extra.pop(DRIVER_CLASSPATH, None)
            builder = builder.config(
                "spark.hadoop.fs.file.impl", NIO_LOCAL_FILESYSTEM
            ).config(DRIVER_CLASSPATH, os.pathsep.join(filter(None, (own, classes))))
    for key, value in extra.items():
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
