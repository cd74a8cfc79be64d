"""Server bootstrap: config → SparkSession → runner → app → serve.

Parity target: ``Main.scala:16-85`` — load config, init the session,
create the registry, wire routes, bind HTTP, register a shutdown hook;
and the graceful-stop ordering ``Main.scala:74-80`` /
``ControlRoutes.scala:50-76``: stop streaming queries → drain the batch
pool → stop Spark → exit. ``/stop`` gets the same sequence via
``create_app(on_stop=...)``; a SIGTERM/atexit hook covers the
non-HTTP path like the reference's ``sys.addShutdownHook``.
"""

from __future__ import annotations

import atexit
import signal
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .. import config as config_mod
from ..config import AppConfig
from ..queries.registry import release_session_artifacts
from ..session import build_spark
from ..sources.kafka import transaction_stream
from ..streaming.transactions import StreamManager
from .api import create_app
from .batch_job import STOP_GRACE_S, BatchJobRunner, stop_batches
from .registry import BatchRegistry


@dataclass
class Runtime:
    """Everything ``serve`` wires together, exposed for tests/embedding."""

    config: AppConfig
    spark: SparkSession
    registry: BatchRegistry
    runner: BatchJobRunner
    stream_manager: StreamManager
    pool: ThreadPoolExecutor = None
    app: object = None
    #: ordered log of shutdown steps, for observability and tests
    shutdown_log: list[str] = field(default_factory=list)
    _stopped: bool = False
    _stop_lock: threading.Lock = field(default_factory=threading.Lock)

    def shutdown(self) -> list[str]:
        """Reference ordering (Main.scala:74-80): stop streaming queries
        → drain the batch pool (in-flight batches get ``STOP_GRACE_S``,
        then are cancelled; queued ones never start) → stop Spark.
        Idempotent — /stop, SIGTERM and atexit can all race into it;
        the lock makes the gate atomic (a bare check-then-set has a
        window where two paths both enter) AND makes a racing caller
        BLOCK until the winner finishes, so atexit can never let the
        process die mid-shutdown with the log half-written."""
        with self._stop_lock:
            if self._stopped:
                return self.shutdown_log
            self._stopped = True
            self.stream_manager.stop()
            self.shutdown_log.append("streams_stopped")
            stop_batches(self.runner, self.pool, STOP_GRACE_S)
            self.shutdown_log.append("pool_drained")
            # Release THIS application's session-lifetime artifacts
            # (shared dedup/ANN index builds) before stopping Spark, so
            # the shutdown path leaves no persisted blocks behind if
            # the JVM outlives us; scoped by applicationId so an
            # embedding host running a second Runtime in the same
            # process keeps its own caches.
            try:
                app_id = self.spark.sparkContext.applicationId
            except Exception:  # stubbed session in tests — release all
                app_id = None
            release_session_artifacts(app_id)
            self.shutdown_log.append("artifacts_released")
            self.spark.stop()
            self.shutdown_log.append("spark_stopped")
            return self.shutdown_log


def build_runtime(
    config: AppConfig | None = None,
    spark: SparkSession | None = None,
    source_factory=None,
) -> Runtime:
    """Wire session → registry → runner → stream manager → app.

    ``source_factory(topic) -> streaming DataFrame`` defaults to the
    Kafka decode chain from config; tests inject a file-replay source.
    """
    cfg = config or config_mod.load()
    spark = spark or build_spark(app_name=cfg.app_name, master=cfg.spark.master)
    registry = BatchRegistry()
    # Batches read the table the stream appends to (both default to parquet).
    runner = BatchJobRunner(
        spark, registry, base_dir=cfg.tables.batch_base_path,
        source_loader=lambda: spark.read.parquet(cfg.batch.source_path),
    )
    if source_factory is None:
        def source_factory(topic):  # pragma: no cover — needs Kafka jars
            return transaction_stream(
                spark,
                cfg.kafka.bootstrap_servers,
                topic or cfg.kafka.stream_topic,
            )

    stream_manager = StreamManager(
        spark,
        source_factory=source_factory,
        base_dir=cfg.tables.base_path,
    )
    pool = ThreadPoolExecutor(
        max_workers=cfg.batch.thread_pool_size, thread_name_prefix="batch-pool"
    )
    runtime = Runtime(
        config=cfg,
        spark=spark,
        registry=registry,
        runner=runner,
        stream_manager=stream_manager,
        pool=pool,
    )
    runtime.app = create_app(
        runner, stream_manager, on_stop=runtime.shutdown, pool=pool,
        batch_config=cfg.batch,
    )
    return runtime


def install_shutdown_hook(runtime: Runtime) -> None:
    """``sys.addShutdownHook`` analog (Main.scala:74-80): SIGTERM/SIGINT
    and interpreter exit all run the ordered shutdown once."""
    def _handler(_signum, _frame):  # pragma: no cover — signal path
        runtime.shutdown()
        raise SystemExit(0)

    for sig in (signal.SIGTERM, signal.SIGINT):
        try:
            signal.signal(sig, _handler)
        except ValueError:  # non-main thread (embedded/test use)
            pass
    atexit.register(runtime.shutdown)


def serve(config: AppConfig | None = None) -> None:  # pragma: no cover
    """Entry point: build everything, install hooks, block on HTTP."""
    runtime = build_runtime(config)
    install_shutdown_hook(runtime)
    cfg = runtime.config
    runtime.app.run(host=cfg.http.host, port=cfg.http.port, threaded=True)
