"""REST façade — the reference's 9-endpoint service surface.

Parity target (SURVEY.md §2.9): ``routes/{Stream,Batch,Control}Routes.
scala`` — same endpoints, status machine, error model and codes:
INVALID_REQUEST(400) / BATCH_NOT_FOUND(404) / BATCH_NOT_READY(409) /
STREAM_ALREADY_RUNNING(409) / INTERNAL_ERROR(500) /
SERVICE_UNAVAILABLE(503) (README.md:819-837).

Flask app factory + a ThreadPoolExecutor(8) mirror the reference's
Pekko routes + FixedThreadPool(8) (BatchRoutes.scala:29-32): submits
return 202 immediately, the job runs on a pool thread whose
``setLocalProperty`` scopes it to the FAIR batch pool.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql.types import StructType

from ..config import BatchConfig
from ..operators.analytics import ANALYSES, VALID_ANALYSIS_TYPES
from .batch_job import (
    STOP_GRACE_S,
    BatchJobRunner,
    clear_job_group,
    new_batch_id,
    stop_batches,
)
from .registry import BatchRegistry, BatchStatus

try:
    from flask import Flask, jsonify, request
except ImportError:  # pragma: no cover — flask is available in CI image
    Flask = None


def _error(code: str, message: str, http: int):
    return jsonify({"error": code, "message": message}), http


def create_app(
    runner: BatchJobRunner,
    stream_manager=None,
    on_stop=None,
    stop_grace_seconds: float = STOP_GRACE_S,
    pool: ThreadPoolExecutor | None = None,
    batch_config: BatchConfig = BatchConfig(),
) -> "Flask":
    """Build the service app around a BatchJobRunner and an optional
    streaming manager (an object with start(topic)/stop()/status()).

    ``on_stop`` runs LAST in the /stop sequence (after streams and the
    batch pool) — the bootstrap passes the spark-stop/exit step here,
    mirroring ``ControlRoutes.scala:50-76`` → ``Main.scala:43-51``.
    ``stop_grace_seconds`` is the reference's response-flush pause before
    the drain begins (tests pass 0); batches still running after it are
    cancelled. A caller-owned ``pool`` lets the
    bootstrap drain it from the signal/atexit path too; without one, the
    app makes one of ``batch_config.thread_pool_size`` threads.
    ``batch_config`` also sets the default and the maximum page size.
    """
    if Flask is None:
        raise RuntimeError("flask is not installed")
    app = Flask("streamandbatchprocessing-spark")
    registry: BatchRegistry = runner.registry
    pool = pool or ThreadPoolExecutor(
        max_workers=batch_config.thread_pool_size,
        thread_name_prefix="batch-pool",
    )
    started_at = time.time()

    # -- batch lifecycle (BatchRoutes.scala:34-299) ----------------------
    @app.post("/batch/run")
    def batch_run():
        body = request.get_json(silent=True) or {}
        analysis = body.get("analysisType")
        start, end = body.get("startDate"), body.get("endDate")
        filters = body.get("filters") or {}
        if not analysis or analysis not in VALID_ANALYSIS_TYPES:
            return _error("INVALID_REQUEST", f"invalid analysisType {analysis!r}", 400)
        if not start or not end:
            return _error("INVALID_REQUEST", "startDate and endDate required", 400)
        if not isinstance(filters, dict):
            return _error("INVALID_REQUEST", "filters must be an object", 400)
        batch_id = new_batch_id()
        from .registry import BatchJobRecord

        registry.register(
            BatchJobRecord(
                batch_id=batch_id, analysis_type=analysis,
                start_date=start, end_date=end, filters=filters,
            )
        )
        try:
            pool.submit(runner.run, batch_id, start, end, analysis, filters)
        except RuntimeError:
            # Pool already shut down (/stop raced this submit). Surface
            # the error model's 503 instead of Flask's generic 500, and
            # fail the just-registered record so it can't sit PENDING
            # forever with no thread ever running it.
            registry.update(
                batch_id, status=BatchStatus.FAILED,
                completed_at=time.time(),
                error="service shutting down; batch pool closed",
            )
            return _error("SERVICE_UNAVAILABLE", "service shutting down", 503)
        return jsonify({"batchId": batch_id, "status": "PENDING"}), 202

    @app.get("/batch/status/<batch_id>")
    def batch_status(batch_id: str):
        record = registry.get(batch_id)
        if record is None:
            return _error("BATCH_NOT_FOUND", batch_id, 404)
        return jsonify(record.to_dict())

    def _data_endpoint(batch_id: str, which: str):
        record = registry.get(batch_id)
        if record is None:
            return _error("BATCH_NOT_FOUND", batch_id, 404)
        if record.status is not BatchStatus.COMPLETED:
            return _error(
                "BATCH_NOT_READY", f"status={record.status.value}", 409
            )
        path, name, total = record.raw_path, "raw", record.row_count
        if which == "agg":
            path = record.agg_path
            name = record.analysis_type
            if name == "full_report":
                # One subdir per analysis; a page is of one of them.
                name = request.args.get("analysis")
                if name not in ANALYSES:
                    return _error(
                        "INVALID_REQUEST",
                        f"full_report needs ?analysis=<name>; valid: {list(ANALYSES)}",
                        400,
                    )
                path = os.path.join(path, name)
            total = (record.agg_row_count or {}).get(name)
        # Records persisted before schemas were recorded read with inference.
        schema = (record.schemas or {}).get(name)
        offset = request.args.get("offset", 0, type=int)
        limit = min(
            request.args.get("limit", batch_config.default_page_size, type=int),
            batch_config.max_page_size,
        )
        if offset < 0 or limit < 0:
            # Spark's in-plan offset/limit reject negatives with an
            # AnalysisException — map to the error model's 400 instead
            # of a generic 500.
            return _error(
                "INVALID_REQUEST", "offset and limit must be >= 0", 400
            )
        sc = runner.spark.sparkContext
        sc.setJobGroup(batch_id, f"page {which}")
        try:
            rows, total = runner.page(
                path, offset=offset, limit=limit, total=total,
                schema=schema and StructType.fromJson(schema),
            )
        finally:
            clear_job_group(sc)
        return jsonify(
            {
                "batchId": batch_id,
                "total": total,
                "limit": limit,
                "offset": offset,
                "returned": len(rows),
                "hasMore": offset + len(rows) < total,
                "rows": rows,
            }
        )

    @app.get("/batch/data/<batch_id>")
    def batch_data(batch_id: str):
        return _data_endpoint(batch_id, "raw")

    @app.get("/batch/data/<batch_id>/aggregated")
    def batch_data_aggregated(batch_id: str):
        return _data_endpoint(batch_id, "agg")

    @app.get("/batch/list")
    def batch_list():
        status = request.args.get("status")
        # Clamp: a negative limit would silently slice from the END of
        # the listing (records[:-n]) — never what a caller meant.
        limit = max(request.args.get("limit", 50, type=int), 0)
        if status:
            try:
                parsed = BatchStatus(status)
            except ValueError:
                return _error(
                    "INVALID_REQUEST",
                    f"unknown status {status!r}; valid: "
                    f"{[s.value for s in BatchStatus]}",
                    400,
                )
            records = registry.list_by_status(parsed)
        else:
            records = registry.list_all()
        return jsonify({"batches": [r.to_dict() for r in records[:limit]]})

    # -- streaming lifecycle (StreamRoutes.scala:23-125) -----------------
    @app.post("/stream/start")
    def stream_start():
        if stream_manager is None:
            return _error("SERVICE_UNAVAILABLE", "streaming not configured", 503)
        if stream_manager.is_active():
            return _error("STREAM_ALREADY_RUNNING", "stop it first", 409)
        body = request.get_json(silent=True) or {}
        try:
            query_ids = stream_manager.start(body.get("topic"))
        except RuntimeError:
            # Lost the start race to a concurrent request (the manager
            # re-checks under its lock) — same 409 as the fast path.
            return _error("STREAM_ALREADY_RUNNING", "stop it first", 409)
        return jsonify({"status": "STARTED", "queryIds": query_ids})

    @app.post("/stream/stop")
    def stream_stop():
        if stream_manager is None:
            return _error("SERVICE_UNAVAILABLE", "streaming not configured", 503)
        stream_manager.stop()
        return jsonify({"status": "STOPPED"})

    @app.get("/stream/status")
    def stream_status():
        if stream_manager is None:
            return _error("SERVICE_UNAVAILABLE", "streaming not configured", 503)
        return jsonify(stream_manager.status())

    # -- control (ControlRoutes.scala:20-77) -----------------------------
    @app.get("/health")
    def health():
        stopped = runner.spark.sparkContext._jsc is None  # noqa: SLF001
        if stopped:
            return _error("SERVICE_UNAVAILABLE", "spark stopped", 503)
        return jsonify(
            {"status": "healthy", "uptimeSeconds": round(time.time() - started_at, 1)}
        )

    @app.post("/stop")
    def stop():
        # Reference sequence (ControlRoutes.scala:50-76): stop streaming
        # queries synchronously (their count goes in the response), then
        # hand the rest to a shutdown thread so the HTTP response can
        # flush: grace pause, in which running batches may finish → stop
        # the batches (queued ones never start, running ones have their
        # Spark jobs cancelled) → on_stop (spark.stop / exit).
        queries_stopped = 0
        if stream_manager is not None:
            # Reference counts only queries that were ACTIVE at stop
            # time (StreamRoutes.scala: stopAllQueries increments per
            # q.isActive) — stop() returns that count directly, so the
            # response can't drift from what was actually stopped.
            queries_stopped = stream_manager.stop()

        def _drain_and_stop():
            if stop_grace_seconds:
                time.sleep(stop_grace_seconds)
            stop_batches(runner, pool)
            if on_stop is not None:
                on_stop()

        import threading

        threading.Thread(
            target=_drain_and_stop, name="shutdown-thread", daemon=True
        ).start()
        return jsonify(
            {"status": "SHUTTING_DOWN", "queriesStopped": queries_stopped}
        )

    return app
