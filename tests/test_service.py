"""Service-surface tests: the REST lifecycle (status machine
PENDING→RUNNING→COMPLETED/FAILED and the 400/404/409 error model,
README.md:819-837 parity) driven through the Flask app end-to-end over
a real Spark batch job on synthetic transactions."""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from streamandbatchprocessing_spark.service.api import create_app
from streamandbatchprocessing_spark.service.batch_job import (
    BatchJobRunner,
    clear_job_group,
    new_batch_id,
    stop_batches,
)
from streamandbatchprocessing_spark.service.registry import (
    BatchJobRecord,
    BatchRegistry,
    BatchStatus,
)

from .factories import transactions_df


@pytest.fixture(scope="module")
def runner(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("batches")
    source = transactions_df(spark, 1500)
    source.cache().count()
    registry = BatchRegistry()
    yield BatchJobRunner(
        spark, registry, str(base), source_loader=lambda: source
    )
    source.unpersist()


@pytest.fixture(scope="module")
def client(runner):
    app = create_app(runner)
    app.config.update(TESTING=True)
    return app.test_client()


def _wait_done(client, batch_id, timeout=120):
    deadline = time.time() + timeout
    while time.time() < deadline:
        record = client.get(f"/batch/status/{batch_id}").get_json()
        if record["status"] in ("COMPLETED", "FAILED"):
            return record
        time.sleep(0.5)
    raise TimeoutError(batch_id)


def test_batch_run_lifecycle(client):
    resp = client.post(
        "/batch/run",
        json={
            "analysisType": "revenue_by_category",
            "startDate": "2024-03-01",
            "endDate": "2024-03-31",
            "filters": {"region": "west"},
        },
    )
    assert resp.status_code == 202
    batch_id = resp.get_json()["batchId"]
    assert batch_id.startswith("batch-")

    record = _wait_done(client, batch_id)
    assert record["status"] == "COMPLETED", record.get("error")
    assert record["row_count"] > 0

    data = client.get(f"/batch/data/{batch_id}?limit=10").get_json()
    assert data["total"] == record["row_count"]
    assert len(data["rows"]) == 10
    assert data["hasMore"] is True
    assert all(r["region"] == "west" for r in data["rows"])
    assert all(r["batch_id"] == batch_id for r in data["rows"])

    agg = client.get(f"/batch/data/{batch_id}/aggregated").get_json()
    assert agg["total"] > 0
    assert "total_revenue" in agg["rows"][0]

    listing = client.get("/batch/list").get_json()
    assert any(b["batch_id"] == batch_id for b in listing["batches"])


def test_full_report_fanout(client, runner):
    resp = client.post(
        "/batch/run",
        json={
            "analysisType": "full_report",
            "startDate": "2024-03-01",
            "endDate": "2024-03-31",
        },
    )
    batch_id = resp.get_json()["batchId"]
    record = _wait_done(client, batch_id)
    assert record["status"] == "COMPLETED", record.get("error")
    import os

    subdirs = sorted(os.listdir(runner.agg_path(batch_id)))
    assert "revenue_by_category" in subdirs
    assert len(subdirs) == 8


def test_error_model(client):
    assert client.post("/batch/run", json={"analysisType": "nope"}).status_code == 400
    assert (
        client.post(
            "/batch/run", json={"analysisType": "fraud_analysis"}
        ).status_code
        == 400
    )
    assert client.get("/batch/status/batch-00000000-dead").status_code == 404
    assert client.get("/batch/data/batch-00000000-dead").status_code == 404
    assert client.get("/health").status_code == 200


def test_negative_paging_params_are_rejected_400(client, runner):
    """Spark's in-plan offset/limit raise AnalysisException on
    negatives — the endpoint must map that to the error model's 400,
    never a generic 500."""
    done = [
        r for r in runner.registry.list_all()
        if r.status.value == "COMPLETED" and r.agg_path
    ]
    assert done, "lifecycle test should have left a COMPLETED batch"
    batch_id = done[0].batch_id
    for qs in ("offset=-1", "limit=-5"):
        resp = client.get(f"/batch/data/{batch_id}?{qs}")
        assert resp.status_code == 400
        assert resp.get_json()["error"] == "INVALID_REQUEST"


def test_list_negative_limit_returns_empty_not_tail(client):
    """records[:-n] would silently return the END of the listing."""
    resp = client.get("/batch/list?limit=-3")
    assert resp.status_code == 200
    assert resp.get_json()["batches"] == []


def test_submit_after_pool_shutdown_is_503_and_fails_record(runner):
    """A /batch/run racing /stop's pool shutdown must surface the error
    model's 503 and fail the just-registered record — never leave it
    PENDING with no thread to run it."""
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)
    pool.shutdown(wait=True)
    app = create_app(runner, pool=pool)
    resp = app.test_client().post(
        "/batch/run",
        json={
            "analysisType": "revenue_by_category",
            "startDate": "2024-03-01",
            "endDate": "2024-03-31",
        },
    )
    assert resp.status_code == 503
    assert resp.get_json()["error"] == "SERVICE_UNAVAILABLE"
    failed = [
        r for r in runner.registry.list_all()
        if r.error == "service shutting down; batch pool closed"
    ]
    assert len(failed) == 1
    assert failed[0].status.value == "FAILED"


def test_not_ready_conflict(client, runner):
    batch_id = new_batch_id()
    runner.registry.register(
        BatchJobRecord(
            batch_id=batch_id,
            analysis_type="revenue_by_category",
            start_date="2024-03-01",
            end_date="2024-03-31",
        )
    )
    resp = client.get(f"/batch/data/{batch_id}")
    assert resp.status_code == 409
    assert resp.get_json()["error"] == "BATCH_NOT_READY"


def test_failed_job_records_error(client, runner):
    resp = client.post(
        "/batch/run",
        json={
            "analysisType": "revenue_by_category",
            "startDate": "2024-03-01",
            "endDate": "2024-03-31",
            "filters": {"no_such_column": "x"},
        },
    )
    batch_id = resp.get_json()["batchId"]
    record = _wait_done(client, batch_id)
    assert record["status"] == "FAILED"
    assert "no_such_column" in record["error"]


def test_registry_status_machine(runner):
    registry = runner.registry
    batch_id = new_batch_id()
    registry.register(
        BatchJobRecord(
            batch_id=batch_id, analysis_type="x", start_date="a", end_date="b"
        )
    )
    registry.update(batch_id, status=BatchStatus.RUNNING)
    assert registry.get(batch_id).status is BatchStatus.RUNNING
    assert any(r.batch_id == batch_id for r in registry.list_by_status(BatchStatus.RUNNING))
    with pytest.raises(ValueError, match="duplicate"):
        registry.register(
            BatchJobRecord(
                batch_id=batch_id, analysis_type="x", start_date="a", end_date="b"
            )
        )


def test_three_concurrent_batches_during_streaming(client, runner, spark, sf_dir):
    """The reference's concurrency success criterion (AGENTS.md:1698):
    3 simultaneous batch jobs all COMPLETE while a streaming query keeps
    processing — one SparkSession, FAIR-pool thread-local scoping."""
    from streamandbatchprocessing_spark.streaming.pipeline import (
        dashboard_plan,
        events_stream,
        run_to_memory,
    )

    ids = []
    for _ in range(3):
        resp = client.post(
            "/batch/run",
            json={
                "analysisType": "revenue_by_category",
                "startDate": "2024-01-01",
                "endDate": "2024-12-31",
            },
        )
        assert resp.status_code == 202
        ids.append(resp.get_json()["batchId"])

    # streaming work overlapping the in-flight batches
    stream_result = run_to_memory(
        dashboard_plan(events_stream(spark, sf_dir)), name_prefix="conc"
    )
    assert stream_result.count() > 0

    records = [_wait_done(client, batch_id) for batch_id in ids]
    assert all(r["status"] == "COMPLETED" for r in records), records
    assert all(r["row_count"] > 0 for r in records)


def test_list_status_filter_and_validation(client):
    ok = client.get("/batch/list?status=COMPLETED")
    assert ok.status_code == 200
    assert all(
        r["status"] == "COMPLETED" for r in ok.get_json()["batches"]
    )
    bad = client.get("/batch/list?status=BOGUS")
    assert bad.status_code == 400
    assert bad.get_json()["error"] == "INVALID_REQUEST"


def test_empty_window_completes_with_zero_rows_and_pages(client):
    """A window that matches no rows leaves a snapshot dir with no
    files; the known-schema read-back makes the batch COMPLETED with
    row_count 0, and both pages answer 200 with total 0."""
    resp = client.post(
        "/batch/run",
        json={
            "analysisType": "revenue_by_category",
            "startDate": "1999-01-01",
            "endDate": "1999-01-31",
        },
    )
    batch_id = resp.get_json()["batchId"]
    record = _wait_done(client, batch_id)
    assert record["status"] == "COMPLETED", record.get("error")
    assert record["row_count"] == 0
    for suffix in ("", "/aggregated"):
        page = client.get(f"/batch/data/{batch_id}{suffix}")
        assert page.status_code == 200, page.get_json()
        body = page.get_json()
        assert (body["total"], body["rows"], body["hasMore"]) == (0, [], False)


def test_full_report_aggregated_page_picks_one_analysis(client):
    from streamandbatchprocessing_spark.operators.analytics import ANALYSES

    resp = client.post(
        "/batch/run",
        json={
            "analysisType": "full_report",
            "startDate": "2024-03-01",
            "endDate": "2024-03-31",
        },
    )
    batch_id = resp.get_json()["batchId"]
    assert _wait_done(client, batch_id)["status"] == "COMPLETED"
    for qs in ("", "?analysis=nope"):
        bad = client.get(f"/batch/data/{batch_id}/aggregated{qs}")
        assert bad.status_code == 400
        body = bad.get_json()
        assert body["error"] == "INVALID_REQUEST"
        assert all(name in body["message"] for name in ANALYSES)
    page = client.get(
        f"/batch/data/{batch_id}/aggregated?analysis=revenue_by_region&limit=5"
    )
    assert page.status_code == 200, page.get_json()
    assert page.get_json()["total"] > 0
    assert "total_revenue" in page.get_json()["rows"][0]


def test_record_carries_phase_seconds(client):
    resp = client.post(
        "/batch/run",
        json={
            "analysisType": "fraud_analysis",
            "startDate": "2024-01-01",
            "endDate": "2024-06-30",
        },
    )
    record = _wait_done(client, resp.get_json()["batchId"])
    assert record["status"] == "COMPLETED", record.get("error")
    phases = record["phase_s"]
    assert set(phases) == {"source", "snapshot_write", "analysis_write"}
    assert all(v >= 0 for v in phases.values())
    assert sum(phases.values()) <= record["completed_at"] - record["started_at"]


@pytest.mark.parametrize(
    "window, filters",
    [
        (("2024-03-01", "2024-03-31"), {"region": "west"}),
        (("2024-01-01", "2024-12-31"), {}),
        (("1999-01-01", "1999-01-31"), {}),
    ],
)
def test_row_count_equals_independent_count(spark, tmp_path, window, filters):
    """row_count is observed on the snapshot write; it must equal a
    separate count over the source table, the empty window included."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "table")
    transactions_df(spark, 1200).write.partitionBy("event_date").parquet(table)
    registry = BatchRegistry()
    runner = BatchJobRunner(
        spark, registry, str(tmp_path / "base"),
        source_loader=lambda: spark.read.parquet(table),
    )
    batch_id = new_batch_id()
    registry.register(
        BatchJobRecord(
            batch_id=batch_id, analysis_type="revenue_by_category",
            start_date=window[0], end_date=window[1], filters=filters,
        )
    )
    runner.run(batch_id, *window, "revenue_by_category", filters)
    record = registry.get(batch_id)
    assert record.status is BatchStatus.COMPLETED, record.error
    expected = spark.read.parquet(table).filter(F.col("event_date").between(*window))
    for column, value in filters.items():
        expected = expected.filter(F.col(column) == value)
    assert record.row_count == expected.count()
    if record.row_count:
        assert spark.read.parquet(record.raw_path).count() == record.row_count


def _run_batch(spark, tmp_path, table, window, filters, analysis="revenue_by_category"):
    registry = BatchRegistry()
    runner = BatchJobRunner(
        spark, registry, str(tmp_path / "base"),
        source_loader=lambda: spark.read.parquet(table),
    )
    batch_id = new_batch_id()
    registry.register(
        BatchJobRecord(
            batch_id=batch_id, analysis_type=analysis,
            start_date=window[0], end_date=window[1], filters=filters,
        )
    )
    runner.run(batch_id, *window, analysis, filters)
    record = registry.get(batch_id)
    assert record.status is BatchStatus.COMPLETED, record.error
    return record


def test_snapshot_holds_one_file_per_category(spark, tmp_path):
    """A one-filter, 7-day window read from many small input splits is
    rebalanced by category before the write: one parquet file per
    ``category=`` dir, the same rows as the filtered source."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "table")
    transactions_df(spark, 6000).repartition(8).write.partitionBy("event_date").parquet(table)
    window, filters = ("2024-03-03", "2024-03-09"), {"payment_method": "credit_card"}
    record = _run_batch(spark, tmp_path, table, window, filters)
    dirs = [d for d in os.listdir(record.raw_path) if d.startswith("category=")]
    assert len(dirs) > 1
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(record.raw_path, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    expected = spark.read.parquet(table).filter(
        F.col("event_date").between(*window) & (F.col("payment_method") == "credit_card")
    ).drop("batch_id", "processing_timestamp")
    got = spark.read.parquet(record.raw_path).select(*expected.columns)
    assert record.row_count == expected.count() > 0
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_a_repeated_analysis_compiles_only_its_timestamp(spark, tmp_path):
    """A batch that repeats an analysis the session has run compiles
    only the 2 classes of its snapshot write, whose ``current_timestamp()``
    Spark inlines as a literal. A ``full_report`` alone needs more
    classes than Spark's default cache of 100 holds."""
    from .test_session import compiled_classes

    table = str(tmp_path / "table")
    transactions_df(spark, 1200).write.partitionBy("event_date").parquet(table)
    window = ("2024-01-01", "2024-12-31")
    _run_batch(spark, tmp_path, table, window, {}, "full_report")
    before = compiled_classes(spark)
    _run_batch(spark, tmp_path, table, window, {}, "full_report")
    assert compiled_classes(spark) - before <= 2


def test_batch_and_page_jobs_carry_the_batch_id(spark, runner):
    """The run and its pages run under ``setJobGroup(batch_id)``, and
    both threads are untagged again afterwards."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        client = create_app(runner, pool=pool).test_client()
        resp = client.post(
            "/batch/run",
            json={
                "analysisType": "revenue_by_region",
                "startDate": "2024-03-01",
                "endDate": "2024-03-31",
            },
        )
        batch_id = resp.get_json()["batchId"]
        assert _wait_done(client, batch_id)["status"] == "COMPLETED"
        run_jobs = set(tracker.getJobIdsForGroup(batch_id))
        assert run_jobs
        assert pool.submit(sc.getLocalProperty, "spark.jobGroup.id").result() is None
        page = client.get(f"/batch/data/{batch_id}/aggregated")
        assert page.status_code == 200
        assert set(tracker.getJobIdsForGroup(batch_id)) > run_jobs
        assert sc.getLocalProperty("spark.jobGroup.id") is None
    finally:
        pool.shutdown(wait=True)


def _jobs(spark, group):
    """Job ids of ``group`` once the listener bus has seen every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_pages_run_one_job_each(spark, runner):
    """Pages read with the schema and row count recorded at write time:
    no schema-inference job, no count job, just the page's own job. The
    record survives a restart through ``meta.json``."""
    from pyspark.sql.types import StructType

    from streamandbatchprocessing_spark.service.maintenance import rebuild_registry

    client = create_app(runner).test_client()
    ids = {}
    for analysis in ("revenue_by_category", "full_report"):
        resp = client.post(
            "/batch/run",
            json={"analysisType": analysis, "startDate": "2024-03-01",
                  "endDate": "2024-03-31"},
        )
        ids[analysis] = resp.get_json()["batchId"]
        assert _wait_done(client, ids[analysis])["status"] == "COMPLETED"
    pages = [
        (ids["revenue_by_category"], "", "raw"),
        (ids["revenue_by_category"], "/aggregated", "revenue_by_category"),
        (ids["full_report"], "/aggregated?analysis=revenue_by_region", "revenue_by_region"),
    ]
    restarted = BatchJobRunner(
        spark, rebuild_registry(runner.base_dir), runner.base_dir
    )
    for app_runner in (runner, restarted):
        app = create_app(app_runner).test_client()
        for batch_id, suffix, name in pages:
            record = app_runner.registry.get(batch_id)
            path = record.raw_path if name == "raw" else runner.agg_path(batch_id)
            if record.analysis_type == "full_report" and name != "raw":
                path = os.path.join(path, name)
            expected = spark.read.parquet(path)
            assert StructType.fromJson(record.schemas[name]).names == expected.columns
            before = _jobs(spark, batch_id)
            page = app.get(f"/batch/data/{batch_id}{suffix}")
            assert page.status_code == 200, page.get_json()
            assert len(_jobs(spark, batch_id) - before) == 1, (batch_id, suffix)
            body = page.get_json()
            assert body["total"] == expected.count() > 0
            assert len(body["rows"]) == min(body["total"], 100)
            assert set(body["rows"][0]) == set(expected.columns)


def _blocked_batches(spark, tmp_path, loader, n=2):
    """A runner whose one pool thread runs the first of ``n`` submitted
    batches (its source ``loader`` blocks) while the rest queue."""
    registry = BatchRegistry()
    runner = BatchJobRunner(spark, registry, str(tmp_path / "base"), source_loader=loader)
    pool = ThreadPoolExecutor(max_workers=1)
    ids = []
    for _ in range(n):
        batch_id = new_batch_id()
        registry.register(
            BatchJobRecord(
                batch_id=batch_id, analysis_type="revenue_by_category",
                start_date="2024-03-01", end_date="2024-03-31",
            )
        )
        pool.submit(runner.run, batch_id, "2024-03-01", "2024-03-31", "revenue_by_category")
        ids.append(batch_id)
    return runner, pool, ids


def test_stop_is_bounded_with_a_hung_batch(spark, tmp_path):
    """``/stop`` returns and finishes its shutdown within a bound although
    a batch's source never returns: the queued batch is dropped, the
    running one failed after the grace, both with a reason."""
    import threading

    started, release = threading.Event(), threading.Event()

    def hung_source():
        started.set()
        release.wait(120)
        raise RuntimeError("released after the test")

    runner, pool, (running, queued) = _blocked_batches(spark, tmp_path, hung_source)
    stopped = threading.Event()
    try:
        assert started.wait(30)
        client = create_app(
            runner, on_stop=stopped.set, stop_grace_seconds=0.2, pool=pool
        ).test_client()
        t0 = time.time()
        assert client.post("/stop").status_code == 200
        assert stopped.wait(10), "shutdown did not finish"
        assert time.time() - t0 < 10
        for batch_id, reason in ((running, "cancelled after"), (queued, "before the batch started")):
            record = runner.registry.get(batch_id)
            assert record.status is BatchStatus.FAILED
            assert reason in record.error
            assert os.path.exists(os.path.join(runner.base_dir, "batches", batch_id, "meta.json"))
    finally:
        release.set()
        pool.shutdown(wait=True)
    # The released thread's own failure does not overwrite the recorded reason.
    assert "cancelled after" in runner.registry.get(running).error


def test_runtime_shutdown_cancels_a_batch_stuck_in_a_spark_job(spark, tmp_path):
    """``Runtime.shutdown`` gives a running batch its grace, then cancels
    its job group: the shutdown returns in bounded time and the pool
    thread, stuck in a Spark task, ends too."""
    import threading
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.service.bootstrap import Runtime

    @F.udf("double")
    def slow(x):
        time.sleep(120)
        return x

    source = transactions_df(spark, 20).withColumn("total_amount", slow("total_amount"))
    runner, pool, (running,) = _blocked_batches(spark, tmp_path, lambda: source, n=1)
    deadline = time.time() + 60
    while not _jobs(spark, running) and time.time() < deadline:
        time.sleep(0.1)
    assert _jobs(spark, running), "the batch never started its Spark job"
    stub = SimpleNamespace(stop=lambda: None)
    runtime = Runtime(
        config=None,
        spark=SimpleNamespace(stop=lambda: None, sparkContext=SimpleNamespace(applicationId="none")),
        registry=runner.registry, runner=runner, stream_manager=stub, pool=pool,
    )
    t0 = time.time()
    assert runtime.shutdown()[-1] == "spark_stopped"
    assert time.time() - t0 < 10
    record = runner.registry.get(running)
    assert record.status is BatchStatus.FAILED and "cancelled after a 2 s grace" in record.error
    drained = threading.Thread(target=pool.shutdown)
    drained.start()
    drained.join(60)
    assert not drained.is_alive(), "the cancelled Spark job kept the pool thread"
    # The job fails while its Python tasks are still being killed; wait
    # for them, so no later Python task meets a worker torn down mid-read.
    tracker = spark.sparkContext.statusTracker()
    executors = spark.sparkContext._jsc.sc().statusTracker()  # noqa: SLF001

    def busy():
        return tracker.getActiveStageIds() or any(
            e.numRunningTasks() for e in executors.getExecutorInfos()
        )

    deadline = time.time() + 60
    while busy() and time.time() < deadline:
        time.sleep(0.1)
    assert not busy(), "the cancelled stage's tasks are still running"
    # A killed task's monitor threads destroy its Python workers a few
    # seconds later, also the one the task had already returned to the
    # idle pool; a later task that takes that worker before its process
    # is gone fails with ClosedChannelException. Stop the worker daemons:
    # the next Python task starts a fresh one.
    factories = spark._jvm.org.apache.spark.SparkEnv.get().pythonWorkers()  # noqa: SLF001
    workers = factories.values().iterator()
    while workers.hasNext():
        workers.next().stop()


def test_stopped_batch_starts_no_job_after_its_loader_returns(spark, tmp_path):
    """A batch stopped between Spark jobs (here in its source loader)
    starts none once the loader returns: its job group is cancelled with
    the jobs it would start later, so nothing is written for the FAILED
    record."""
    import glob
    import threading

    started, release = threading.Event(), threading.Event()
    source = transactions_df(spark, 20)

    def late_source():
        started.set()
        release.wait(120)
        return source

    runner, pool, (running,) = _blocked_batches(spark, tmp_path, late_source, n=1)
    try:
        assert started.wait(30)
        stop_batches(runner, pool)
    finally:
        release.set()
        pool.shutdown(wait=True)
    assert _jobs(spark, running) == set()
    # A job the thread might still submit in the group is rejected too.
    sc = spark.sparkContext
    sc.setJobGroup(running, "late")
    try:
        with pytest.raises(Exception, match="SPARK_JOB_CANCELLED"):
            spark.range(3).collect()
    finally:
        clear_job_group(sc)
    record = runner.registry.get(running)
    assert record.status is BatchStatus.FAILED and "cancelled after" in record.error
    batch_dir = os.path.join(runner.base_dir, "batches", running)
    assert not glob.glob(os.path.join(batch_dir, "**", "*.parquet"), recursive=True)
    assert not os.path.exists(runner.agg_path(running))
