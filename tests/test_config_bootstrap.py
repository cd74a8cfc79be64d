"""Typed config tree (AppConfig.scala parity) and bootstrap shutdown
ordering (Main.scala:74-80: streams → batch pool → Spark)."""

from __future__ import annotations

import json

import pytest

from streamandbatchprocessing_spark import config as config_mod


def test_defaults_mirror_reference_conf():
    cfg = config_mod.load(env={})
    assert cfg.http.port == 8080
    assert cfg.kafka.bootstrap_servers == "localhost:9092"
    assert cfg.kafka.stream_topic == "transactions-stream"
    assert cfg.batch.thread_pool_size == 8
    assert cfg.batch.default_page_size == 100
    assert cfg.batch.max_page_size == 10000
    # HOCON-substitution analogs
    assert cfg.tables.stream_transactions_path == "data/tables/stream/transactions"
    assert cfg.tables.batch_base_path == "data/tables/batches"
    assert cfg.batch.source_path == cfg.tables.stream_transactions_path


def test_file_overrides_and_derivation(tmp_path):
    p = tmp_path / "conf.json"
    p.write_text(json.dumps({
        "app_name": "custom",
        "http": {"port": 9999},
        "tables": {"base_path": "/mnt/lake"},
        "batch": {"thread_pool_size": 2},
    }))
    cfg = config_mod.load(path=str(p), env={})
    assert cfg.app_name == "custom"
    assert cfg.http.port == 9999
    assert cfg.tables.stream_transactions_path == "/mnt/lake/stream/transactions"
    assert cfg.batch.source_path == "/mnt/lake/stream/transactions"
    assert cfg.batch.thread_pool_size == 2


def test_env_override_kafka_bootstrap():
    # application.conf: bootstrap-servers = ${?KAFKA_BOOTSTRAP_SERVERS}
    cfg = config_mod.load(env={"KAFKA_BOOTSTRAP_SERVERS": "broker:9092"})
    assert cfg.kafka.bootstrap_servers == "broker:9092"


def test_unknown_keys_fail_loudly(tmp_path):
    p = tmp_path / "conf.json"
    p.write_text(json.dumps({"spark": {"mastre": "local[2]"}}))
    with pytest.raises(ValueError, match="unknown config keys"):
        config_mod.load(path=str(p), env={})


def test_explicit_paths_win_over_derivation(tmp_path):
    p = tmp_path / "conf.json"
    p.write_text(json.dumps({
        "tables": {"base_path": "/mnt/lake", "seed_path": "/elsewhere/seed"},
    }))
    cfg = config_mod.load(path=str(p), env={})
    assert cfg.tables.seed_path == "/elsewhere/seed"
    assert cfg.tables.batch_base_path == "/mnt/lake/batches"


# -- shutdown ordering ------------------------------------------------------

class _FakeStreams:
    def __init__(self, log):
        self.log = log
        self._active = True

    def is_active(self):
        return self._active

    def stop(self):
        self._active = False
        self.log.append("streams")

    def status(self):
        return {"active": self._active, "queries": []}


def test_runtime_shutdown_ordering(spark, tmp_path):
    from streamandbatchprocessing_spark.service.bootstrap import build_runtime

    cfg = config_mod.load(env={})
    rt = build_runtime(config=cfg, spark=spark, source_factory=lambda t: None)
    order = []
    rt.stream_manager = _FakeStreams(order)
    real_pool_shutdown = rt.pool.shutdown
    rt.pool.shutdown = lambda **kw: (
        order.append("pool"), real_pool_shutdown(**kw))[1]
    rt.spark = type("S", (), {"stop": lambda self: order.append("spark")})()
    log = rt.shutdown()
    assert order == ["streams", "pool", "spark"]
    assert log == ["streams_stopped", "pool_drained",
                   "artifacts_released", "spark_stopped"]
    # idempotent: a second call (atexit after SIGTERM) must not re-stop
    assert rt.shutdown() == log
    assert order == ["streams", "pool", "spark"]


def test_stop_endpoint_runs_sequence_then_on_stop(spark, tmp_path):
    import time as _time

    from streamandbatchprocessing_spark.service.api import create_app
    from streamandbatchprocessing_spark.service.batch_job import BatchJobRunner
    from streamandbatchprocessing_spark.service.registry import BatchRegistry

    order = []
    runner = BatchJobRunner(spark, BatchRegistry(), base_dir=str(tmp_path))
    streams = _FakeStreams(order)
    app = create_app(
        runner,
        streams,
        on_stop=lambda: order.append("on_stop"),
        stop_grace_seconds=0,
    )
    client = app.test_client()
    resp = client.post("/stop")
    assert resp.status_code == 200
    assert resp.get_json()["status"] == "SHUTTING_DOWN"
    deadline = _time.time() + 10
    while "on_stop" not in order and _time.time() < deadline:
        _time.sleep(0.05)
    assert order[0] == "streams"
    assert order[-1] == "on_stop"


def test_built_runtime_runs_a_batch_over_the_stream_table(spark, tmp_path):
    """``build_runtime`` wires the runner to ``batch.source_path`` (the
    table the stream appends to), so ``/batch/run`` through the served
    app completes without an injected loader."""
    import time as _time

    from streamandbatchprocessing_spark.service.bootstrap import build_runtime

    from .factories import transactions_df

    p = tmp_path / "conf.json"
    p.write_text(json.dumps({"tables": {"base_path": str(tmp_path / "lake")}}))
    cfg = config_mod.load(path=str(p), env={})
    transactions_df(spark, 800).write.partitionBy("event_date").parquet(
        cfg.batch.source_path
    )
    rt = build_runtime(config=cfg, spark=spark, source_factory=lambda t: None)
    try:
        client = rt.app.test_client()
        resp = client.post("/batch/run", json={
            "analysisType": "revenue_by_region",
            "startDate": "2024-01-01",
            "endDate": "2024-12-31",
        })
        assert resp.status_code == 202
        batch_id = resp.get_json()["batchId"]
        deadline = _time.time() + 120
        while _time.time() < deadline:
            record = client.get(f"/batch/status/{batch_id}").get_json()
            if record["status"] in ("COMPLETED", "FAILED"):
                break
            _time.sleep(0.2)
        assert record["status"] == "COMPLETED", record.get("error")
        assert record["row_count"] > 0
    finally:
        rt.pool.shutdown(wait=True)


def test_built_runtime_pages_by_the_batch_config(spark, tmp_path):
    """``build_runtime`` hands ``cfg.batch`` to the app, so a page never
    exceeds ``batch.max_page_size``."""
    from streamandbatchprocessing_spark.service.bootstrap import build_runtime
    from streamandbatchprocessing_spark.service.registry import (
        BatchJobRecord,
        BatchStatus,
    )

    p = tmp_path / "conf.json"
    p.write_text(json.dumps({
        "tables": {"base_path": str(tmp_path / "lake")},
        "batch": {"max_page_size": 5},
    }))
    cfg = config_mod.load(path=str(p), env={})
    raw = str(tmp_path / "raw")
    spark.range(20).write.parquet(raw)
    rt = build_runtime(config=cfg, spark=spark, source_factory=lambda t: None)
    try:
        rt.registry.register(BatchJobRecord(
            batch_id="batch-page-cap", analysis_type="revenue_by_region",
            start_date="2024-01-01", end_date="2024-12-31",
            status=BatchStatus.COMPLETED, raw_path=raw, row_count=20,
        ))
        page = rt.app.test_client().get(
            "/batch/data/batch-page-cap?limit=50"
        ).get_json()
        assert page["limit"] == 5
        assert page["returned"] == 5 and page["hasMore"] is True
    finally:
        rt.pool.shutdown(wait=True)
