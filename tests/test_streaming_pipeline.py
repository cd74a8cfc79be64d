"""Streaming pipeline tests (SURVEY.md §5 layer 3): the reference's
two-query pipeline replayed deterministically from files with an
availableNow trigger — raw append sink partitioned by event_date +
complete-mode dashboard — and the StreamManager lifecycle."""

from __future__ import annotations

import os
import time
from collections import Counter
from functools import partial

import pytest

from streamandbatchprocessing_spark.queries.dedup import cms_grid
from streamandbatchprocessing_spark.streaming import pipeline
from streamandbatchprocessing_spark.streaming.transactions import (
    StreamManager,
    start_transaction_pipeline,
)

from .factories import transactions_df


@pytest.fixture(scope="module")
def tx_source_dir(spark, tmp_path_factory):
    """Transactions parquet directory used as the replayable stream."""
    path = str(tmp_path_factory.mktemp("tx-stream-src"))
    transactions_df(spark, 800).drop("event_date", "processing_timestamp").write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _file_stream(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def test_pipeline_end_to_end(spark, tx_source_dir, tmp_path):
    base = str(tmp_path / "pipeline")
    queries = start_transaction_pipeline(
        spark,
        _file_stream(spark, tx_source_dir),
        base,
        trigger_available_now=True,
    )
    for q in queries:
        q.awaitTermination()

    raw = spark.read.parquet(os.path.join(base, "stream", "transactions"))
    assert raw.count() == 800
    # event_date materialized as a partition column
    assert "event_date" in raw.columns
    parts = [
        d for d in os.listdir(os.path.join(base, "stream", "transactions"))
        if d.startswith("event_date=")
    ]
    assert len(parts) > 1

    dash = spark.table("stream_aggregations")
    assert dash.count() > 0
    cols = set(dash.columns)
    assert {
        "window_start", "window_end", "category", "txn_count",
        "window_revenue", "fraud_alerts", "approx_unique_customers",
    } <= cols
    # sliding 5m/1m windows: every event lands in 5 windows
    total = dash.groupBy().sum("txn_count").collect()[0][0]
    filtered = raw.filter(
        raw.transaction_status.isin("completed", "pending")
    ).count()
    assert total == 5 * filtered


def test_stream_manager_lifecycle(spark, tx_source_dir, tmp_path):
    manager = StreamManager(
        spark,
        source_factory=lambda topic: _file_stream(spark, tx_source_dir),
        base_dir=str(tmp_path / "mgr"),
    )
    assert not manager.is_active()
    ids = manager.start(None)
    assert len(ids) == 2
    assert manager.is_active()
    status = manager.status()
    assert {q["name"] for q in status["queries"]} == {
        "raw_transactions",
        "stream_aggregations",
    }
    manager.stop()
    assert not manager.is_active()


def test_stream_manager_start_race_starts_exactly_one_pipeline(
    spark, tx_source_dir, tmp_path
):
    """Two concurrent starts must not both pass the route's is_active
    check and orphan the first pipeline's handles: the manager
    re-checks under its lock, so exactly one start wins and the loser
    raises (the API maps it to STREAM_ALREADY_RUNNING)."""
    import threading

    manager = StreamManager(
        spark,
        source_factory=lambda topic: _file_stream(spark, tx_source_dir),
        base_dir=str(tmp_path / "race"),
    )
    barrier = threading.Barrier(2)
    wins, losses = [], []

    def try_start():
        barrier.wait()
        try:
            wins.append(manager.start(None))
        except RuntimeError:
            losses.append(1)

    threads = [threading.Thread(target=try_start) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    try:
        assert len(wins) == 1 and len(losses) == 1
        assert len(manager.status()["queries"]) == 2
    finally:
        manager.stop()
    assert not manager.is_active()


def test_failed_second_query_start_stops_the_first(
    spark, tx_source_dir, tmp_path, monkeypatch
):
    """If the dashboard query fails to start, the already-started raw
    query must be stopped — a half-started pipeline would keep running
    with no tracked handle and block every future start on its
    queryName/checkpoint."""
    from streamandbatchprocessing_spark.streaming import transactions as tx

    def boom(_df):
        raise ValueError("dashboard plan failed")

    monkeypatch.setattr(tx, "realtime_dashboard", boom)
    with pytest.raises(ValueError, match="dashboard plan failed"):
        start_transaction_pipeline(
            spark,
            _file_stream(spark, tx_source_dir),
            str(tmp_path / "halfstart"),
        )
    active_names = {q.name for q in spark.streams.active}
    assert "raw_transactions" not in active_names


def test_stream_status_reports_last_progress(spark, tx_source_dir, tmp_path):
    """``/stream/status`` carries each query's last progress; after a
    drain the dashboard reports its one state partition, and the
    session's shuffle-partition value is back to what it was."""
    from streamandbatchprocessing_spark.service.api import create_app
    from streamandbatchprocessing_spark.service.batch_job import BatchJobRunner
    from streamandbatchprocessing_spark.service.registry import BatchRegistry

    base = str(tmp_path / "status")
    session_parts = spark.conf.get("spark.sql.shuffle.partitions")
    manager = StreamManager(
        spark,
        source_factory=lambda topic: _file_stream(spark, tx_source_dir),
        base_dir=base,
    )
    client = create_app(
        BatchJobRunner(spark, BatchRegistry(), base), stream_manager=manager
    ).test_client()
    assert client.post("/stream/start", json={}).status_code == 200
    try:
        assert spark.conf.get("spark.sql.shuffle.partitions") == session_parts
        deadline = time.time() + 60
        for q in spark.streams.active:
            q.processAllAvailable()
            # The progress of the last trigger lands just after its commit.
            while q.lastProgress is None and time.time() < deadline:
                time.sleep(0.05)
        queries = {q["name"]: q for q in client.get("/stream/status").get_json()["queries"]}
    finally:
        client.post("/stream/stop")
    raw, dash = queries["raw_transactions"], queries["stream_aggregations"]
    for q in (raw, dash):
        progress = q["lastProgress"]
        assert {"batchId", "numInputRows", "inputRowsPerSecond",
                "processedRowsPerSecond", "durationMs"} <= set(progress)
        assert progress["durationMs"]["triggerExecution"] >= 0
    assert "stateOperators" not in raw["lastProgress"]
    assert "watermark" in dash["lastProgress"]["eventTime"]
    [state] = dash["lastProgress"]["stateOperators"]
    assert state["numShufflePartitions"] == 1
    assert state["numRowsTotal"] > 0
    assert {"memoryUsedBytes", "commitTimeMs"} <= set(state)


def test_last_progress_is_null_before_the_first_progress():
    from streamandbatchprocessing_spark.streaming.transactions import last_progress

    class Fresh:
        lastProgress = None

    assert last_progress(Fresh()) is None


@pytest.mark.parametrize("first_partitions", [None, 8])
def test_pipeline_restarts_from_its_checkpoint(
    spark, tmp_path, monkeypatch, first_partitions
):
    """Drain half the source, stop, add the rest and restart on the same
    checkpoint: the raw sink holds every source row exactly once, and
    the dashboard counts each kept row in its 5 sliding windows. A
    checkpoint first started at 8 state partitions keeps 8 on restart
    (the count is pinned in its offset log)."""
    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.streaming import transactions as tx

    rows = transactions_df(spark, 800).drop("event_date", "processing_timestamp")
    src = str(tmp_path / "src")
    base = str(tmp_path / "pipe")
    cut = F.col("event_timestamp") < F.lit("2024-03-11").cast("timestamp")

    def drain():
        queries = start_transaction_pipeline(
            spark, spark.readStream.schema(rows.schema).parquet(src), base,
            trigger_available_now=True,
        )
        for q in queries:
            q.awaitTermination()
        return queries

    rows.filter(cut).write.parquet(src)
    if first_partitions is not None:
        monkeypatch.setattr(tx, "DASHBOARD_STATE_PARTITIONS", first_partitions)
    drain()
    monkeypatch.undo()
    rows.filter(~cut).write.mode("append").parquet(src)
    _, dash = drain()

    raw = spark.read.parquet(os.path.join(base, "stream", "transactions"))
    assert raw.count() == raw.select("transaction_id").distinct().count() == 800
    assert raw.select("transaction_id").exceptAll(rows.select("transaction_id")).count() == 0
    kept = raw.filter(raw.transaction_status.isin("completed", "pending")).count()
    total = spark.table("stream_aggregations").groupBy().sum("txn_count").first()[0]
    assert total == 5 * kept
    [state] = tx.last_progress(dash)["stateOperators"]
    assert state["numShufflePartitions"] == (first_partitions or 1)


def test_dedup_within_watermark_bounds_state(spark, sf_dir):
    # Same key set as the unbounded dedup (single availableNow pass over
    # the fixture: nothing ages past the watermark, so results match the
    # batch distinct), but the plan must carry the watermark-evicting
    # dedup operator, not the grow-forever one.
    from streamandbatchprocessing_spark.streaming.pipeline import (
        events_stream,
        run_to_memory,
        streaming_dedup_within_watermark_plan,
    )

    stream = events_stream(spark, sf_dir).select("user_id", "event_type", "ts")
    plan = streaming_dedup_within_watermark_plan(stream)
    logical = plan._jdf.queryExecution().logical().toString()
    assert "DeduplicateWithinWatermark" in logical, logical
    got = run_to_memory(plan, output_mode="append", name_prefix="ddww")
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_type")
        .distinct()
    )
    assert got.select("user_id", "event_type").distinct().count() == batch.count()


def test_foreach_batch_upsert_idempotent(spark, sf_dir, tmp_path):
    from streamandbatchprocessing_spark.streaming.pipeline import events_stream
    from streamandbatchprocessing_spark.streaming.transactions import (
        VersionedUpsertSink,
        foreach_batch_upsert,
    )
    from pyspark.sql import functions as F

    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = VersionedUpsertSink(["event_type"])
    q = foreach_batch_upsert(
        agg, sink, str(tmp_path / "ckpt"), trigger_available_now=True
    )
    q.awaitTermination()

    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type").count().collect()
    )
    expected = {r.event_type: r["count"] for r in batch}
    got = {k[0]: v["n"] for k, v in sink.rows.items()}
    assert got == expected

    # replaying an already-applied epoch must not change the sink
    before = dict(sink.rows)
    for epoch in list(sink.applied_epochs):
        sink.upsert(spark.createDataFrame([("zzz", 999)], "event_type string, n long"), epoch)
    assert sink.rows == before


def test_processing_time_timeout_evicts_idle_keys(spark, tmp_path):
    """f06's eviction contract: keys silent past their ProcessingTime
    deadline get one final ``finalized=true`` row carrying the full
    accumulated state, and the state itself is REMOVED — proven by the
    key restarting from zero when it reappears.

    Notes on the engine's semantics (learned the hard way): with
    processing-time timeouts armed the engine considers another batch
    always runnable, so (a) empty micro-batches DO run and fire
    timeouts without needing keepalive data, and (b)
    ``processAllAvailable()`` never returns — poll the sink instead."""
    import time

    import pandas as pd
    from pyspark.sql.functions import col

    from streamandbatchprocessing_spark.streaming.pipeline import (
        EVENTS_FILE_SCHEMA,
        stateful_totals_with_eviction_plan,
    )

    src = tmp_path / "src"
    src.mkdir()

    def write_events(name, rows):
        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        ).astype(
            {"event_id": "int64", "ts": "int64", "user_id": "int64",
             "value": "float64"}
        )
        pdf.to_parquet(src / name, index=False)

    def poll(predicate, timeout_s=45):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            rows = spark.table("evict_test").collect()
            if predicate(rows):
                return rows
            time.sleep(0.5)
        raise AssertionError(f"condition not reached; sink={rows}")

    write_events(
        "batch1.parquet",
        [
            (1, 10**18, 1, "click", 1.25, "{}"),
            (2, 10**18, 1, "view", 2.50, "{}"),
            (3, 10**18, 2, "view", 4.00, "{}"),
        ],
    )
    stream = spark.readStream.schema(EVENTS_FILE_SCHEMA).parquet(str(src))
    plan = stateful_totals_with_eviction_plan(stream, timeout_ms=2000)
    query = (
        plan.writeStream.format("memory")
        .queryName("evict_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # both keys evicted once idle past the deadline; the final rows
        # carry the fully accumulated state
        rows = poll(
            lambda rs: {r["user_id"] for r in rs if r["finalized"]} == {1, 2}
        )
        by_user = {
            r["user_id"]: r for r in rows if r["finalized"]
        }
        assert (
            by_user[1]["n_events"], by_user[1]["total_cents"], by_user[1]["n_types"]
        ) == (2, 375, 2)
        assert (
            by_user[2]["n_events"], by_user[2]["total_cents"], by_user[2]["n_types"]
        ) == (1, 400, 1)
        # state was REMOVED, not just flushed: the key restarts from zero
        write_events("batch2.parquet", [(4, 10**18, 1, "click", 1.00, "{}")])
        rows = poll(
            lambda rs: any(
                r["user_id"] == 1 and not r["finalized"] and r["n_events"] == 1
                and r["total_cents"] == 100
                for r in rs
            )
        )
        # and the restarted count is 1, not a resumed 3
        restarted = [
            r for r in rows
            if r["user_id"] == 1 and not r["finalized"] and r["total_cents"] == 100
        ]
        assert restarted and all(r["n_events"] == 1 for r in restarted)
    finally:
        query.stop()


#: The join type each attribution query passes to
#: ``pipeline.purchase_click_join_plan``.
JOIN_TYPES = {"f05": "inner", "f08": "leftOuter", "f12": "fullOuter", "f14": "left_semi"}


def test_f_family_queries_run_on_streaming_plans(spark, sf_dir):
    """The f-family's claim is that each registered query drives the
    STREAMING engine (run_to_memory drain), not a batch re-expression.
    Pin the plan kind at the source: every plan builder in
    ``streaming/pipeline.py`` (each join type of the attribution join
    among them) and f13's ``cms_grid`` must produce a streaming
    DataFrame from events_stream."""
    builders = {
        name: fn for name, fn in vars(pipeline).items()
        if name.endswith("_plan") and callable(fn)
    }
    join = builders.pop("purchase_click_join_plan")
    plans = {
        **builders,
        **{f"join-{how}": partial(join, how=how) for how in JOIN_TYPES.values()},
        "cms_grid": cms_grid,
    }
    stream = pipeline.events_stream(spark, sf_dir)
    assert stream.isStreaming
    for name, plan in plans.items():
        assert plan(stream).isStreaming, name


def test_streaming_state_merges_across_micro_batches(spark, sf_dir, tmp_path):
    """The claim behind f03/f10 being 'real streaming': session-window
    state and GK quantile partials must MERGE correctly across
    micro-batches, not just within one. Split the fixture into 4 files,
    replay with maxFilesPerTrigger=1 (4 separate micro-batches), and
    the drained complete-mode results must equal the batch answers."""
    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.sources.batch import load_table
    from streamandbatchprocessing_spark.streaming.pipeline import (
        run_to_memory,
        session_windows_plan,
    )

    import glob as _glob
    import os as _os
    import time as _time

    ev = load_table(spark, sf_dir, "events")
    # Split by TIME QUARTILE and replay oldest-first (mtime order =
    # FileStreamSource order): within a batch rows are unordered, but
    # across batches time advances, so the watermark never drops a
    # later batch's rows — the realistic replay of an ordered log.
    # (A hash split would interleave times and the watermark would
    # correctly discard 'late' rows — that semantics is not under test.)
    bounds = ev.selectExpr(
        "percentile(unix_micros(CAST(ts AS TIMESTAMP)), array(0.25D, 0.5D, 0.75D)) AS q"
    ).first()["q"]
    src = str(tmp_path / "split")
    _os.makedirs(src)
    lo = None
    base = _time.time() - 100
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    for i, hi in enumerate([*bounds, None]):
        part = ev
        if lo is not None:
            part = part.filter(micros >= lo)
        if hi is not None:
            part = part.filter(micros < hi)
        pdir = str(tmp_path / f"p{i}")
        part.coalesce(1).write.parquet(pdir)
        pfile = _glob.glob(f"{pdir}/part-*.parquet")[0]
        dst = f"{src}/{i:02d}-events.parquet"
        _os.rename(pfile, dst)
        _os.utime(dst, (base + 10 * i, base + 10 * i))
        lo = hi
    schema = spark.read.parquet(src).schema
    # Watermarks require TIMESTAMP (session-UTC), not TIMESTAMP_NTZ.
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )

    # Session windows: open sessions must merge when later batches add
    # events inside an existing session's gap.
    got = run_to_memory(
        session_windows_plan(stream),
        output_mode="complete",
        name_prefix="mb_sessions",
    ).orderBy("user_id", "session_start")
    want = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]

    # GK quantiles: partials built per micro-batch must merge to the
    # same result as one batch pass (exact regime at test SF).
    pa_expr = F.expr("percentile_approx(value, array(0.5D, 0.95D), 10000)")
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    got_q = run_to_memory(
        stream2.groupBy("event_type").agg(
            pa_expr[0].alias("p50"), pa_expr[1].alias("p95")
        ),
        output_mode="complete",
        name_prefix="mb_quant",
    ).orderBy("event_type")
    want_q = (
        ev.groupBy("event_type")
        .agg(pa_expr[0].alias("p50"), pa_expr[1].alias("p95"))
        .orderBy("event_type")
    )
    assert [tuple(r) for r in got_q.collect()] == [
        tuple(r) for r in want_q.collect()
    ]


def test_checkpoint_recovery_after_midstream_crash(spark, sf_dir, tmp_path):
    """Exactly-once-through-restart: crash a streaming aggregation
    mid-drain (fault injected at micro-batch 2) and restart it from the
    SAME checkpoint. The restarted query must resume at the failed
    batch — not replay from zero — and the recovered state must produce
    the same answer as an uninterrupted batch aggregation. This is the
    property that makes a 1000-executor ingest restartable after any
    executor/driver loss with no data loss and no double counting."""
    import glob as _glob
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    # four single-file micro-batches, mtime-ordered
    src = str(tmp_path / "src")
    _os.makedirs(src)
    base = _time.time() - 100
    for i in range(4):
        pdir = str(tmp_path / f"part{i}")
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.parquet(pdir)
        pfile = _glob.glob(f"{pdir}/part-*.parquet")[0]
        dst = f"{src}/{i:02d}.parquet"
        _os.rename(pfile, dst)
        _os.utime(dst, (base + 10 * i, base + 10 * i))

    schema = spark.read.parquet(src).schema
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    seen: list[int] = []

    def make_sink(fail_at: int | None):
        def sink(batch_df, batch_id: int) -> None:
            if fail_at is not None and batch_id == fail_at:
                raise RuntimeError("injected crash")
            seen.append(batch_id)
            # overwrite = idempotent under foreachBatch's at-least-once
            batch_df.write.mode("overwrite").parquet(out)
        return sink

    def run(fail_at: int | None) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
            .alias("total_value"),
        )
        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(make_sink(fail_at))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .queryName(f"ckpt_recovery_{fail_at}")
            .start()
        )
        try:
            q.awaitTermination()
        except Exception:
            pass  # run 1 dies on the injected fault — expected
        finally:
            if q.isActive:
                q.stop()

    run(fail_at=2)
    committed_before_crash = list(seen)
    assert committed_before_crash == [0, 1], committed_before_crash
    run(fail_at=None)
    resumed = seen[len(committed_before_crash):]
    # the restart begins at the failed batch — earlier batches' state
    # came back from the checkpoint, they were NOT reprocessed
    assert resumed and min(resumed) >= 2, resumed

    got = sorted(
        (r["event_type"], r["n_events"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r["event_type"], r["n_events"], r["total_value"])
        for r in ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
            .alias("total_value"),
        ).collect()
    )
    assert got == want


def _events_in_time_ordered_files(spark, sf_dir, tmp_path, n_files=4):
    """The events fixture, plus a same-user click 2 minutes before two
    purchases in three (so the semi join has matches to emit), written
    as ``n_files`` single-file time slices with increasing mtimes: one
    micro-batch each under ``maxFilesPerTrigger=1``, in event-time
    order, so no row arrives behind the watermark."""
    import glob as _glob

    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 3 != 0)
    ).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        (F.col("ts") - F.expr("INTERVAL 2 MINUTES")).alias("ts"),
        "user_id",
        F.lit("click").alias("event_type"),
        "value",
        "props",
    )
    ev = ev.unionByName(clicks)
    lo, hi = ev.select(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    part = ((F.unix_micros("ts") - lo) * n_files / (hi - lo + 1)).cast("int")
    src = str(tmp_path / "src")
    os.makedirs(src)
    base = time.time() - 100
    for i in range(n_files):
        pdir = str(tmp_path / f"part{i}")
        ev.filter(part == i).coalesce(1).write.parquet(pdir)
        dst = f"{src}/{i:02d}.parquet"
        os.rename(_glob.glob(f"{pdir}/part-*.parquet")[0], dst)
        os.utime(dst, (base + 10 * i, base + 10 * i))
    return src


@pytest.mark.parametrize(
    "plan, output_mode",
    [
        *(
            pytest.param(
                partial(pipeline.purchase_click_join_plan, how=how), "append",
                id=f"join-{how}",
            )
            for how in JOIN_TYPES.values()
        ),
        pytest.param(pipeline.user_totals_plan, "update", id="user_totals_plan-update"),
        pytest.param(cms_grid, "complete", id="cms_grid-complete"),
        pytest.param(
            pipeline.latest_state_plan, "complete", id="latest_state_plan-complete"
        ),
    ],
)
def test_stateful_drain_restarts_after_midstream_crash(
    spark, sf_dir, tmp_path, plan, output_mode
):
    """Every stateful plan the availableNow harness can drive, through a
    crash and restart: the attribution join of f05, f08, f12 and f14,
    f04's applyInPandasWithState totals, f13's count-min grid and f15's
    latest state. (f06's processing-time timeout keeps an availableNow
    drain from ending; its eviction test covers it.) The sink of
    micro-batch 2 fails after the batch ran, so its state version is
    already on disk; the query restarts on the same checkpoint, resumes
    at batch 2 and commits that state version again over the file the
    crashed run left. Every micro-batch's output must equal an
    uninterrupted run's, and a complete-mode run's last batch must
    equal the plan applied to the whole input as a batch DataFrame —
    for the count-min grid that is the cell-for-cell proof that no
    increment was replayed (est >= true would still hold)."""
    import glob as _glob

    src = _events_in_time_ordered_files(spark, sf_dir, tmp_path)
    schema = spark.read.parquet(src).schema

    def drain(ck: str, fail_at: int | None = None) -> dict:
        out: dict = {}

        def sink(batch_df, batch_id: int) -> None:
            out[batch_id] = Counter(tuple(r) for r in batch_df.collect())
            if batch_id == fail_at:
                raise RuntimeError("injected crash")

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            plan(stream).writeStream.outputMode(output_mode)
            .foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        except Exception:
            pass  # the crashing run dies on the injected fault
        finally:
            if q.isActive:
                q.stop()
        return out

    want = drain(str(tmp_path / "ck_ref"))
    assert any(want.values()), want
    if output_mode == "complete":
        batch = plan(spark.read.parquet(src)).collect()
        assert want[max(want)] == Counter(tuple(r) for r in batch)

    ck = str(tmp_path / "ck")
    crashed = drain(ck, fail_at=2)
    assert sorted(crashed) == [0, 1, 2], sorted(crashed)
    assert _glob.glob(f"{ck}/state/**/3.delta", recursive=True)
    resumed = drain(ck)
    assert min(resumed) == 2, sorted(resumed)
    assert {**crashed, **resumed} == want
