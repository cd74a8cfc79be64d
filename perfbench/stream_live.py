"""``stream_live``: an open-loop file generator feeds the service's
two-query streaming pipeline (raw append sink partitioned by
``event_date`` + complete-mode dashboard) at a fixed rate. A *solo*
phase runs the stream alone; a *mixed* phase adds three closed-loop
REST clients, each looping submit → poll ``/batch/status`` → page
``/batch/data`` and ``/aggregated``, against a seeded
``event_date``-partitioned transactions table.

Everything goes through the service's public surface: ``create_app``
(Flask test client, no network), ``BatchJobRunner`` and
``StreamManager`` (started and stopped through ``/stream/*``).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import threading
import time

from . import common as C
from .gen import FileStreamGenerator, transactions_table, write_transactions

TABLE_ROWS = 300_000
TABLE_DAYS = 90
TABLE_END = "2025-01-01"
RATE_PER_S = 2000
TICK_S = 0.25
SOLO_SHARE = 0.3
CLIENTS = 3
#: A publish later than this after its due time means the generator,
#: not the system, set the pace: the run is invalid.
LATE_LIMIT_MS = 1000 * TICK_S

#: One client's request cycle: (analysisType, window days, filter
#: columns); client ``c`` starts at ``3 * c``, the seed picks the window
#: end and the filter values. Every request has the same shape (a 7-day
#: window, one equality filter, a single analysis), so a run's few
#: latency samples do not depend on which requests fit into it; a mix of
#: 7- and 30-day windows, 0-2 filters and ``full_report`` spread more
#: (CHANGES.md has the runs).
MIX = (
    ("revenue_by_category", 7, ("region",)),
    ("payment_analysis", 7, ("category",)),
    ("customer_segmentation", 7, ("channel",)),
    ("fraud_analysis", 7, ("customer_tier",)),
    ("hourly_trends", 7, ("region",)),
    ("channel_performance", 7, ("customer_tier",)),
    ("inventory_velocity", 7, ("category",)),
)
FILTER_VALUES = {
    "region": ("north", "south", "west"),
    "channel": ("mobile_app", "web", "pos_in_store"),
    "category": ("electronics", "grocery", "clothing"),
    "customer_tier": ("bronze", "silver", "gold"),
}
#: Analyses whose ``total_revenue`` sums to the completed rows' revenue.
REVENUE_CHECKED = ("revenue_by_category", "revenue_by_region", "channel_performance",
                   "payment_analysis", "inventory_velocity")


class Client(threading.Thread):
    """A closed-loop REST client: its next request waits for the last."""

    def __init__(self, app, idx: int, seed: int, deadline: float, log: list,
                 clock: C.StealClock) -> None:
        super().__init__(name=f"client-{idx}", daemon=True)
        self.http = app.test_client()
        self.clock = clock
        self.pos = 3 * idx
        self.rng = random.Random(seed * 100 + idx)
        self.deadline = deadline
        self.log = log
        self.error: BaseException | None = None

    def request(self) -> dict:
        analysis, days, columns = MIX[self.pos % len(MIX)]
        self.pos += 1
        end = dt.date.fromisoformat(TABLE_END) - dt.timedelta(days=1)
        start = end - dt.timedelta(days=self.rng.randrange(days, TABLE_DAYS))
        return {
            "analysisType": analysis,
            "startDate": start.isoformat(),
            "endDate": (start + dt.timedelta(days=days - 1)).isoformat(),
            "filters": {c: self.rng.choice(FILTER_VALUES[c]) for c in columns},
        }

    def run(self) -> None:
        try:
            while time.time() < self.deadline:
                self.log.append(self.cycle(self.request()))
        except BaseException as exc:  # noqa: BLE001 — reported by the caller
            self.error = exc

    def cycle(self, body: dict) -> dict:
        rec = {"body": body, "status_ms": [], "client": self.name}
        rec["start"] = t0 = time.time()
        resp = self.http.post("/batch/run", json=body)
        rec["submit_ms"] = (time.time() - t0) * 1000
        if resp.status_code != 202:
            raise RuntimeError(f"submit failed: {resp.status_code} {resp.get_json()}")
        batch_id = resp.get_json()["batchId"]
        while True:
            s0 = time.time()
            status = self.http.get(f"/batch/status/{batch_id}").get_json()
            rec["status_ms"].append((time.time() - s0) * 1000)
            if status["status"] in ("COMPLETED", "FAILED"):
                break
            time.sleep(0.02)
        rec["done"] = time.time()
        rec["latency_s"] = self.clock.net(t0, rec["done"])
        rec["record"] = status
        rec["page_ms"] = []
        if status["status"] == "COMPLETED":
            for suffix in ("", "/aggregated"):
                p0 = time.time()
                page = self.http.get(f"/batch/data/{batch_id}{suffix}?limit=100")
                rec["page_ms"].append((time.time() - p0) * 1000)
                if page.status_code != 200:
                    raise RuntimeError(f"page failed: {page.status_code}")
        rec["end"] = time.time()
        rec["cycle_s"] = self.clock.net(t0, rec["end"])
        return rec


def _latency_summary(pairs) -> dict:
    n = sum(c for _, c in pairs)
    out = {"n": n}
    if n:
        out["p50"] = C.weighted_quantile(pairs, 0.5)
        p = C.supported_percentile(n)
        if p:
            out[f"p{p:g}"] = C.weighted_quantile(pairs, p / 100)
    return out


def run(args, workdir: str) -> dict:
    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.schemas import TRANSACTION_SCHEMA
    from streamandbatchprocessing_spark.service.api import create_app
    from streamandbatchprocessing_spark.service.batch_job import BatchJobRunner
    from streamandbatchprocessing_spark.service.registry import BatchRegistry
    from streamandbatchprocessing_spark.streaming.transactions import StreamManager

    phases = C.Phases()
    clock = C.StealClock().start()
    t0 = time.time()
    spark = C.start_session(workdir, args.trace, fair=True)
    start_s = clock.net(t0, time.time())
    progress = C.ProgressLog()
    progress.attach(spark)
    gen = None
    try:
        # Inputs: the table a few times into fresh dirs (median is the
        # set-up figure), plus the stream's row pool.
        gen_times = []
        for i in range(3):
            table = os.path.join(workdir, f"table{i}")
            g0 = time.time()
            write_transactions(table, TABLE_ROWS, args.seed, TABLE_DAYS, TABLE_END)
            gen_times.append(clock.net(g0, time.time()))
        inputs_s = C.median(gen_times)
        pool = transactions_table(int(RATE_PER_S * (args.seconds + 30)), args.seed + 7919,
                                  1, TABLE_END).drop(["event_date"])
        phases.mark("start+inputs")

        load_ms: list[float] = []

        def source_loader():
            l0 = time.perf_counter()
            df = spark.read.parquet(table)
            load_ms.append((time.perf_counter() - l0) * 1000)
            return df

        src = os.path.join(workdir, "stream_in")
        os.makedirs(src)
        base = os.path.join(workdir, "service")
        runner = BatchJobRunner(spark, BatchRegistry(), base, source_loader=source_loader)
        manager = StreamManager(
            spark, lambda topic: spark.readStream.schema(TRANSACTION_SCHEMA).parquet(src), base)
        app = create_app(runner, stream_manager=manager, stop_grace_seconds=0)
        http = app.test_client()

        # Warmup: one REST cycle per client, all three at once, with the
        # analysis types the clients start with, so no timed batch meets
        # its plan cold; then the stream, until two micro-batches with
        # data have committed.
        w0 = time.time()
        warm: list[dict] = []
        warmers = [threading.Thread(target=lambda c=c: warm.append(c.cycle(c.request())))
                   for c in (Client(app, i, args.seed + 1, 0, [], clock) for i in range(CLIENTS))]
        for t in warmers:
            t.start()
        for t in warmers:
            t.join(timeout=170)
        if len(warm) != CLIENTS or any(r["record"]["status"] != "COMPLETED" for r in warm):
            raise RuntimeError(f"warmup batches failed: {[r['record'] for r in warm]}")
        phases.mark("warmup.batch")
        gen = FileStreamGenerator(src, pool, int(RATE_PER_S * TICK_S), TICK_S)
        gen.start()
        if http.post("/stream/start", json={}).status_code != 200:
            raise RuntimeError("stream did not start")
        while len(progress.batches(["raw_transactions"])) < 2:
            if time.time() - w0 > 120:
                raise RuntimeError("stream produced no micro-batch")
            time.sleep(0.05)
        warmup_s = clock.net(w0, time.time())
        phases.mark("warmup.stream")

        probe_before = C.cpu_probe(spark)
        load_before = C.loadavg()
        solo0 = time.time()
        mixed0 = solo0 + args.seconds * SOLO_SHARE
        end = solo0 + args.seconds
        time.sleep(max(0.0, mixed0 - time.time()))
        pids = C.process_tree()
        cpu0 = C.tree_cpu_s(pids)
        log: list[dict] = []
        clients = [Client(app, c, args.seed, end, log, clock) for c in range(CLIENTS)]
        for c in clients:
            c.start()
        time.sleep(max(0.0, end - time.time()))
        # The mixed phase lasts until every client has finished the cycle
        # it was in at the deadline; the stream keeps running beside it.
        for c in clients:
            c.join(timeout=170)
        mixed_end = time.time()
        cpu = C.tree_cpu_s(C.process_tree()) - cpu0
        gen.stop()
        peak = C.peak_rss_mb()
        load_after = C.loadavg()
        steal = clock.stolen_share(solo0, mixed_end)
        for c in clients:
            if c.is_alive() or c.error is not None:
                raise RuntimeError(f"{c.name} failed: {c.error!r}")
        phases.mark("timed")
        for q in spark.streams.active:
            q.processAllAvailable()
        if http.post("/stream/stop").status_code != 200:
            raise RuntimeError("stream did not stop")
        # Taken once the stream is stopped, so no micro-batch is mid-flight.
        live_mem = C.live_mem_mb(spark)
        probe_after = C.cpu_probe(spark)
        phases.mark("drain+stop")

        # ---- output checks (outside the timed region) -----------------
        failures = []
        raw = spark.read.parquet(os.path.join(base, "stream", "transactions"))
        committed = raw.count()
        if committed != gen.rows_published:
            failures.append(f"exactly-once: committed {committed} != generated {gen.rows_published}")
        txn = spark.table("stream_aggregations").agg(F.sum("txn_count")).first()[0] or 0
        kept = raw.filter(F.col("transaction_status").isin("completed", "pending")).count()
        if txn != 5 * kept:
            failures.append(f"dashboard: sum(txn_count) {txn} != 5 * {kept}")
        batch_checks, batch_failures = _check_batches(table, log)
        failures += batch_failures
        batches_failed = sum(r["record"]["status"] != "COMPLETED" for r in log)

        # ---- event latency: creation -> commit of its raw micro-batch --
        raw_progress = progress.batches(["raw_transactions"])
        commits = C.batch_commit_times(raw_progress)
        groups = [
            (r[0].timestamp(), r[1].timestamp(), r[2])
            for r in raw.groupBy("processing_timestamp", "event_timestamp").count().collect()
        ]
        lat = C.event_latencies(groups, commits, clock.net)
        lat_wall = C.event_latencies(groups, commits)
        phases.mark("checks")
        solo_lat = [(v, c) for (v, c), g in zip(lat, groups) if solo0 <= g[1] < mixed0]
        mixed_lat = [(v, c) for (v, c), g in zip(lat, groups) if mixed0 <= g[1] < mixed_end]
        mixed_lat_wall = [(v, c) for (v, c), g in zip(lat_wall, groups)
                          if mixed0 <= g[1] < mixed_end]

        done = [r for r in log if r["record"]["status"] == "COMPLETED"]
        if max(gen.late_ms) > LATE_LIMIT_MS:
            failures.append(f"load generator ran {max(gen.late_ms):.0f} ms late "
                            f"(limit {LATE_LIMIT_MS:.0f} ms): the run is invalid")
        metrics = {
            "setup_s": (start_s + inputs_s + warmup_s, "s"),
            "cycle_s": (C.median([r["cycle_s"] for r in done]), "s"),
            "batch_latency_p50_s": (C.median([r["latency_s"] for r in done]), "s"),
            "event_latency_p50_s": (C.weighted_quantile(mixed_lat, 0.5), "s"),
            "cpu_s": (clock.net_cpu(mixed0, mixed_end, cpu) / max(len(done), 1), "s"),
            "live_mem_mb": (live_mem, "MB"),
        }
        mixed_batches = progress.batches(None, since=mixed0, until=mixed_end)
        layers = {
            "session.start_s": start_s,
            "session.inputs_s": inputs_s,
            "session.warmup_s": warmup_s,
            "batch.ops": float(len(done)),
            **C.stream_layers(mixed_batches),
        }
        records = [r["record"] for r in done]
        # Single-workload layers: the REST API, the batch job,
        # the source loader, the two streaming queries per phase and the
        # load generator.
        named = {
            "api.submit_ms": C.median([r["submit_ms"] for r in log]),
            "api.status_ms": C.median([x for r in log for x in r["status_ms"]]),
            "api.page_ms": C.median([x for r in done for x in r["page_ms"]]),
            "batch_job.queue_wait_s": C.median(
                [r["started_at"] - r["submitted_at"] for r in records]),
            "batch_job.run_s": C.median([r["completed_at"] - r["started_at"] for r in records]),
            "sources.load_ms": C.median(load_ms),
            "loadgen.late_ms_max": max(gen.late_ms),
        }
        for phase, lo, hi in (("solo", solo0, mixed0), ("mixed", mixed0, mixed_end)):
            raw_l = C.stream_layers(progress.batches(["raw_transactions"], since=lo, until=hi))
            dash_l = C.stream_layers(progress.batches(["stream_aggregations"], since=lo, until=hi))
            named.update({
                f"stream.{phase}.raw.batch_ms": raw_l["stream.batch_ms"],
                f"stream.{phase}.raw.add_batch_ms": raw_l["stream.add_batch_ms"],
                f"stream.{phase}.dash.batch_ms": dash_l["stream.batch_ms"],
                f"stream.{phase}.dash.state_commit_ms": dash_l["stream.state_commit_ms"],
                f"stream.{phase}.dash.state_rows": dash_l["stream.state_rows"],
                f"stream.{phase}.batches": raw_l["stream.batches"] + dash_l["stream.batches"],
            })
        solo_sum, mixed_sum = _latency_summary(solo_lat), _latency_summary(mixed_lat)
        batch_sum = _latency_summary([(r["latency_s"], 1) for r in done])
        detail = {
            # End-to-end figures the result line does not carry (see
            # metrics.py).
            "extra_metrics": {
                "error_rate": None,  # filled in below, once failures are known
                "batch_latency_p75_s": batch_sum.get("p75"),
                "batches_per_min": _per_min(done, mixed0),
                "page_latency_p50_ms": named["api.page_ms"],
                "event_latency_p90_s": C.weighted_quantile(mixed_lat, 0.9),
                "solo_event_latency_p50_s": solo_sum.get("p50"),
                # Rows the raw sink committed per wall second of the mixed
                # phase; it equals the offered rate while the stream keeps up.
                "stream_rows_per_s": sum(
                    c for (v, c), g in zip(lat_wall, groups) if mixed0 <= g[1] + v < mixed_end
                ) / (mixed_end - mixed0),
                "offered_rows_per_s": RATE_PER_S,
            },
            "layers": named,
            "event_latency_s": {"solo": solo_sum, "mixed": mixed_sum},
            "batches": len(log), "batches_failed": batches_failed,
            "batch_latency_s": dict(batch_sum, all=sorted(round(r["latency_s"], 3) for r in done)),
            "batch_latency_by_type_s": _by_type(done),
            "loadgen": {"rows": gen.rows_published, "files": gen.files,
                        "late_ms_max": max(gen.late_ms), "late_ms_p50": C.median(gen.late_ms)},
            "peak_rss_mb": peak,
            "loadavg": [load_before, load_after],
            "steal_share": steal,
            # End-to-end figures in plain wall time, host contention included.
            "wall": {
                "cycle_s": C.median([r["end"] - r["start"] for r in done]),
                "batch_latency_p50_s": C.median([r["done"] - r["start"] for r in done]),
                "event_latency_p50_s": C.weighted_quantile(mixed_lat_wall, 0.5),
            },
            "probe_s": [round(probe_before, 3), round(probe_after, 3)],
            "timed_wall_s": round(mixed_end - solo0, 3),
            "check_failures": failures,
            "phase_s": phases.seconds,
            "setup_parts_s": {"start": start_s, "inputs": gen_times, "warmup": warmup_s},
        }
        if args.trace:
            analyses = _profile_analyses(spark, table)
            layers.update({f"batch.{k}_s": sum(v[k] for v in analyses.values())
                           for k in ("build", "plan", "exec")})
            named.update({f"analytics.{k}.exec_s": v["exec"] for k, v in analyses.items()})
            detail["analytics"] = analyses
        attempted = len(log) + 3 + batch_checks
        failed = batches_failed + len(failures)
        detail["extra_metrics"]["error_rate"] = failed / attempted
        res = {"correct": not failures and not batches_failed, "attempted": attempted,
               "failed": failed, "metrics": metrics, "layers": layers, "detail": detail}
    finally:
        if gen is not None:
            gen.stop()
        for q in spark.streams.active:
            q.stop()
        clock.stop()
        C.stop_session(spark)
    if args.trace:  # the event log is complete once the session stopped
        res["layers"].update(C.summarize_event_log(os.path.join(workdir, "eventlog"), solo0 * 1000))
    return res


def _per_min(done: list[dict], since: float) -> float:
    """Summed per-client completion rate: each client's batches over the
    time from the phase start to its last completion (not quantized by
    the phase's end cutting a batch)."""
    by_client: dict[str, list[float]] = {}
    for r in done:
        by_client.setdefault(r["client"], []).append(r["done"])
    return 60.0 * sum(len(ts) / (max(ts) - since) for ts in by_client.values())


def _by_type(done: list[dict]) -> dict:
    out: dict[str, list[float]] = {}
    for r in done:
        out.setdefault(r["body"]["analysisType"], []).append(r["latency_s"])
    return {k: round(C.median(v), 3) for k, v in out.items()}


def _check_batches(table: str, log: list[dict]) -> tuple[int, list[str]]:
    """Each completed batch's ``row_count`` and, where the analysis sums
    completed revenue, its aggregate's summed ``total_revenue``, against
    DuckDB over the generated parquet. Returns (checks run, failures)."""
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{table}/*/*.parquet', "
            "hive_partitioning = true)")
    checks, failures = 0, []
    for r in log:
        rec, body = r["record"], r["body"]
        if rec["status"] != "COMPLETED":
            continue
        where = [f"event_date BETWEEN DATE '{body['startDate']}' AND DATE '{body['endDate']}'"]
        where += [f"{c} = '{v}'" for c, v in body["filters"].items()]
        n, rev = con.sql(
            f"SELECT count(*), sum(CASE WHEN transaction_status = 'completed' "
            f"THEN total_amount END) FROM t WHERE {' AND '.join(where)}").fetchone()
        checks += 1
        if n != rec["row_count"]:
            failures.append(f"{rec['batch_id']}: row_count {rec['row_count']} != {n}")
        if body["analysisType"] not in REVENUE_CHECKED + ("full_report",):
            continue
        agg = rec["agg_path"]
        if body["analysisType"] == "full_report":
            agg = os.path.join(agg, "revenue_by_category")
        got = con.sql(f"SELECT sum(total_revenue) FROM "
                      f"read_parquet('{agg}/*.parquet')").fetchone()[0]
        checks += 1
        if abs((got or 0.0) - (rev or 0.0)) > 1e-6 * max(1.0, abs(rev or 0.0)):
            failures.append(f"{rec['batch_id']}: total_revenue {got} != {rev}")
    return checks, failures


def _profile_analyses(spark, table: str) -> dict:
    """Build / Catalyst / execute split of the eight analyses over one
    fixed 30-day snapshot."""
    from pyspark.sql import functions as F

    from streamandbatchprocessing_spark.operators.analytics import ANALYSES, run_analysis

    from .query_suite import _plan_s

    end = dt.date.fromisoformat(TABLE_END)
    snap = spark.read.parquet(table).filter(
        F.col("event_date").between(str(end - dt.timedelta(days=30)), str(end))).cache()
    snap.count()
    out = {}
    try:
        for name in ANALYSES:
            t0 = time.perf_counter()
            df = run_analysis(name, snap)[name]
            t1 = time.perf_counter()
            plan = _plan_s(df)
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            out[name] = {"build": t1 - t0, "plan": plan, "exec": time.perf_counter() - t2}
    finally:
        snap.unpersist()
    return out
