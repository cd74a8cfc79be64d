"""``query_suite``: one closed-loop client running suite passes, serially,
over a generated corpus.

A pass releases the session artifacts, runs the finite stateful
drain, builds the shared corpus artifacts, then runs the headline
registry queries — each through a noop write, so every result row is
materialized and none is collected. Read-only: it never touches
``service.*`` or ``streaming.transactions``.
"""

from __future__ import annotations

import os
import sys
import time

from . import common as C
from .gen import write_corpus

#: Shared corpus artifacts built at the start of every pass.
ARTIFACTS = ("sig", "pairs", "toksets", "shingles", "simhash_fp")

#: Registry batch queries of a pass: one per family of the headline set.
QUERIES = (
    "b01_pricing_summary",
    "b03_regional_supplier_volume",
    "b08_top_orders_per_customer",
    "a09_dashboard_windows",
    "c02_minhash_lsh_pairs",
    "d01_topk_bruteforce",
    "e01_token_stats",
)

#: Finite stateful drains; each runs to termination inside its call.
#: One stream-stream join: f12 alone would add more to a pass than the
#: seven queries together, and f01's windowed aggregation is the shape of
#: stream_live's dashboard query.
DRAINS = ("f14_stream_semi_join",)

CORPUS_SF = 0.01


def _artifact_builders():
    from streamandbatchprocessing_spark.queries import dedup

    return {
        "sig": dedup.shared_sig,
        "pairs": dedup.shared_pairs,
        "toksets": dedup.shared_toksets,
        "shingles": dedup.shared_shingles,
        "simhash_fp": dedup.shared_simhash_fp,
    }


def _materialize(value) -> None:
    from pyspark.sql import DataFrame

    for part in value if isinstance(value, tuple) else (value,):
        if isinstance(part, DataFrame):
            part.write.format("noop").mode("overwrite").save()


def _plan_s(value) -> float:
    """Catalyst phase time of a DataFrame's own planning tracker."""
    from pyspark.sql import DataFrame

    total = 0.0
    for part in value if isinstance(value, tuple) else (value,):
        if isinstance(part, DataFrame):
            qe = part._jdf.queryExecution()  # noqa: SLF001
            qe.executedPlan()
            phases = qe.tracker().phases()
            it = phases.valuesIterator()
            while it.hasNext():
                total += it.next().durationMs() / 1000.0
    return total


def _op(fn, trace: bool) -> dict:
    """Run one op; with ``trace``, split Python construction, Catalyst
    planning and execution."""
    t0 = time.perf_counter()
    value = fn()
    t1 = time.perf_counter()
    plan = _plan_s(value) if trace else 0.0
    t2 = time.perf_counter()
    _materialize(value)
    t3 = time.perf_counter()
    return {"s": t3 - t0, "build_s": t1 - t0, "plan_s": plan, "exec_s": t3 - t2}


def run(args, workdir: str) -> dict:
    from streamandbatchprocessing_spark.queries import ORACLES
    from streamandbatchprocessing_spark.queries import QUERIES as REGISTRY
    from streamandbatchprocessing_spark.queries.registry import release_session_artifacts

    phases = C.Phases()
    clock = C.StealClock().start()
    t0 = time.time()
    spark = C.start_session(workdir, args.trace, fair=False)
    start_s = clock.net(t0, time.time())
    progress = C.ProgressLog()
    progress.attach(spark)
    app_id = spark.sparkContext.applicationId
    builders = _artifact_builders()
    try:
        # Inputs: generated a few times into fresh dirs; the median is
        # the set-up figure, the last copy is the one queried.
        gen_times = []
        for i in range(3):
            corpus = os.path.join(workdir, f"corpus{i}")
            g0 = time.time()
            write_corpus(corpus, CORPUS_SF, args.seed)
            gen_times.append(clock.net(g0, time.time()))
        inputs_s = C.median(gen_times)
        phases.mark("start+inputs")

        def pass_ops(sf_dir):
            # Drains first: a pass cut short by the deadline then adds a
            # second drain sample, the op whose latency spreads most.
            ops = [("drain", d, lambda d=d: REGISTRY[d](spark, sf_dir)) for d in DRAINS]
            ops += [("artifact", a, lambda a=a: builders[a](spark, sf_dir)) for a in ARTIFACTS]
            ops += [("query", q, lambda q=q: REGISTRY[q](spark, sf_dir)) for q in QUERIES]
            return ops

        # Warmup and output check in one untimed pass over the same
        # corpus (JIT, codegen, Python workers): artifacts are built, and
        # every query and drain is compared with its DuckDB oracle.
        from tests.oracle_harness import compare

        w0 = time.time()
        check_failures = []
        for kind, name, fn in pass_ops(corpus):
            try:
                if kind == "artifact":
                    _op(fn, False)
                else:
                    compare(spark, corpus, name, REGISTRY[name], ORACLES[name])
            except Exception as exc:  # noqa: BLE001 — a failed check is counted
                check_failures.append(f"{name}: {str(exc)[:300]}")
        release_session_artifacts(app_id)
        warmup_s = clock.net(w0, time.time())
        phases.mark("warmup+checks")
        # Taken after one whole pass with its artifacts released: after
        # the timed phase it would depend on how far the cut pass got.
        live_mem = C.live_mem_mb(spark)
        attempted = len(QUERIES + DRAINS)
        failed = len(check_failures)

        probe_before = C.cpu_probe(spark)
        load_before = C.loadavg()
        wall0 = time.time()
        since_ms = wall0 * 1000.0
        deadline = time.perf_counter() + args.seconds
        samples: list[tuple[str, str, dict]] = []
        passes: list[float] = []
        while time.perf_counter() < deadline:
            p0 = time.time()
            release_session_artifacts(app_id)
            complete = True
            for kind, name, fn in pass_ops(corpus):
                if time.perf_counter() >= deadline and passes:
                    complete = False
                    break
                attempted += 1
                cpu_before = C.tree_cpu_s()
                try:
                    rec = _op(fn, args.trace)
                except Exception as exc:  # noqa: BLE001 — a failed op is counted
                    failed += 1
                    print(f"op {name} failed: {exc}", file=sys.stderr)
                    continue
                rec["end"] = time.time()
                rec["start"] = rec["end"] - rec["s"]
                rec["net_s"] = clock.net(rec["start"], rec["end"])
                rec["cpu_s"] = clock.net_cpu(rec["start"], rec["end"],
                                             C.tree_cpu_s() - cpu_before)
                samples.append((kind, name, rec))
            if complete:
                passes.append(clock.net(p0, time.time()))
        wall = time.time() - wall0
        peak = C.peak_rss_mb()
        load_after = C.loadavg()
        steal = clock.stolen_share(wall0, wall0 + wall)
        probe_after = C.cpu_probe(spark)
        phases.mark("timed")

        batch = [r for k, _, r in samples if k != "drain"]
        drains = [r for k, _, r in samples if k == "drain"]
        drain_batches = progress.batches(since=wall0, until=wall0 + wall, with_data=False)
        drain_rows = sum(p["numInputRows"] for p in drain_batches)
        per_op: dict[str, list[dict]] = {}
        for kind, name, rec in samples:
            per_op.setdefault(f"{kind}:{name}", []).append(rec)
        op_medians = {
            key: {f: C.median([r[f] for r in recs])
                  for f in ("s", "build_s", "plan_s", "exec_s", "net_s", "cpu_s")}
            for key, recs in per_op.items()
        }
        # Per-op medians, so a pass cut by the deadline shifts nothing;
        # net of host contention (see C.StealClock).
        batch_meds = [v["net_s"] for k, v in op_medians.items() if not k.startswith("drain:")]
        drain_meds = [v["net_s"] for k, v in op_medians.items() if k.startswith("drain:")]
        metrics = {
            "setup_s": (start_s + inputs_s + warmup_s, "s"),
            "cycle_s": (sum(batch_meds) + sum(drain_meds), "s"),
            "batch_latency_p50_s": (C.median(batch_meds), "s"),
            "event_latency_p50_s": (C.weighted_quantile(_drain_latencies(progress, samples, clock.net), 0.5), "s"),
            "cpu_s": (sum(v["cpu_s"] for v in op_medians.values()), "s"),
            "live_mem_mb": (live_mem, "MB"),
        }
        layers = {
            "session.start_s": start_s,
            "session.inputs_s": inputs_s,
            "session.warmup_s": warmup_s,
            "batch.ops": float(len(batch)),
            "batch.build_s": sum(v["build_s"] for k, v in op_medians.items() if not k.startswith("drain:")),
            "batch.plan_s": sum(v["plan_s"] for k, v in op_medians.items() if not k.startswith("drain:")),
            "batch.exec_s": sum(v["exec_s"] for k, v in op_medians.items() if not k.startswith("drain:")),
            **C.stream_layers(drain_batches),
        }
        # Single-workload layers: registry construction and
        # Catalyst time of the batch queries, each query's execution,
        # each artifact build and each drain's micro-batch phases.
        named = {
            "queries.build_s": sum(op_medians[f"query:{q}"]["build_s"] for q in QUERIES),
            "queries.plan_s": sum(op_medians[f"query:{q}"]["plan_s"] for q in QUERIES),
            **{f"queries.{q}.exec_s": op_medians[f"query:{q}"]["exec_s"] for q in QUERIES},
            **{f"artifacts.{a}.build_s": op_medians[f"artifact:{a}"]["s"] for a in ARTIFACTS},
            **{f"drain.{q}.{k}": v for q, d in _drain_detail(progress, samples).items()
               for k, v in d.items()},
        }
        detail = {
            # End-to-end figures the result line does not carry (see
            # metrics.py).
            "extra_metrics": {
                "suite_s": C.median(passes) if passes else None,
                "error_rate": failed / attempted,
                "drain_rows_per_s": drain_rows / sum(r["s"] for r in drains),
            },
            "layers": named,
            "passes": [round(p, 3) for p in passes],
            # The same figures in plain wall time, host contention included.
            "wall": {
                "cycle_s": sum(v["s"] for v in op_medians.values()),
                "batch_latency_p50_s": C.median(
                    [v["s"] for k, v in op_medians.items() if not k.startswith("drain:")]),
                "event_latency_p50_s": C.weighted_quantile(
                    _drain_latencies(progress, samples), 0.5),
            },
            "ops": {k: {f: round(x, 4) for f, x in v.items()} for k, v in op_medians.items()},
            "peak_rss_mb": peak,
            "loadavg": [load_before, load_after],
            "steal_share": steal,
            "probe_s": [round(probe_before, 3), round(probe_after, 3)],
            "timed_wall_s": round(wall, 3),
            "batches_per_min": len(batch) / wall * 60.0,
            "check_failures": check_failures,
            "phase_s": phases.seconds,
            "setup_parts_s": {"start": start_s, "inputs": gen_times, "warmup": warmup_s},
        }
        res = {"correct": not check_failures and not failed, "attempted": attempted,
               "failed": failed, "metrics": metrics, "layers": layers, "detail": detail}
    finally:
        clock.stop()
        C.stop_session(spark)
    if args.trace:  # the event log is complete once the session stopped
        res["layers"].update(C.summarize_event_log(os.path.join(workdir, "eventlog"), since_ms))
    return res


def _drain_latencies(progress: C.ProgressLog, samples,
                     span=lambda t0, t1: t1 - t0) -> list[tuple[float, int]]:
    """(latency_s, rows) of every micro-batch of the timed drains. A
    drain's input is all there when its call starts, so a row's latency
    is ``span`` from that start to the commit of the micro-batch that
    took it."""
    out = []
    for _, name, r in samples:
        if name in DRAINS:
            for p in progress.batches(since=r["start"], until=r["end"]):
                commit = (C.progress_time_s(p["timestamp"])
                          + p["durationMs"].get("triggerExecution", 0) / 1000.0)
                out.append((span(r["start"], commit), p["numInputRows"]))
    return out


def _drain_detail(progress: C.ProgressLog, samples) -> dict:
    """Per-drain micro-batch phase medians: a progress record belongs to
    the drain whose call was running when its trigger started."""
    out = {}
    for name in DRAINS:
        spans = [(r["start"], r["end"]) for _, n, r in samples if n == name]
        ps = [p for lo, hi in spans for p in progress.batches(since=lo, until=hi, with_data=False)]
        if ps:
            out[name] = {k.split(".", 1)[1]: round(v, 3)
                         for k, v in C.stream_layers(ps).items()}
            out[name]["s"] = round(C.median([hi - lo for lo, hi in spans]), 3)
    return out
