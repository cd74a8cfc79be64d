"""Metric names, units and the layer → end-to-end map.

Every workload emits every metric: each is defined for both workloads
on the two planes the engine unifies — a *batch* plane (registry
queries and artifacts; REST batch jobs) and a *stream* plane (the
finite registry drains; the live two-query pipeline). ``BENCHMARK.json``
lists the same names; ``test_perfbench.py`` checks that they agree.

Every time and CPU figure is net of host contention
(``common.StealClock``): the stolen share of the CPU time the run
wanted, and the slowdown the same neighbours cause, are taken out, so a
busy neighbour does not read as a slower engine. The detail line keeps
the plain wall times under ``wall``.

The result line can only carry metrics every workload has, so the
layers and figures of a single workload (``queries.<q>.exec_s``,
``api.page_ms``, ``suite_s``, ...) go to the detail line, under
``layers`` and ``extra_metrics``.
"""

from __future__ import annotations

from .common import SPARK_LAYER_KEYS

#: name -> (unit, meaning per workload: query_suite | stream_live)
END_TO_END = {
    "setup_s": ("s", "session start + input generation (median of repeats) + warmup"),
    "cycle_s": ("s", "median client cycle: a suite pass | REST submit→COMPLETED→pages"),
    "batch_latency_p50_s": ("s", "median batch op: registry call + noop write | REST submit→COMPLETED"),
    "event_latency_p50_s": ("s", "median row latency, input ready→its micro-batch committed: "
                            "drain call start | event creation, mixed phase"),
    "cpu_s": ("s", "CPU seconds of Python + JVM + workers per client cycle"),
    "live_mem_mb": ("MB", "Python driver resident set + JVM heap in use after a full GC: "
                    "after the check pass, artifacts released | after the timed phase, "
                    "stream stopped"),
}

LAYERS = {
    "session.start_s": "s",
    "session.inputs_s": "s",
    "session.warmup_s": "s",
    "batch.ops": "count",
    "batch.build_s": "s",
    "batch.plan_s": "s",
    "batch.exec_s": "s",
    "stream.batches": "count",
    "stream.batch_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    **{k: ("count" if k in ("spark.jobs", "spark.tasks")
           else "MB" if k.endswith("_mb") else "s") for k in SPARK_LAYER_KEYS},
}

#: Which end-to-end metric (on which workload) each layer should move.
LAYER_MOVES = {
    "session.start_s": "setup_s (both)",
    "session.inputs_s": "setup_s (both)",
    "session.warmup_s": "setup_s (both)",
    "batch.ops": "cycle_s (both): ops completed in the timed phase",
    "batch.build_s": "cycle_s, batch_latency_p50_s (both: Python/Py4J construction)",
    "batch.plan_s": "cycle_s, batch_latency_p50_s (both: Catalyst phases)",
    "batch.exec_s": "cycle_s, batch_latency_p50_s, cpu_s (both)",
    "stream.batches": "event_latency_p50_s (both)",
    "stream.batch_ms": "event_latency_p50_s (both)",
    "stream.add_batch_ms": "event_latency_p50_s (both)",
    "stream.query_planning_ms": "event_latency_p50_s (both)",
    "stream.wal_commit_ms": "event_latency_p50_s (both)",
    "stream.commit_offsets_ms": "event_latency_p50_s (both)",
    "stream.state_commit_ms": "event_latency_p50_s (query_suite f14; stream_live dashboard)",
    "stream.state_rows": "event_latency_p50_s (both)",
    **{k: "cpu_s (both); executor_run_s / wall separates driver- from executor-bound"
       for k in SPARK_LAYER_KEYS},
}
