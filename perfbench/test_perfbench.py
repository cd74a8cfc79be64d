"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common as C  # noqa: E402
from perfbench.metrics import END_TO_END, LAYER_MOVES, LAYERS  # noqa: E402


def _iso(t: float) -> str:
    return datetime.fromtimestamp(t, timezone.utc).isoformat().replace("+00:00", "Z")


@pytest.mark.parametrize("n, expected", [
    (3, None), (20, None), (39, None), (40, 75.0),
    (99, 75.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9),
])
def test_supported_percentile_keeps_ten_samples_beyond(n, expected):
    assert C.supported_percentile(n) == expected
    if expected is not None:
        assert n * (100 - expected) / 100 >= 10 - 1e-9


def test_weighted_quantile_matches_expanded_samples():
    pairs = [(3.0, 2), (1.0, 5), (2.0, 3)]
    expanded = sorted(v for v, c in pairs for _ in range(c))
    assert C.weighted_quantile(pairs, 0.5) == expanded[4]
    assert C.weighted_quantile(pairs, 0.9) == 3.0
    assert C.weighted_quantile(pairs, 0.0) == 1.0


def test_event_latency_maps_rows_to_the_batch_that_started_before_them():
    t0 = 1_700_000_000.0
    progress = [
        {"timestamp": _iso(t0), "durationMs": {"triggerExecution": 500}},
        {"timestamp": _iso(t0 + 0.6), "durationMs": {"triggerExecution": 900}},
    ]
    commits = C.batch_commit_times(progress)
    # current_timestamp is read a few ms after the trigger starts.
    groups = [(t0 + 0.003, t0 - 1.0, 10), (t0 + 0.604, t0 + 0.2, 5)]
    lat = C.event_latencies(groups, commits)
    assert lat[0] == (pytest.approx(1.5), 10)   # created t0-1, committed t0+0.5
    assert lat[1] == (pytest.approx(1.3), 5)    # created t0+0.2, committed t0+1.5


def test_event_latency_rejects_rows_of_an_unknown_batch():
    t0 = 1_700_000_000.0
    commits = C.batch_commit_times(
        [{"timestamp": _iso(t0), "durationMs": {"triggerExecution": 100}}])
    with pytest.raises(KeyError):
        C.event_latencies([(t0 - 5.0, t0 - 6.0, 1)], commits)
    with pytest.raises(KeyError):  # after that batch had already committed
        C.event_latencies([(t0 + 1.0, t0, 1)], commits)


def test_steal_clock_takes_host_contention_out_of_an_interval():
    clock = C.StealClock()
    # (epoch s, (busy, steal) ticks): 100 s of quiet, then 10 s in which
    # a quarter of the CPU time wanted went to another tenant.
    clock._times = [0.0, 100.0, 110.0]  # noqa: SLF001
    clock._ticks = [(0, 0), (400, 0), (430, 10)]  # noqa: SLF001
    assert clock.net(0.0, 100.0) == pytest.approx(100.0)
    assert clock.stolen_share(100.0, 110.0) == pytest.approx(0.25)
    assert clock.net(100.0, 110.0) == pytest.approx(10.0 * 0.75 ** 2)
    assert clock.net_cpu(100.0, 110.0, 2.0) == pytest.approx(1.5)
    # Between samples, ticks are interpolated.
    assert clock.net(105.0, 110.0) == pytest.approx(5.0 * 0.75 ** 2)
    assert clock.stolen_share(50.0, 105.0) == pytest.approx(5 / 220)


def test_drain_latency_runs_from_the_call_start_to_each_batch_commit():
    from perfbench.query_suite import DRAINS, _drain_latencies

    t0 = 1_700_000_000.0
    log = C.ProgressLog()
    log.by_name["drain"] = [
        {"timestamp": _iso(t0 + 1.0), "numInputRows": 30, "durationMs": {"triggerExecution": 500}},
        {"timestamp": _iso(t0 + 2.0), "numInputRows": 10, "durationMs": {"triggerExecution": 250}},
        {"timestamp": _iso(t0 + 9.0), "numInputRows": 99, "durationMs": {"triggerExecution": 1}},
    ]
    samples = [("drain", DRAINS[0], {"start": t0, "end": t0 + 3.0}),
               ("query", "b01_pricing_summary", {"start": t0 + 8.0, "end": t0 + 10.0})]
    lat = sorted(_drain_latencies(log, samples))
    assert lat == [(pytest.approx(1.5), 30), (pytest.approx(2.25), 10)]


def test_stream_layers_take_per_batch_medians():
    batches = [
        {"durationMs": {"triggerExecution": t, "addBatch": t // 2},
         "stateOperators": [{"commitTimeMs": t // 10, "numRowsTotal": t}]}
        for t in (100, 300, 200)
    ]
    layers = C.stream_layers(batches)
    assert layers["stream.batches"] == 3
    assert layers["stream.batch_ms"] == 200
    assert layers["stream.add_batch_ms"] == 100
    assert layers["stream.state_commit_ms"] == 20
    assert layers["stream.state_rows"] == 300


def test_emitted_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == {k: unit for k, (unit, _) in END_TO_END.items()}
    assert layers == LAYERS
    assert set(LAYER_MOVES) == set(LAYERS)
    assert {w["name"] for w in spec["workloads"]} == {"query_suite", "stream_live"}


def test_result_line_has_exactly_the_contract_keys():
    line = json.loads(C.result_line(True, 3, 0, {"setup_s": (1.5, "s")}))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {"setup_s": {"value": 1.5, "unit": "s"}}


def test_transactions_generator_is_seeded_and_keeps_reference_selectivities():
    from perfbench.gen import transactions_table

    a = transactions_table(20_000, 3, 90, "2025-01-01")
    b = transactions_table(20_000, 3, 90, "2025-01-01")
    assert a.equals(b)
    cats = a.column("category").to_pylist()
    assert abs(cats.count("electronics") / len(cats) - 0.20) < 0.02
    status = a.column("transaction_status").to_pylist()
    assert abs(status.count("completed") / len(status) - 0.92) < 0.01
    assert len(set(a.column("event_date").to_pylist())) == 90
