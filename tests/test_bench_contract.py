"""The driver tail-captures bench.py stdout and parses the LAST JSON
line — guard that contract. Round 6's BENCH record was voided because
the 55-entry extra dict inflated the single output line past the
driver's capture window; the headline JSON must now be its own compact
FINAL line (extras go to an earlier line + sidecar file)."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_bench_emits_compact_final_headline_line():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",  # keep the guard fast
        SPARK_GRAFT_CPUS="4",
        # Round 12 made the extras loop best-of-N (default 2); a second
        # full extras pass (~2 min at this SF) pushed the guard's total
        # right against the 420 s timeout, so it flapped under ambient
        # load. One pass exercises the identical output contract.
        SPARK_GRAFT_BENCH_EXTRA_REPS="1",
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        # 600 s: the guard runs ~270 s solo but this host's ambient load
        # swings (BENCH history) have inflated it past the old 420 s.
        timeout=600,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert len(lines) == 2, lines

    extras = json.loads(lines[0])
    assert extras["extra"] and all(
        isinstance(v, float) for v in extras["extra"].values()
    )
    # Every extra must have actually run (-1.0 marks a tracked failure).
    assert all(v >= 0 for v in extras["extra"].values()), extras["extra"]
    # Round 9: the headline loop is best-of-N (default 3 reps) so the
    # driver-read number is robust to ambient host load; the per-rep
    # totals document the spread.
    assert extras["reps"] == 3
    assert extras["extra_reps"] == 1  # the env knob above took effect
    assert len(extras["headline_run_totals"]) == 3
    assert all(t > 0 for t in extras["headline_run_totals"])
    # Round 11: per-rep host-load markers make headline drift
    # self-adjudicating (loadavg snapshot + a fixed CPU-bound probe
    # per rep, plus a closing loadavg after the extras sweep).
    assert len(extras["rep_loadavg"]) == 3
    assert all(len(la) == 3 for la in extras["rep_loadavg"])
    assert len(extras["rep_probe_secs"]) == 3
    assert all(p > 0 for p in extras["rep_probe_secs"])
    assert len(extras["final_loadavg"]) == 3
    # Round 13 (the round-12 verdict's #2): artifact builds are their
    # own timed phase so first-consumer extras record marginal cost,
    # and the extras sweep carries its own load self-adjudication
    # markers (phase-boundary probes + per-extra 1-min loadavg).
    assert extras["artifact_build_secs"], extras
    assert all(v >= 0 for v in extras["artifact_build_secs"].values()), (
        extras["artifact_build_secs"]
    )
    # Entries whose artifact a headline query already built time a warm
    # read, and say so: c02 builds the signatures.
    warm = extras["artifact_build_warm"]
    assert set(warm) <= set(extras["artifact_build_secs"]), warm
    assert "sig" in warm, warm
    assert set(extras["phase_probe_secs"]) == {
        "pre_artifacts", "pre_extras", "post_extras"
    }
    assert all(p > 0 for p in extras["phase_probe_secs"].values())
    assert set(extras["extra_loadavg_1m"]) == set(extras["extra"])

    payload = json.loads(lines[-1])
    assert payload["metric"] == "headline_query_wall_time_total"
    assert payload["unit"] == "sec"
    assert payload["value"] > 0
    assert payload["queries"] and all(v >= 0 for v in payload["queries"].values())
    assert payload["sf"] == 0.001
    assert "extra" not in payload
    # The driver's tail window is finite: the headline line must stay
    # compact no matter how many extras accumulate.
    assert len(lines[-1]) < 2000, len(lines[-1])
