"""Full-registry physical-plan perturbation sweep.

Runs EVERY registered query under the default plan, keeping each sorted
row set; then releases the session's artifacts and runs every query
again with broadcasts disabled (forcing SMJ/shuffle joins) and
``spark.sql.shuffle.partitions`` dropped to a prime 3 (different
partition boundaries and merge orders), and diffs the row sets. Zero
tolerance: a single differing repr fails the sweep. The release between
the passes makes the perturbed pass rebuild every shared artifact under
the perturbed plans, so artifact builds are proven plan-invariant too.
This is the round-checklist proof that the decimal-accumulate /
integer-time / portable-hash / explicit-tie-break discipline holds
across the WHOLE registry, not just the pytest slice in
tests/test_plan_perturbation.py.

Usage: python scripts/perturb_sweep.py [sf_dir]   (default sf0.001)
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamandbatchprocessing_spark.queries import QUERIES  # noqa: E402
from streamandbatchprocessing_spark.queries.registry import (  # noqa: E402
    release_session_artifacts,
)
from streamandbatchprocessing_spark.session import build_spark  # noqa: E402

_PERTURB = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.shuffle.partitions": "3",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = build_spark(
        app_name="perturb-sweep",
        enable_fair_scheduler=False,
        extra_conf={"spark.ui.enabled": "false"},
    )
    t_start = time.perf_counter()
    baseline = _sweep(spark, sf_dir, "default")
    release_session_artifacts()
    for k, v in _PERTURB.items():
        spark.conf.set(k, v)
    perturbed = _sweep(spark, sf_dir, "perturbed")
    spark.stop()
    failures = [
        name for name in QUERIES
        if baseline[name] is None or baseline[name] != perturbed[name]
    ]
    mins = (time.perf_counter() - t_start) / 60
    if failures:
        print(f"SWEEP FAILED ({mins:.1f} min): {failures}")
        return 1
    print(
        f"perturb-sweep: all {len(QUERIES)} registered queries reproduce "
        f"bit-for-bit under forced-SMJ + 3-partition plans at {sf_dir} "
        f"({mins:.1f} min)"
    )
    return 0


def _sweep(spark, sf_dir: str, label: str) -> dict[str, list[str] | None]:
    """Each query's sorted row reprs (None when it raised)."""
    rows: dict[str, list[str] | None] = {}
    for i, name in enumerate(QUERIES, 1):
        t0 = time.perf_counter()
        try:
            rows[name] = sorted(map(repr, QUERIES[name](spark, sf_dir).collect()))
            status = "ok"
        except Exception:
            rows[name] = None
            status = "ERROR"
            traceback.print_exc(limit=3)
        print(
            f"[{label} {i:3d}/{len(QUERIES)}] {name}: {status} "
            f"({time.perf_counter() - t0:.2f}s)",
            flush=True,
        )
    return rows


if __name__ == "__main__":
    raise SystemExit(main())
