"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints a detail JSON line, then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}`` with every
end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``). Exits non-zero, printing no result, when the engine is
missing or an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("query_suite", "stream_live")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import streamandbatchprocessing_spark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"engine not found under {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench import common as C
    from perfbench.metrics import END_TO_END, LAYERS

    workdir = C.prepare_workdir(os.path.join(ROOT, ".perfbench_work", args.workload))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    if args.workload == "query_suite":
        from perfbench import query_suite as wl
    else:
        from perfbench import stream_live as wl
    t0 = time.perf_counter()
    try:
        res = wl.run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    e2e = {k: v for k, (v, _) in res["metrics"].items()}
    last = os.path.join(out_dir, f"{args.workload}_untraced.json")
    detail = dict(res["detail"], workload=args.workload, seed=args.seed,
                  trace=args.trace, end_to_end=e2e,
                  run_wall_s=round(time.perf_counter() - t0, 3))
    same_run = {"seed": args.seed, "seconds": args.seconds}
    if args.trace:
        # Tracing overhead: this traced run minus the last untraced run
        # of the same seed and length, when there is one.
        try:
            with open(last) as fh:
                base = json.load(fh)
        except (OSError, ValueError):
            base = {}
        detail["trace_overhead"] = (
            {k: e2e[k] - base["end_to_end"][k] for k in e2e if k in base["end_to_end"]}
            if base.get("run") == same_run else None)
    else:
        with open(last, "w") as fh:
            json.dump({"run": same_run, "end_to_end": e2e}, fh)
    with open(os.path.join(out_dir, f"{args.workload}_trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps(detail, default=str))

    if not res["correct"]:
        print("output check failed: " + "; ".join(res["detail"].get("check_failures", [])),
              file=sys.stderr)
        return 1
    if args.trace:
        metrics = {k: (res["layers"][k], unit) for k, unit in LAYERS.items()}
    else:
        metrics = {k: (res["metrics"][k][0], unit) for k, (unit, _) in END_TO_END.items()}
    print(C.result_line(res["correct"], res["attempted"], res["failed"], metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
