"""Extraction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload mixed_fresh --seed 1 --seconds 5 --trace 0

Runs from any directory. Sets up once from a cold JVM (a Spark session
at local[nproc] with the session's own defaults, input staging,
warm-up), then calls the workload in a closed loop for --seconds and
checks every call's output afterwards. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics; --trace 1 turns on Spark's
event log and reports the per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

import harness  # noqa: E402
import loop  # noqa: E402
import proctree  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.perf_counter()

    work = harness.BENCH / ".work" / (
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    out = harness.BENCH / "out"
    harness.fresh_dir(work)
    try:
        harness.configure_env(work)
        import docling_api_spark  # noqa: F401  (fail before any JVM starts)

        import workloads

        wl = workloads.WORKLOADS[args.workload](args.seed, work, out / "replay")
        try:
            if args.trace:
                import layers

                calls, metrics = layers.traced_run(wl, work, out, args)
            else:
                spark, setup_s, _ = loop.setup(wl, work)
                calls = loop.timed_loop(spark, wl, args.seconds, "call")
                loop.check_calls(spark, wl, calls)
                metrics = loop.end_to_end(calls, setup_s)
        finally:
            harness.shutdown()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    left = proctree.descendants()
    if left:
        loop.log(f"processes still running: {left}")
        return 1
    failed = sum(not c["ok"] for c in calls)
    loop.log(f"[{wl.name}] {time.perf_counter() - t0:.1f} s in all, "
             f"{len(calls)} calls, {failed} failed; " + ", ".join(
        f"{k}={v['value']:.4g} {v['unit']}" for k, v in metrics.items()))
    print(json.dumps({"correct": failed == 0, "attempted": len(calls),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
