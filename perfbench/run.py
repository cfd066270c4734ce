"""loglytics benchmark: one command, two closed-loop workloads.

    python3 perfbench/run.py --workload {dedup_batch,detect_stream} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The lines
before it give provenance and a readable summary.  perfbench/README.md
defines every metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "realtime_log_analytics_flink_kafka_spark"
WORKLOADS = ("dedup_batch", "detect_stream")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--single-core", action="store_true",
                    help="internal: run the local[1] baseline pass and "
                         "print its time")
    ap.add_argument("--record", action="store_true",
                    help="write the dedup_batch result hashes to "
                         "perfbench/expected.json")
    args = ap.parse_args()
    args.t_process = T_PROCESS

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    from perfbench import common

    run_dir = os.path.join(common.WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    common.configure_env(run_dir, 1 if args.single_core else common.CORES,
                         event_log)
    try:
        if args.workload == "dedup_batch":
            from perfbench import dedup as workload
        else:
            from perfbench import stream as workload
        if args.single_core:
            print(json.dumps({"pass_s": workload.single_core(args, run_dir)}))
            return
        result = workload.run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"provenance": result["provenance"]}))
    for k, v in result["summary"].items():
        print(f"{k:40s} {v}")
    metrics = result["per_layer"] if args.trace else result["end_to_end"]
    out = {"correct": result["failed"] == 0,
           "attempted": result["attempted"], "failed": result["failed"],
           "metrics": {k: {"value": v, "unit": u}
                       for k, (v, u) in metrics.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
