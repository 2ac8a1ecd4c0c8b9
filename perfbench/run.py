"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload budget_resume --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from the seed into
``.bench_build/perfbench/run-<pid>/`` (with the run's Spark scratch,
ledgers and logs) and removed at exit; a traced run leaves its spans in
``.bench_build/perfbench/spans-<workload>-<seed>.json``.  The last line of standard output
is ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("budget_resume", "incremental_daily", "headline_queries")


def main() -> int:
    ap = argparse.ArgumentParser(description="integrity-check engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("integritychecksforvldbs_spark", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in {ROOT} (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every scratch file the run, Spark and the JVM write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers the JVM starts must import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads

        result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
