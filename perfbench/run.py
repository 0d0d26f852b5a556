"""Benchmark of the quality-filter engine.

    python3 perfbench/run.py --workload qf_batch --seed 1 --seconds 45 --trace 0

Run from the repository root. A run times one cold job (``--seconds`` is
about the longest one takes; it does not change what is timed).
``--trace 0`` measures the end-to-end metrics; ``--trace 1`` makes a
separate traced run that reports the per-layer metrics. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it holds the run's details (workload, seed,
oracle failures, contention probe, versions). See perfbench/README.md for
the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from harness import process_start_time, tree_pids, wait_gone  # noqa: E402


def environment(nproc: int) -> dict:
    """Commit (when the checkout is a git repository), a digest of the
    engine's sources, core count and versions."""
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    import pyspark

    import workloads

    return {"commit": commit, "source_sha256": workloads.source_digest(), "nproc": nproc,
            "spark": pyspark.__version__, "python": platform.python_version()}


def stop_spark() -> None:
    """Stop this process's session, if any, and wait until its JVM and the
    JVM's Python workers have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = tree_pids(os.getpid()) - {os.getpid()}
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    # the JVM exits when its stdin closes
    gateway.proc.stdin.close()
    gateway.proc.wait()
    wait_gone(pids)


def main() -> int:
    t_start = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    import open_thoughts_spark  # noqa: F401  the program; absent -> ImportError

    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    os.chdir(ROOT)
    nproc = os.cpu_count() or 1
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(workloads.WORK, d), exist_ok=True)
    # the engine reads its core count from SPARK_GRAFT_CPUS; Spark and
    # Python temp files stay inside the checkout
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=os.path.join(workloads.WORK, "spark-local"),
        TMPDIR=os.path.join(workloads.WORK, "tmp"),
    )
    run = workloads.Run(args.workload, args.seed, bool(args.trace), t_start)
    shutil.rmtree(run.out, ignore_errors=True)
    os.makedirs(run.out)
    metrics = workloads.WORKLOADS[args.workload](run)
    run.probe("after")
    run.details.update(workload=args.workload, seed=args.seed, trace=args.trace,
                       environment=environment(nproc))
    run.details["failures"] = run.failures

    stop_spark()

    print(json.dumps({"details": run.details}, default=str))
    print(json.dumps(workloads.result_line(run, metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
