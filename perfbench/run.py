"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload serve-zipf --seed 1 --seconds 12 \\
        --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around engine layer calls, then the layer
microbenchmarks, and prints the per-layer metrics.  The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``.
The exit code is 0 only when every operation succeeded and every
correctness gate matched.  Everything the run writes (Spark scratch space,
the corpus, indexes, spans) lives under ``.perfbench_work/`` in the
checkout and is removed at the end, except the span files of traced runs,
kept in ``.perfbench_work/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: str, nproc: int):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    # no hsperfdata file in the system temp directory either
    java_tmp = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = (SparkSession.builder
             .master(f"local[{nproc}]")
             .appName("perfbench")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", str(2 * nproc))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.driver.memory", "2g")
             .config("spark.local.dir", os.path.join(work, "spark"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .config("spark.driver.extraJavaOptions", java_tmp)
             .config("spark.executor.extraJavaOptions", java_tmp)
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pim_lucene_spark")):
        print(f"perfbench: no pim_lucene_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)  # the engine, imported by the workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    nproc = os.cpu_count() or 1
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, nproc)
        run = workloads.Run(spark, work, args.seed, args.seconds)
        if args.trace:
            import layers
            layers.traced_run(run, workloads.WORKLOADS[args.workload])
            os.makedirs(os.path.join(base, "spans"), exist_ok=True)
            run.tracer.write(os.path.join(
                base, "spans", f"{args.workload}-{args.seed}.jsonl"))
            metrics = run.layers
        else:
            workloads.WORKLOADS[args.workload](run)
            metrics = run.metrics
        print(f"perfbench: {args.workload} seed={args.seed} "
              f"wall={time.perf_counter() - t0:.1f}s "
              f"setups={[round(t, 2) for t in run.setup_times]} "
              f"samples={len(run.op_lat)} "
              f"rates={[round(r, 1) for r in run.rates]} "
              f"phases={run.phases}",
              file=sys.stderr)
        for e in run.errors:
            print(f"perfbench: FAILED {e}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
