"""Benchmark of the olake_spark table-maintenance engine.

    python3 maintbench/run.py --workload cdc_cow --seed 1 --seconds 20 --trace 0

Runs one workload (``cdc_cow``, ``mor_read`` or ``maintenance``, see
workloads.py) on ``local[<cores this process may use>]`` from the root
of a checkout, checks the table against an oracle that does not use the
engine, and prints one JSON line last:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's layers, turns on the Spark event log and reports the per-layer
metrics instead (metrics.py lists both). Every file the run writes
lives under ``.maintbench_work/`` in the checkout and is removed at the
end; a traced run also leaves its spans in ``.maintbench_out/``.

The exit code is 0 for a correct run, 1 when an operation failed or the
table does not match the oracle, and 2 when the engine is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_cow", "mor_read", "maintenance")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: a smoke-test scale, seconds instead of minutes")
    p.add_argument("--corrupt", choices=("drop_row", "readd_file"), default=None,
                   help="damage the finished table before the final check "
                        "(the oracle must catch it)")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, traced: bool):
    from olake_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's scratch space, the JVM's and Python's temp files, and the
    # Python workers' import path all point into the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("maintbench", cores=cores(), extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (closing its stdin ends it, and
    its Python workers with it) and wait until it has exited."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=120)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def main(argv=None) -> int:
    args = parse_args(argv)
    # import the engine and this package from the checkout root, never
    # sibling modules of this script by their bare names
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    if not os.path.isdir(os.path.join(ROOT, "olake_spark")):
        print(f"maintbench: no olake_spark package in {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    from maintbench import metrics, tracing
    from maintbench.workloads import Bench, RunFailed, run

    work = os.path.join(ROOT, ".maintbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    spark = None
    try:
        spark = start_spark(work, bool(args.trace))
        tracer.install()
        bench = Bench(spark, os.path.join(work, "tables"), args.workload, args.seed,
                      args.seconds, args.size, tracer, corrupt=args.corrupt)
        t0 = time.perf_counter()
        try:
            run(bench)
        except RunFailed as e:
            print(f"maintbench: {e}", file=sys.stderr)
        except Exception:
            traceback.print_exc()
            bench.errors.append("benchmark raised")
        wall = time.perf_counter() - t0
        correct = not bench.errors
        e2e = bench.end_to_end() if correct else {}
        rss_mb = peak_rss_mb(spark)
        tracer.uninstall()
        stop_spark(spark)
        spark = None
        if correct and args.trace:
            spark_ops = tracing.read_event_log(os.path.join(work, "eventlog"), metrics.GROUP_PREFIX)
            out = metrics.per_layer(bench, tracer, spark_ops, e2e)
            out["peak_rss_mb"] = (rss_mb, "MB")
            tracer.dump(os.path.join(ROOT, ".maintbench_out",
                                     f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            out = e2e
        by_name: dict[str, list[float]] = {}
        for o in bench.ops:
            by_name.setdefault(o.name, []).append(o.secs)
        print(f"maintbench: {args.workload} seed={args.seed} wall={wall:.1f}s "
              f"setups={[round(s, 2) for s in bench.setup_s]} "
              f"phases={ {k: round(v, 1) for k, v in bench.phases.items()} } ops="
              + " ".join(f"{k}:{len(v)}x{statistics.median(v):.2f}s" for k, v in by_name.items()),
              file=sys.stderr)
        attempted = len(bench.ops) + bench.checks
        print(json.dumps({
            "correct": correct,
            "attempted": max(attempted, 1),
            "failed": len(bench.errors),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
