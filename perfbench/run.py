"""Benchmark of the search engine's public functions.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the seed's inputs (cached under
``.perfbench_work/``), runs the workload on ``local[nproc]`` in this one
process, checks every timed operation's output, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
turns on Spark's event log and reports the per-layer metrics instead,
plus the end-to-end metrics as measured with tracing on. The line before
it carries the host stamp, sample counts and, for a traced run whose seed
was also run untraced here, the tracing overhead. See perfbench/README.md.
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
WORK = os.path.join(ROOT, ".perfbench_work")


def stop_spark(spark) -> None:
    """Stop the session, then its gateway JVM, and wait for the JVM to
    exit. spark.stop() ends the Python workers, but the JVM runs on until
    this process exits, and a run must leave no process behind."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def host_stamp(cores: int) -> dict:
    import pyspark

    return {
        "nproc": cores,
        "loadavg_1m": os.getloadavg()[0],
        "python": platform.python_version(),
        "spark": pyspark.__version__,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "search_engine_spark")):
        print(f"perfbench: no search_engine_spark package in {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workload import END_TO_END, QUERIES, WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(choose from {sorted(WORKLOADS)})", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    host = host_stamp(cores)  # load average before this run adds any
    # keep every file the run writes (JVM temp, Spark scratch) in the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    from inputs import materialize

    cache = os.path.join(WORK, "inputs", f"{args.workload}-{args.seed}")
    inputs = materialize(WORKLOADS[args.workload], args.seed, QUERIES, cache,
                         procs=min(4, cores))

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log_dir = os.path.join(run_dir, "eventlog")
    conf = {
        "spark.driver.memory": "2g",
        # Python workers must import the engine whatever the working dir
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    run = Run(args.workload, inputs, cache, run_dir, args.seconds, conf, cores)
    try:
        e2e = run.execute()
        host["java"] = run.spark.sparkContext._jvm.System.getProperty(
            "java.version")
    finally:
        stop_spark(run.spark)

    if args.trace:
        from layers import PER_LAYER, per_layer

        values = per_layer(run, log_dir)
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in PER_LAYER.items()}
        metrics.update({f"traced.{k}": {"value": e2e[k], "unit": u}
                        for k, u in END_TO_END.items()})
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
        os.makedirs(os.path.join(WORK, "reference"), exist_ok=True)
        with open(os.path.join(WORK, "reference",
                               f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(e2e, fh)  # compared by a later traced run

    attempted = run.attempted
    failed = min(attempted, len(run.failures))
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host,
        "samples": {k: len(v) for k, v in run.samples.items()},
        "topk_bulk_share": run.paths["bulk_share"],
        "phase_share": run.phase_shares(),
        "failed_op_share": failed / attempted,
        "failures": run.failures[:10],
    }
    reference = os.path.join(WORK, "reference",
                             f"{args.workload}-{args.seed}.json")
    if args.trace and os.path.exists(reference):
        with open(reference) as fh:
            untraced = json.load(fh)
        info["tracing_overhead"] = {k: e2e[k] - untraced[k] for k in END_TO_END}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump({"info": info, "metrics": metrics,
                   "spans": run.tracer.spans}, fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"perfbench": info}))
    print(json.dumps({"correct": not run.failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
