"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload nvd_refresh_read --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` into
``.perfbench/`` under the current directory, which is also where Spark
keeps its scratch files; the work directory is removed on exit.  The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  Lines before it are a readable
report.  The full record, with samples, input sizes and the host
stamp, goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procstat  # noqa: E402


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str, trace: bool) -> None:
    """Everything the run writes stays under ``work``; the session uses
    every core this process may run on."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the JVM's temp files and perf-data file would otherwise go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    if trace:
        import tracing
        os.makedirs(os.path.join(work, "eventlog"))
        os.environ["PYSPARK_SUBMIT_ARGS"] = tracing.eventlog_submit_args(
            os.path.join(work, "eventlog"))


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _report(metrics: dict, units: dict, title: str) -> None:
    print(f"== {title}")
    for name, value in metrics.items():
        print(f"{name:58s} {value:14.4f} {units[name]}")


def main(argv=None) -> int:
    args = _args(argv)
    try:
        import nvd2mysqlloader_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from "
              f"{os.getcwd()}: {e}", file=sys.stderr)
        return 2
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose "
              f"from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.abspath(".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    try:
        return _measure(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, base: str, work: str) -> int:
    import report
    import tracing
    import workloads

    _environment(work, bool(args.trace))
    stamp = procstat.host_stamp()
    stamp["idle_before"] = procstat.idle_probe()

    spark = None
    try:
        with procstat.RssSampler() as rss:
            from nvd2mysqlloader_spark.session import get_spark
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            get_spark_s = time.perf_counter() - t0
            stamp["spark"] = spark.version
            stamp["java"] = spark.sparkContext._jvm.System.getProperty(
                "java.version")
            tracer = (tracing.Tracer(sc=spark.sparkContext) if args.trace
                      else tracing.NullTracer())
            run = workloads.Run(spark, tracer, args.seed, args.seconds, work)
            cpu0, t0 = procstat.tree_cpu_s(), time.perf_counter()
            if args.trace:
                with tracing.instrument(tracer):
                    workloads.WORKLOADS[args.workload](run)
            else:
                workloads.WORKLOADS[args.workload](run)
            stamp["cpu_over_wall"] = round(
                (procstat.tree_cpu_s() - cpu0)
                / (time.perf_counter() - t0), 3)
            storage = sum(procstat.dir_mb(d)
                          for d in run.info["storage_dirs"])
            _stop(spark)
            spark = None
    finally:
        if spark is not None:
            _stop(spark)
    stamp["idle_after"] = procstat.idle_probe()

    e2e = report.end_to_end(run.samples, storage)
    walls = report.ungated(run.samples, rss.peak_mb)
    ledger = run.ledger
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "inputs": run.inputs, "host": stamp, "info": run.info,
              "end_to_end": e2e, "ungated": walls,
              "reads_ms": {k: report.percentiles_ms(v)
                           for k, v in sorted(run.samples.items())
                           if k.startswith("read")},
              "samples": run.samples,
              "failures": ledger.reasons}
    _report(e2e, report.END_TO_END,
            f"{args.workload} seed {args.seed}"
            + (" (traced: end-to-end figures include tracing)"
               if args.trace else ""))
    _report(walls, report.UNGATED, "not gated")
    print(f"{'error_rate':58s} {ledger.failed / ledger.attempted:14.4f}"
          f" ({ledger.failed} of {ledger.attempted} ops)")
    for reason in ledger.reasons:
        print("FAILED", reason)
    print("host", json.dumps(stamp))
    print("inputs", json.dumps(run.inputs))
    print("reads_ms", json.dumps(record["reads_ms"]))

    metrics = e2e
    units = report.END_TO_END
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        counters = tracing.eventlog_counters(
            tracing.find_eventlog(os.path.join(work, "eventlog")), ROOT)
        metrics = report.per_layer(tracer, counters, run.info["cycles"],
                                   get_spark_s)
        units = report.PER_LAYER
        record["per_layer"] = metrics
        untraced = os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                plain = json.load(f)
            traced = {**e2e, **walls}
            before = {**plain["end_to_end"], **plain["ungated"]}
            record["tracing_overhead"] = {
                k: traced[k] - before[k] for k in traced}
            _report(record["tracing_overhead"],
                    {**report.END_TO_END, **report.UNGATED},
                    "tracing overhead (traced minus untraced, same seed)")
        _report(metrics, units, "per-layer")
    with open(os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}"
            ".json"), "w") as f:
        json.dump(record, f, indent=1)

    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
