"""Pipeline benchmark: one command runs a workload, checks its outputs
and prints every metric by name with its unit.

    python3 perfbench/run.py --workload live_pipeline --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It writes only under
``.perfbench_run/`` there and removes its run directory at the end.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
layers (perfbench/tracing.py) and prints the per-layer metrics, plus
this traced run's end-to-end values as ``traced.*``: the difference to
an untraced run of the same seed is the tracing overhead.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import faulthandler  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PROGRAM = "realtime_analytics_pipeline_spark"
# A run that is not done by then prints every thread's stack and exits
# non-zero; the JVM and the load generator exit when their stdin closes.
DEADLINE_S = 170
# Maximum JVM heap, below the program's 8g default: the benchmark shares
# its host's memory. The heap starts small and grows as the program
# needs it, so peak RSS follows the program's memory use.
DRIVER_MEM = "1g"
# Engine cores. The pipeline's cost is fixed work per job and per task,
# not data-parallel compute: 4 cores were not faster than 2 (NOTES.md).
# The generator and the host keep the rest.
MAX_CPUS = 2


def _configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside the run
    directory, and size the engine to this host (at most MAX_CPUS). A
    traced run also writes a Spark event log (perfbench/suite.py)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(min(MAX_CPUS, os.cpu_count() or 1))
    event_log = []
    if trace:
        os.makedirs(_event_log_dir(run_dir))
        event_log = [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{_event_log_dir(run_dir)}",
        ]
    os.environ.update(
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher's too: no perf-data file
        # under /tmp, temporary files in the run directory
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        # tracing.TRACE_DIR_ENV: read by the traced stream reader in
        # Spark's Python workers, which inherit the JVM's start-up env
        PERFBENCH_TRACE_DIR=os.path.join(run_dir, "trace"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf", "spark.sql.streaming.numRecentProgressUpdates=100000",
            "--conf", "spark.ui.showConsoleProgress=false",
            *event_log,
            "pyspark-shell",
        ]),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _event_log_dir(run_dir: str) -> str:
    return os.path.join(run_dir, "eventlog")


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=60)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PROGRAM)):
        print(f"{PROGRAM} not found under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    from perfbench.system import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    _configure_env(run_dir, bool(args.trace))
    faulthandler.dump_traceback_later(DEADLINE_S - (time.time() - T_PROCESS), exit=True)
    try:
        return _run(args, wl, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, wl, run_dir: str) -> int:
    from realtime_analytics_pipeline_spark.session import get_spark

    from perfbench import report, suite, system
    from perfbench.tracing import TRACE_DIR_ENV, Tracer

    rss = system.RssSampler()
    rss.start()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    rss.jvm_pid = spark.sparkContext._gateway.proc.pid
    tracer = Tracer(os.environ[TRACE_DIR_ENV]) if args.trace else None
    try:
        rec = system.run(spark, wl, args.seed, args.seconds, run_dir, T_PROCESS, rss, tracer)
        rss.stop()
        run = report.Run(rec, wl)
        e2e = report.end_to_end(run)
        loadgen = report.loadgen_metrics(run)
        problems, failed_events = report.check(spark, run, run_dir)
        rec["phases"]["checked"] = time.time() - T_PROCESS
        attempted = run.attempted
        if args.trace:
            registry = {k: 0.0 for k in suite.UNITS}
            if wl.backlog:  # the registry layer is measured on the replay's events
                sf_dir = os.path.join(run_dir, "suite")
                suite.write_fixture_events(run.canonical(), sf_dir)
                registry, suite_problems = suite.run(spark, sf_dir)
                registry.update(suite.event_log_totals(_event_log_dir(run_dir)))
                problems += suite_problems
                attempted += len(suite.SUITE)
                failed_events += len(suite_problems)
            # leaks: after every query of the run, the suite's too
            rec["active_queries_end"] = len(spark.streams.active)
            rec["catalog_tables_end"] = len(spark.catalog.listTables())
            values = {**report.per_layer(run, tracer, e2e), **registry}
            units = {**report.PER_LAYER, **suite.UNITS}
        else:
            values, units = e2e, report.END_TO_END
    finally:
        _stop_spark(spark)

    print("phases (s from process start): "
          + ", ".join(f"{k} {v:.1f}" for k, v in rec["phases"].items()), file=sys.stderr)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    if loadgen["loadgen.valid"] < 1:
        print(f"INVALID RUN: generator self-lateness p99 {loadgen['loadgen.late_p99_ms']:.1f} ms "
              f"> {report.LATE_BOUND_MS} ms", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": run.failed(failed_events),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
