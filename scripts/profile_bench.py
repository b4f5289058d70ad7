"""Per-query profiling for the optimization rounds (guide §1).

For each named query (default: the bench HEADLINE set), at
$SPARK_GRAFT_SF_DIR:
  - time plan CONSTRUCTION (the Python fn(spark, sf_dir) call) and
    EXECUTION (noop sink) separately, over N reps;
  - count Spark jobs/stages/tasks launched during execution via the
    status tracker deltas;
  - optionally dump .explain("formatted") to <dir>/<q><suffix>.txt
    (keep dumps under the gitignored .tmp/).

Usage:
  python scripts/profile_bench.py [--reps 3] [--plans .tmp/plans/r13 --suffix _before]
                                  [--only q1,q2,...] [--json OUT.json]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from realtime_analytics_pipeline_spark import registry  # noqa: E402
from realtime_analytics_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="directory for plan dumps")
    ap.add_argument("--suffix", default="", help="plan filename suffix")
    ap.add_argument("--only", default=None)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # mirror bench.py's tmpfs routing so streaming replays measure the
    # engine, not the disk queue
    if os.path.isdir("/dev/shm"):
        import shutil
        import tempfile

        shm_tmp = "/dev/shm/rtap_prof_tmp"
        shutil.rmtree(shm_tmp, ignore_errors=True)
        os.makedirs(shm_tmp, exist_ok=True)
        os.environ["TMPDIR"] = shm_tmp
        os.environ.setdefault("SPARK_LOCAL_DIRS", shm_tmp)
        tempfile.tempdir = None

    import bench  # noqa: E402  (for HEADLINE)

    names = (
        [n.strip() for n in args.only.split(",") if n.strip()]
        if args.only
        else list(bench.HEADLINE)
    )

    spark = get_spark("rtap-profile")
    if os.path.isdir("/dev/shm"):
        spark.conf.set(
            "spark.sql.streaming.checkpointLocation",
            os.path.join("/dev/shm/rtap_prof_tmp", "ckpt"),
        )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # warmup (same as bench)
    registry.QUERIES["event_metrics_1m"](
        spark, "/root/testdata/sf0.001"
    ).write.format("noop").mode("overwrite").save()
    registry.QUERIES["sim_cosine_topk_blas"](
        spark, "/root/testdata/sf0.001"
    ).write.format("noop").mode("overwrite").save()

    tracker = sc.statusTracker()
    results: dict[str, dict] = {}
    for name in names:
        fn = registry.QUERIES[name]
        cons, execs, jobs = [], [], []
        for rep in range(args.reps):
            sc.setJobDescription(f"profile:{name}:rep{rep}")
            j0 = tracker.getJobIdsForGroup(None)
            n0 = len(sc.statusTracker().getJobIdsForGroup())
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            n1 = len(sc.statusTracker().getJobIdsForGroup())
            cons.append(t1 - t0)
            execs.append(t2 - t1)
            jobs.append(n1 - n0)
            sc.setJobDescription(None)
        med_c = statistics.median(cons)
        med_e = statistics.median(execs)
        results[name] = {
            "construct_sec": round(med_c, 3),
            "exec_sec": round(med_e, 3),
            "total_sec": round(med_c + med_e, 3),
            "min_total": round(min(c + e for c, e in zip(cons, execs)), 3),
            "jobs_per_run": max(jobs),
        }
        print(
            f"  {name}: construct {med_c:.2f}s exec {med_e:.2f}s "
            f"jobs~{max(jobs)}",
            file=sys.stderr,
        )
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            try:
                df = fn(spark, sf_dir)
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                with open(
                    os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w"
                ) as f:
                    f.write(buf.getvalue())
            except Exception as exc:  # streaming plans can't explain pre-run
                with open(
                    os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w"
                ) as f:
                    f.write(f"(explain unavailable: {exc})\n")

    total = sum(r["total_sec"] for r in results.values())
    print(f"TOTAL {total:.1f}s over {len(results)} queries", file=sys.stderr)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
