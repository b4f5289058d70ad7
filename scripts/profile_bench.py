"""Per-query profile of registry queries: the A/B and shuffle-evidence
harness, measured by the same recorder, warm-up and cold memo epochs as
bench.py.

For each named query (default: bench.py's HEADLINE set), over --reps
cold runs: min and median wall seconds, the build/exec split (the
Python call that builds the frame vs the noop write), the Spark job
count, and shuffle read/write and disk-spill bytes. One line per query
goes to stdout, the table to .tmp/SHUFFLE.md; --plans also writes
each query's formatted physical plan to .tmp/PLANS.md, and --json
writes every run's record.

Usage:
  python scripts/profile_bench.py [name ...] [--sf SF_DIR] [--reps N]
                                  [--plans] [--json OUT.json]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from realtime_analytics_pipeline_spark import registry  # noqa: E402
from realtime_analytics_pipeline_spark.operators.observability import (  # noqa: E402
    QueryRun,
    run_query,
    warm_up,
)

OUT_DIR = ".tmp"


def fmt_bytes(b: float) -> str:
    if b == 0:
        return "0"
    for unit in ("B", "KiB", "MiB", "GiB"):
        if b < 1024:
            return f"{b:.0f} B" if unit == "B" else f"{b:.1f} {unit}"
        b /= 1024
    return f"{b:.1f} TiB"


def summarize(runs: list[QueryRun]) -> dict[str, float]:
    walls = [r.build_s + r.exec_s for r in runs]
    # the lower median keeps job counts and byte counts whole
    med = {f: statistics.median_low(getattr(r, f) for r in runs) for f in QueryRun._fields}
    return {"min_s": min(walls), "median_s": statistics.median(walls), **med}


def plan_text(spark, name: str, sf_dir: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        registry.QUERIES[name](spark, sf_dir).explain("formatted")
    return buf.getvalue().strip()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", default=bench.HEADLINE)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", action="store_true", help=f"write {OUT_DIR}/PLANS.md")
    ap.add_argument("--json", help="write every run's record to this file")
    args = ap.parse_args()

    spark = bench.open_session("rtap-profile")
    warm_up(spark)
    runs: dict[str, list[QueryRun]] = {}
    rows = []
    for i, name in enumerate(args.names):
        runs[name] = [
            run_query(spark, name, args.sf, f"profile:{i}:{rep}")
            for rep in range(args.reps)
        ]
        s = summarize(runs[name])
        print(
            f"{name}: min {s['min_s']:.2f}s median {s['median_s']:.2f}s"
            f" (build {s['build_s']:.2f}s exec {s['exec_s']:.2f}s)"
            f" jobs {s['jobs']:g} shuffle read {fmt_bytes(s['shuffle_read_bytes'])}"
            f" write {fmt_bytes(s['shuffle_write_bytes'])}"
            f" spill {fmt_bytes(s['spill_bytes'])}",
            flush=True,
        )
        rows.append(
            f"| {name} | {s['min_s']:.2f} | {s['median_s']:.2f} | {s['build_s']:.2f}"
            f" | {s['exec_s']:.2f} | {s['jobs']:g} | {fmt_bytes(s['shuffle_read_bytes'])}"
            f" | {fmt_bytes(s['shuffle_write_bytes'])} | {fmt_bytes(s['spill_bytes'])} |"
        )

    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, "SHUFFLE.md"), "w") as f:
        f.write(
            f"# Per-query profile ({os.path.basename(args.sf)}, noop sink,"
            f" medians of {args.reps} cold reps)\n\n"
            "Generated by `python scripts/profile_bench.py`. Map-only passes"
            " move zero shuffle bytes; spill > 0 means partitions outgrew"
            " executor memory at this SF.\n\n"
            "| query | min s | median s | build s | exec s | jobs"
            " | shuffle read | shuffle write | disk spill |\n"
            "|---|---|---|---|---|---|---|---|---|\n" + "\n".join(rows) + "\n"
        )
    if args.plans:
        with open(os.path.join(OUT_DIR, "PLANS.md"), "w") as f:
            for name in args.names:
                f.write(f"## {name}\n\n```\n{plan_text(spark, name, args.sf)}\n```\n\n")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({n: [r._asdict() for r in rs] for n, rs in runs.items()}, f, indent=1)


if __name__ == "__main__":
    main()
