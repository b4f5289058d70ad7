"""Run one workload over several seeds and print each metric's median
and quartile spread (IQR / median), the way the benchmark is judged.

    python3 perfbench/spread.py --workload live_pipeline --seeds 1-10 [--seconds 10]

Each run's result line is appended to ``--log`` (JSON lines).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--log", default=os.devnull)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        with open(args.log, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                 "rc": out.returncode, "result": last}) + "\n")
        res = json.loads(last)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}", flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:28s} median {med:12.4f}  spread {spread:7.3f}  n={len(xs)}")


if __name__ == "__main__":
    main()
