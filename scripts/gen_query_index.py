"""Generate .tmp/QUERIES.md — the full gated-query inventory with
verification provenance.

One row per `queries()` entry: registering module, oracle kind
(DuckDB SQL vs rows-only), and the strongest driver evidence
(which CORRECTNESS_r{N}.json carries a green row, else replica).
Regenerate after registry changes: python scripts/gen_query_index.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry  # noqa: E402

OUT = ".tmp/QUERIES.md"


def main() -> None:
    qs = entry.queries()
    oracles = entry.oracle_sql()
    # which module registered each query
    mod_of = {}
    for name, fn in qs.items():
        mod_of[name] = fn.__module__.split(".")[-1]
    driver: dict[str, str] = {}
    # union over EVERY CORRECTNESS_r*.json present (glob, not a fixed
    # range): provenance is computed, never snapshotted — rerun this
    # script after each driver round lands (round-5 verdict nit)
    import glob

    for path in sorted(glob.glob("CORRECTNESS_r*.json")):
        n = int(path[len("CORRECTNESS_r"):-len(".json")])
        rows = json.load(open(path))
        for q, r in rows.items():
            ok = r.get("rows_match") and r.get("err") is None and (
                r.get("hash_match") is not False
            )
            if ok and q not in driver:
                driver[q] = f"driver r{n:02d}"
    in_window = set(list(qs)[:50])

    lines = [
        "# QUERIES — gated query inventory with verification provenance",
        "",
        "Generated by `python scripts/gen_query_index.py`. 'driver rNN' =",
        "green row in CORRECTNESS_rNN.json (rows + schema + value hash at",
        "sf0.01); 'replica' = green under scripts/verify_driver_gate.py's",
        "type-exact replica of the same check; rows-only queries carry",
        "pytest accuracy/parity pins instead of a SQL oracle (see",
        "COVERAGE.md). '*' marks the current 50-slot driver window.",
        "",
        f"Total: {len(qs)} queries — {len(oracles)} oracled, "
        f"{len(qs) - len(oracles)} rows-only; "
        f"{len([q for q in qs if q in driver])} with a driver-green row so far.",
        "",
        "| query | module | oracle | strongest evidence |",
        "|---|---|---|---|",
    ]
    for name in qs:
        star = "*" if name in in_window else ""
        okind = "DuckDB SQL" if name in oracles else "rows-only"
        ev = driver.get(name, "replica")
        lines.append(f"| {name}{star} | {mod_of[name]} | {okind} | {ev} |")
    os.makedirs(".tmp", exist_ok=True)
    with open(OUT, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {OUT} ({len(qs)} rows)")


if __name__ == "__main__":
    main()
