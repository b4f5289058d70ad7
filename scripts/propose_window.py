"""Propose the next round's 50-slot verification window.

The per-round discipline (VERDICT r03 item 1, executed in r04): demote
everything with a driver-green CORRECTNESS row, promote never-driver-
verified oracled queries. This script computes that mechanically:

1. read every CORRECTNESS_r*.json → the driver-green set;
2. pool = oracled queries with NO green row, ordered by registration;
3. emit the first 50 (or --all to dump the whole pool) as a ready-to-
   paste `_VERIFY_WINDOW` literal, annotated with registering module
   so capability diversity is reviewable at a glance.

The output is a PROPOSAL: re-order for capability diversity before
pasting (the window should cover shapes no green row exercises yet),
then replica-verify all 50 at sf0.01 BEFORE committing the swap:

    python scripts/check_queries.py $(python scripts/propose_window.py --names) \
        --sf /root/testdata/sf0.01

The new literal REPLACES the old `_VERIFY_WINDOW` in registry.py; do
not keep the old one beside it under another name. Nothing reads such
a copy, and tests/test_reachability.py fails on it (three old windows,
230 lines, piled up that way before the scan counted constants).

``--refresh`` implements the r09+ freshness policy (registry.py window
NOTE, adopted 2026-08-15): once every oracled query has a driver row,
the window = never-verified names first (virgin coverage still wins),
then re-verification slots oldest-green-first — a query certified in
r01 was certified against a testdata/session regime that no longer
exists, so staleness is bounded at ~⌈oracled/50⌉ rounds. "Oldest"
means the LATEST green round per name (a re-verified name is fresh
and rotates to the back); keying on earliest-green would re-pick the
same names forever (bug found+fixed r09).
"""

from __future__ import annotations

import glob
import json
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry  # noqa: E402


def main() -> None:
    qs = entry.queries()
    oracles = entry.oracle_sql()
    green: set[str] = set()
    last_green: dict[str, int] = {}  # name -> LATEST green round number
    # key on the parsed round NUMBER, not the filename: lexicographic
    # ordering breaks if an unpadded round file ever lands (ADVICE r08)
    def _round_num(p: str) -> int:
        m = re.search(r"_r(\d+)", p)
        return int(m.group(1)) if m else 0

    for path in sorted(glob.glob("CORRECTNESS_r*.json"), key=_round_num):
        for q, r in json.load(open(path)).items():
            if (
                r.get("rows_match")
                and r.get("err") is None
                and r.get("hash_match") is not False
            ):
                green.add(q)
                # LATEST green wins: once a name is re-verified its
                # certification is fresh and it must go to the BACK of
                # the rotation — keying on earliest-green would re-pick
                # the same oldest-r01 names every refresh forever
                # (latent policy bug found while pre-verifying the r10
                # window in round 9)
                last_green[q] = _round_num(path)
    pool = [q for q in qs if q in oracles and q not in green]
    if "--refresh" in sys.argv:
        # freshness mode: virgin names lead, then oldest-green-first
        # (registration order within a round — sorted() is stable)
        stale = sorted(
            (q for q in qs if q in oracles and q in green),
            key=lambda q: last_green[q],
        )
        pool = pool + stale
    exclude: list[str] = []
    if "--exclude" in sys.argv:
        i = sys.argv.index("--exclude") + 1
        if i >= len(sys.argv) or sys.argv[i].startswith("--"):
            sys.exit("usage: --exclude NAME[,NAME...] (missing value)")
        exclude = sys.argv[i].split(",")
        unknown = [e for e in exclude if e not in pool]
        if unknown:
            sys.exit(f"--exclude names not in pool: {unknown}")
    kept = [q for q in pool if q not in exclude]
    take = kept if "--all" in sys.argv else kept[:50]
    # deliberate --exclude names are NOT capacity spill — report them
    # separately in the trailer (ADVICE r07)
    spill = [q for q in kept if q not in take]
    if "--names" in sys.argv:
        print(" ".join(take))
        return
    n_oracled = sum(1 for q in qs if q in oracles)
    if "--refresh" in sys.argv:
        n_virgin = sum(1 for q in take if q not in green)
        print(
            f"# refresh mode: {n_virgin} virgin + "
            f"{len(take) - n_virgin} oldest-green re-verification slots "
            f"({len(green)} green / {n_oracled} oracled); "
            f"proposing {len(take)}:"
        )
    else:
        print(
            f"# pool: {len(pool)} never-driver-verified oracled queries "
            f"({len(green)} green so far / {n_oracled} oracled); "
            f"proposing {len(take)}:"
        )
    print("_VERIFY_WINDOW = [")
    for q in take:
        mod = qs[q].__module__.split(".")[-1]
        print(f'    "{q}",  # {mod}')
    # Machine-generated pool accounting (VERDICT r06 "what's wrong" #1:
    # the hand-written note drifted 53 vs 55). Paste this trailer into
    # registry.py verbatim — it is derived from the SAME CORRECTNESS
    # glob the proposal is, so it cannot disagree with --all.
    print("    # --- pool note (machine-generated by propose_window.py) ---")
    if "--refresh" in sys.argv:
        n_virgin_pool = sum(1 for q in pool if q not in green)
        taken_stale = sum(1 for q in take if q in green)
        print(
            f"    # Oracled: {n_oracled}. Driver-green (CORRECTNESS_r*): "
            f"{len(green)}. Never-driver-verified: {n_virgin_pool}."
        )
        print(
            f"    # Refresh window: {len(take) - taken_stale} virgin + "
            f"{taken_stale} oldest-green re-verification slots; the "
            f"{len(green) - taken_stale} fresher greens keep their rows."
        )
    else:
        print(
            f"    # Oracled: {n_oracled}. Driver-green (CORRECTNESS_r*): "
            f"{len(green)}. Never-driver-verified pool: {len(pool)}."
        )
        if spill:
            print(
                f"    # Spilled to next round ({len(spill)}): "
                + ", ".join(spill)
            )
    if exclude:
        print(f"    # Excluded by --exclude ({len(exclude)}): " + ", ".join(exclude))
    print("]")


if __name__ == "__main__":
    main()
