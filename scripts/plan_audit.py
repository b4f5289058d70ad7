"""Automated red-flag audit of the verification window's physical plans.

For every in-window gated query (the 50 the driver checks), build the
DataFrame at the given SF and scan its formatted physical plan for the
classic scale-killers:

- CartesianProduct / BroadcastNestedLoopJoin (unless joining a 1-row
  scalar aggregate, the documented legitimate use);
- a Window operator with an empty partition spec over a non-TopN plan
  (global sort of the full input; legitimate only when Catalyst
  rewrites it to TakeOrderedAndProject or the input is already
  aggregate-sized);
- row-at-a-time PythonUDF in the plan (BatchEvalPython) — the
  forbidden slow path; ArrowEvalPython / mapInPandas are the
  sanctioned boundaries;
- InMemoryTableScan (unexpected caching);
- a higher-order fold re-evaluated inside a Filter (round-11): plain
  explode over a computed array makes Catalyst infer
  `size(arr) > 0`, and when the array is a pure function of a
  grouping key the guard is legal to push BELOW the aggregate — the
  whole fold then re-runs once per input row of the pre-aggregation
  stream (measured 130 s -> 1.3 s on the BPE encode spec at the sf1
  slice). Fix: explode_outer (no inferred constraint) when the array
  is provably non-empty.

Streaming queries (writeStream-driven) are skipped — their plans are
only materialized per-microbatch; they are covered by the state-store
metrics tests instead.

Usage: python scripts/plan_audit.py [sf_dir] [--all]
Exit 0 = no new red flags. Findings print with query name + line.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from realtime_analytics_pipeline_spark import registry  # noqa: E402
from realtime_analytics_pipeline_spark.session import get_spark  # noqa: E402

# Structural classification of BroadcastNestedLoopJoin builds: a BNLJ
# is legitimate when its broadcast build side is BOUNDED — a scalar or
# grouped aggregate (1 row / group-sized), a literal local relation, a
# top-N, an explicit limit, or a filtered/keyed subset. The egregious
# case this audit exists to catch is an UNBOUNDED raw table broadcast
# (Project+Scan with no bounding operator) feeding a nested loop: that
# is the O(n*m) pattern that melts at 100 TB.
BOUNDING_OPS = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "LocalTableScan",
    "GlobalLimit",
    "CollectLimit",
    "Filter",          # keyed/predicate-bounded subset (vec_id < 50 etc.)
    "Window",          # rank-bounded subsets
)

# the documented Python slow-lane surface demo (polymorphic UDTF);
# BatchEvalPythonUDTF is its execution operator by design
PYTHON_SURFACE_OK = {"sessions_udtf"}


def _depth(line: str) -> int:
    m = re.match(r"^[\s:+|-]*", line)
    return len(m.group(0))


def unbounded_bnlj(plan_tree: str) -> bool:
    """True if any BroadcastNestedLoopJoin has an UNBOUNDED build side
    (a BroadcastExchange subtree containing a parquet scan but no
    bounding operator)."""
    lines = plan_tree.splitlines()
    flagged = False
    for i, ln in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in ln:
            continue
        d = _depth(ln)
        # the BNLJ's DIRECT children sit at one indent step below it;
        # only the direct-child BroadcastExchange is the BNLJ build —
        # deeper exchanges belong to nested (equi) joins and may
        # legitimately broadcast unbounded scans
        child_depth = None
        j = i + 1
        while j < len(lines) and _depth(lines[j]) > d:
            if child_depth is None:
                child_depth = _depth(lines[j])
            if _depth(lines[j]) == child_depth and (
                "BroadcastExchange" in lines[j]
                or "BroadcastQueryStage" in lines[j]
            ):
                bd = _depth(lines[j])
                k = j + 1
                sub = []
                while k < len(lines) and _depth(lines[k]) > bd:
                    sub.append(lines[k])
                    k += 1
                def node_name(l: str) -> str:
                    body = l.lstrip(" :+|-")
                    return body.split(" ", 1)[0].split("(", 1)[0]

                names = [node_name(l) for l in sub]
                # file-backed scans only: "Scan ExistingRDD" /
                # LocalTableScan are driver-local literal relations,
                # bounded by construction
                has_scan = any(
                    n.startswith("FileScan")
                    or (n == "Scan" and "ExistingRDD" not in l)
                    for n, l in zip(names, sub)
                )
                bounded = any(
                    n.startswith(op) for n in names for op in BOUNDING_OPS
                )
                if has_scan and not bounded:
                    flagged = True
                j = k
            else:
                j += 1
    return flagged


def unpartitioned_windows(node) -> int:
    """Count the Window operators of a JVM physical plan that have an
    empty partition spec and no top-N below them (TakeOrderedAndProject
    or WindowGroupLimit): each moves its whole input into one task."""
    if node.nodeName().startswith("AdaptiveSparkPlan"):
        node = node.executedPlan()
    kids = [node.children().apply(i) for i in range(node.children().size())]
    subs = node.subqueries()
    kids += [subs.apply(i) for i in range(subs.size())]
    n = sum(unpartitioned_windows(k) for k in kids)
    if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
        tree = node.toString()
        if "TakeOrderedAndProject" not in tree and "WindowGroupLimit" not in tree:
            n += 1
    return n


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    audit_all = "--all" in sys.argv
    spark = get_spark("rtap-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    names = list(registry.QUERIES)
    if not audit_all:
        names = names[:50]
    findings: list[str] = []
    for name in names:
        if name.startswith("streaming_"):
            continue
        try:
            df = registry.QUERIES[name](spark, sf_dir)
            qe = df._jdf.queryExecution()
            plan = qe.explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            tree = qe.executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            findings.append(f"{name}: PLAN BUILD FAILED: {e}")
            continue
        if "CartesianProduct" in plan:
            findings.append(f"{name}: CartesianProduct")
        if unbounded_bnlj(tree):
            findings.append(
                f"{name}: BroadcastNestedLoopJoin with UNBOUNDED build side"
            )
        if "BatchEvalPython" in plan and name not in PYTHON_SURFACE_OK:
            findings.append(f"{name}: row-at-a-time PythonUDF")
        n_win = unpartitioned_windows(qe.executedPlan())
        if n_win:
            findings.append(
                f"{name}: {n_win} Window(s) with no partition spec over a "
                "non-TopN input (one task takes every row)"
            )
        if "InMemoryTableScan" in plan:
            findings.append(f"{name}: unexpected cache")
        if re.search(r"Filter .*size\(aggregate\(", tree):
            findings.append(
                f"{name}: higher-order fold inside a Filter (inferred "
                "generator guard pushed below an aggregate — "
                "use explode_outer)"
            )
        print(f"  {name}: audited", file=sys.stderr)
    if findings:
        print("RED FLAGS:")
        for f in findings:
            print(" ", f)
        return 1
    print("NO RED FLAGS")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
