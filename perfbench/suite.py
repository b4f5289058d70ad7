"""The registry layer, measured in the traced ``stream_replay`` run.

One cold pass over the query library's queries that read only the
``events`` table, on the replay's own backlog written in the fixture
``events`` layout (TESTDATA.md). Each query runs through the noop sink
in its own job group, with the memo epoch bumped before it as
``bench.py`` does. Job, stage and task counts come from Spark's status
tracker; executor time, GC, shuffle and spill from the Spark event log,
which ``run.py`` turns on for traced runs only.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from realtime_analytics_pipeline_spark import registry, registry_docs

SUITE = (
    "event_metrics_1m",
    "performance_metrics_5m",
    "session_metrics",
    "serving_event_pivot",
    "events_sliding_window_paned",
    "value_p95_sketch_rollup_1h",
    "events_cusum_drift",
    "pyds_feed_scan",
)
GROUP = "perfbench-suite"
EVENT_LOG_TOTALS = ("executor_cpu_s", "executor_run_s", "gc_s", "shuffle_bytes", "spill_bytes")
TOTALS = ("build_s", "exec_s", "jobs", "stages", "tasks", "memo_builds") + EVENT_LOG_TOTALS

UNITS = {
    **{f"registry.{q}.wall_s": "s" for q in SUITE},
    **{f"registry.{q}.jobs": "count" for q in SUITE},
    "registry.build_s": "s",
    "registry.exec_s": "s",
    "registry.jobs": "count",
    "registry.stages": "count",
    "registry.tasks": "count",
    "registry.memo_builds": "count",
    "registry.executor_cpu_s": "s",
    "registry.executor_run_s": "s",
    "registry.gc_s": "s",
    "registry.shuffle_bytes": "bytes",
    "registry.spill_bytes": "bytes",
}


def write_fixture_events(canonical: pa.Table, sf_dir: str) -> None:
    """``events.canonical`` rows as the fixture ``events`` table:
    ``event_id long, ts timestamp, user_id long, event_type, value
    double, props string``; the load time is the value."""
    os.makedirs(sf_dir, exist_ok=True)
    n = canonical.num_rows
    users = np.array([int(u[1:]) if u[1:].isdigit() else -1 for u in canonical["user_id"].to_pylist()])
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(canonical["event_ms"].to_numpy() * 1000, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": canonical["event_type"],
        "value": canonical["load_time"].cast(pa.float64()),
        "props": [json.dumps({"k": int(u) % 100}) for u in users],
    }), os.path.join(sf_dir, "events.parquet"))


def run(spark, sf_dir: str) -> tuple[dict[str, float], list[str]]:
    """Run the suite once; returns (metrics without the event-log
    totals, problems). A query that raises is a problem."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = {k: 0.0 for k in UNITS}
    problems: list[str] = []
    builds0 = registry_docs.memo_build_count()
    for i, name in enumerate(SUITE):
        group = f"{GROUP}-{i}"
        registry_docs.set_memo_epoch(f"perfbench:{i}")
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            df = registry.QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — reported as a failed query
            problems.append(f"registry query {name} raised {e!r}")
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            registry_docs.set_memo_epoch("")
        jobs = tracker.getJobIdsForGroup(group)
        stages = [s for j in jobs for s in (tracker.getJobInfo(j).stageIds or ())]
        infos = [tracker.getStageInfo(s) for s in stages]
        out[f"registry.{name}.wall_s"] = t2 - t0
        out[f"registry.{name}.jobs"] = float(len(jobs))
        out["registry.build_s"] += t1 - t0
        out["registry.exec_s"] += t2 - t1
        out["registry.jobs"] += len(jobs)
        out["registry.stages"] += sum(1 for s in infos if s is not None and s.numCompletedTasks)
        out["registry.tasks"] += sum(s.numCompletedTasks for s in infos if s is not None)
    out["registry.memo_builds"] = float(registry_docs.memo_build_count() - builds0)
    return out, problems


def event_log_totals(log_dir: str) -> dict[str, float]:
    """Executor time, GC, shuffle and spill of the suite's tasks, from
    the Spark event log (uncompressed JSON lines)."""
    stage_in_suite: set[int] = set()
    tot = {k: 0.0 for k in EVENT_LOG_TOTALS}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith(GROUP):
                        stage_in_suite.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_in_suite:
                    m = ev.get("Task Metrics") or {}
                    tot["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    tot["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return {f"registry.{k}": v for k, v in tot.items()}
