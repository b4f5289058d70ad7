"""Per-query measurement and one-pass data-quality counters.

``run_query`` is the one recorder behind ``bench.py`` and
``scripts/profile_bench.py``: it runs a registry query cold through the
noop sink and reads its jobs, shuffle and spill from Spark's own status
store, which answers with the UI off. ``warm_up`` is their one warm-up.

``DataFrame.observe`` attaches aggregate metrics to a plan WITHOUT a
second scan: the metrics are computed as a side-channel of whatever
action the caller runs (write, count, foreachBatch). At 100 TB this is
the difference between "quality report" costing a full extra pass over
the table and costing nothing.

Reference parity note: the reference pipeline reports ingestion
counters from its processing job (services/processing — error/late
counts surfaced to monitoring); this is the Spark-native equivalent.
"""

from __future__ import annotations

import time
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from realtime_analytics_pipeline_spark.session import SESSION_MEMO

# the smallest fixture SF: the warm-up brings the JVM, codegen, the
# Python workers and Arrow up without spending time on data
WARM_UP_SF = "/root/testdata/sf0.001"
# parquet scan + shuffle + codegen; the gemm kernel's Python worker and
# Arrow path; the Python data source's reader (these two otherwise pay
# daemon spawn and Arrow init in their first measured rep)
WARM_UP = ("event_metrics_1m", "sim_cosine_topk_blas", "pyds_feed_scan")


class QueryRun(NamedTuple):
    """One run of one registry query."""

    build_s: float  # the Python call that builds the frame
    exec_s: float  # the noop write that materializes it
    jobs: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int  # disk bytes spilled


def run_query(
    spark: SparkSession, name: str, sf_dir: str, epoch: str
) -> QueryRun:
    """Run registry query ``name`` on ``sf_dir`` through the noop sink
    in memo epoch ``epoch`` and measure it.

    A new epoch makes the run rebuild every memoized intermediate it
    reads, inside its own timing; the epoch returns to "" afterwards,
    which frees that run's memo entries. Jobs and bytes are those of
    the job ids that appear during the call. Queries run one at a time,
    so the id range also holds the micro-batch jobs of a streaming
    replay, which run under their query's own job group.
    """
    from realtime_analytics_pipeline_spark.registry import QUERIES

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    SESSION_MEMO.set_epoch(epoch)
    try:
        job0 = jsc.dagScheduler().numTotalJobs()
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        job1 = jsc.dagScheduler().numTotalJobs()
    finally:
        SESSION_MEMO.set_epoch("")
    # the status store is filled from the listener bus, asynchronously
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    # a stage shared by several jobs (a reused shuffle) is counted once
    stages = set()
    for job in range(job0, job1):
        stages.update(tracker.getJobInfo(job).stageIds)
    read = write = spill = 0
    for stage in stages:
        # past spark.ui.retainedStages the store drops finished stages
        # with the oldest completion first, and a skipped stage has none:
        # those go first, and a skipped stage moved no bytes here
        if tracker.getStageInfo(stage) is None:
            continue
        data = store.lastStageAttempt(stage)
        read += data.shuffleReadBytes()
        write += data.shuffleWriteBytes()
        spill += data.diskBytesSpilled()
    return QueryRun(t1 - t0, t2 - t1, job1 - job0, read, write, spill)


def warm_up(spark: SparkSession) -> None:
    """Bring the engine up through the real code paths, so the first
    measured query pays execution, not bring-up."""
    for name in WARM_UP:
        run_query(spark, name, WARM_UP_SF, "")


def observe_event_quality(
    df: DataFrame, name: str = "event_quality"
) -> tuple[DataFrame, Observation]:
    """Attach the standard event-stream quality counters to ``df``.

    Returns the observed frame (use it in place of ``df``) and the
    Observation handle; after ANY action on the returned frame,
    ``observation.get`` yields::

        n_rows, n_null_value, n_neg_value, min_ms, max_ms

    All metrics are plain Column aggregates — they ride the existing
    scan inside the same whole-stage-codegen pipeline.
    """
    obs = Observation(name)
    from realtime_analytics_pipeline_spark.schema import raw_ts_ms

    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.sum((F.col("value") < 0).cast("long")).alias("n_neg_value"),
        F.min(raw_ts_ms(df)).alias("min_ms"),
        F.max(raw_ts_ms(df)).alias("max_ms"),
    )
    return observed, obs
