"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor deployment would set
per-node; the scale levers (AQE, partial aggregation, broadcast
thresholds) are identical — only master/memory differ.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "realtime-analytics-pipeline-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # deterministic wall-clock semantics: everything in UTC
        .config("spark.sql.session.timeZone", "UTC")
        # one shuffle partition per core locally; AQE coalesces further.
        # On a real cluster this would be ~2-3x total cores.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for any pandas-interop path (mapInPandas/applyInPandas)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # some driver testdata generations store events.ts as
        # TIMESTAMP(NANOS): surface those as a nanos bigint and convert
        # (DuckDB truncates ns->us identically). Harmless no-op when the
        # data is TIMESTAMP(MICROS) — readers branch on the runtime type
        # (schema.normalize_testdata_events / schema.raw_ts_ms).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write timestamps as INT64 MICROS, not legacy INT96: footer
        # min/max stats exist (pruning/compaction sorting works) and
        # re-reads don't hit the INT96-vs-declared-schema trap
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # read parquet TIMESTAMP(isAdjustedToUTC=false) as TIMESTAMP (UTC
        # session) not TIMESTAMP_NTZ: keeps epoch functions applicable and
        # keeps timestamp predicates pushable (no implicit casts in plan)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/rtap_spark_warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally created session.

    The correctness driver owns its own SparkSession; timezone and AQE
    are runtime-settable, so queries call this defensively to keep
    window arithmetic deterministic (UTC) regardless of host TZ.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    # a foreign session (e.g. the correctness driver's) may carry the
    # 200-partition default — size to local core count, AQE coalesces
    spark.conf.set(
        "spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    return spark


class SessionMemo:
    """Eagerly localCheckpointed DataFrames that several gated queries
    share, built once per (applicationId, epoch).

    Outside the bench the epoch stays "": an index or signature table
    is derived once per application and read by many queries. bench.py
    and perfbench move the epoch before every timed rep so each rep
    rebuilds what it consumes. Nothing can reuse an entry once its
    epoch ends, so a new epoch frees its checkpoint blocks; a new
    application only drops references (the old context is gone).
    """

    CAP = 24  # entries per application: every kind for 4 slices

    def __init__(self) -> None:
        self._app: str | None = None
        self._epoch = ""
        self._entries: dict[tuple, DataFrame] = {}
        self._builds = 0

    def set_epoch(self, epoch: str) -> None:
        if epoch == self._epoch:
            return
        self._epoch = epoch
        stale, self._entries = self._entries, {}
        sc = SparkContext._active_spark_context
        if sc is not None and sc.applicationId == self._app:
            for df in stale.values():
                # DataFrame.unpersist() keeps a localCheckpoint's blocks:
                # they belong to the RDD under its analyzed LogicalRDD
                df._jdf.queryExecution().analyzed().rdd().unpersist(False)

    def build_count(self) -> int:
        """Builds so far in this process (the bench's warm-rep cue)."""
        return self._builds

    def get_or_build(
        self, spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
    ) -> DataFrame:
        app = spark.sparkContext.applicationId
        if app != self._app:
            self._app, self._entries = app, {}
        got = self._entries.get(key)
        if got is None:
            self._builds += 1
            got = build().localCheckpoint(eager=True)
            if len(self._entries) >= self.CAP:
                # drop the oldest reference only: a frame still being
                # composed (not yet run) may read that entry
                del self._entries[next(iter(self._entries))]
            self._entries[key] = got
        return got


SESSION_MEMO = SessionMemo()
