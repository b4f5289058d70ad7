"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor deployment would set
per-node; the scale levers (AQE, partial aggregation, broadcast
thresholds) are identical — only master/memory differ.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession


def _runtime_conf() -> dict[str, str]:
    """The SQL confs every query relies on, all settable at run time:
    get_spark builds with them and tune_session re-applies them to a
    session built elsewhere."""
    return {
        # deterministic wall-clock semantics: everything in UTC
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        # some driver testdata generations store events.ts as
        # TIMESTAMP(NANOS): surface those as a nanos bigint and convert
        # (DuckDB truncates ns->us identically). Harmless no-op when the
        # data is TIMESTAMP(MICROS) — readers branch on the runtime type
        # (schema.normalize_testdata_events / schema.raw_ts_ms).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # read parquet TIMESTAMP(isAdjustedToUTC=false) as TIMESTAMP (UTC
        # session) not TIMESTAMP_NTZ: keeps epoch functions applicable and
        # keeps timestamp predicates pushable (no implicit casts in plan)
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        # write timestamps as INT64 MICROS, not legacy INT96: footer
        # min/max stats exist (pruning/compaction sorting works) and
        # re-reads don't hit the INT96-vs-declared-schema trap
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # one shuffle partition per core locally (a foreign session may
        # carry the 200-partition default); AQE coalesces further. On a
        # real cluster this would be ~2-3x total cores.
        "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    }


def get_spark(app_name: str = "realtime-analytics-pipeline-spark") -> SparkSession:
    conf = _runtime_conf()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{conf['spark.sql.shuffle.partitions']}]")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for any pandas-interop path (mapInPandas/applyInPandas)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/rtap_spark_warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally created session.

    The correctness driver owns its own SparkSession; timezone and AQE
    are runtime-settable, so queries call this defensively to keep
    window arithmetic deterministic (UTC) regardless of host TZ.
    """
    for key, value in _runtime_conf().items():
        spark.conf.set(key, value)
    return spark


_SCRATCH_ROOT: str | None = None
_SCRATCH_LOCK = threading.Lock()


def scratch_dir(prefix: str) -> str:
    """A fresh directory under this process's scratch root.

    Queries that write a store and return frames that read it lazily
    need the directory to outlive the call: it lives until the process
    exits, when the whole root is removed.
    """
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:
        if _SCRATCH_ROOT is None:
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix="rtap_scratch_")
            atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


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
