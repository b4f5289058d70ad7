"""Serving-side relational operators.

The reference's cache service re-shapes metric rows in Python over
Redis; these are the same capabilities as DataFrame operators:

- T1/T2 pivots (services/cache/src/infrastructure/kafka/
  message_parser.py:16-43): metric rows → one row per window with
  per-key columns.
- T3/T4 top-N / latest windows (repository.py:80-88,129-139): recency
  reads off the ZSET index → orderBy desc + limit / row_number.
- T5 retention trim (repository.py:111-115, cache config.py:23-24):
  keep newest N windows.
- T6 overview merge (services/cache/src/services/cache_service.py:31-38).

Scale notes: the pivots aggregate to one row per window — cardinality
(#windows) is tiny relative to input, so these run after the heavy
windowed aggregation and shuffle almost nothing. They are one
conditional aggregation over an explicit key list: no distinct-scan to
discover pivot values (the plan stays static at 100 TB), and one
shuffle where ``.pivot()`` plans two.
Top-N uses a global sort LIMIT — Spark's TakeOrderedAndProject, which
does per-partition top-N then merges on the driver: no full sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.config import DEFAULT_CONFIG, EngineConfig


def _pivot_by_window(
    df: DataFrame, key_col: str, keys: Sequence[str], values: dict[str, str]
) -> DataFrame:
    """One row per (window_start, window_end); for each key ``k`` and
    each ``suffix: col`` in ``values`` a column ``{k}_{suffix}`` holding
    ``col`` of the key's row (NULL when the window has no such row).

    A single conditional aggregation: ``max(when(key == k, col))`` is
    the key's value because the input has at most one row per
    (window, key). ``.pivot()`` would plan a (window, key) aggregation
    and a second one for the pivot, i.e. two shuffles; this is one."""
    return df.groupBy("window_start", "window_end").agg(
        *[
            F.max(F.when(F.col(key_col) == k, F.col(col))).alias(f"{k}_{suffix}")
            for k in keys
            for suffix, col in values.items()
        ]
    )


def pivot_event_metrics(
    event_metrics_df: DataFrame, event_types: Sequence[str]
) -> DataFrame:
    """T1: (window, type, count, users) rows → per-window columns
    ``{type}_count``, ``{type}_users`` (message_parser.py:16-27;
    Redis hash keys ``{type}.count`` — '.' swapped for '_' to stay
    SQL-addressable)."""
    return _pivot_by_window(
        event_metrics_df,
        "event_type",
        event_types,
        {"count": "event_count", "users": "user_count"},
    )


def pivot_performance_metrics(
    performance_metrics_df: DataFrame, categories: Sequence[str]
) -> DataFrame:
    """T2: (window, category, avg, p95) rows → per-window columns
    ``{cat}_avg_load_time``, ``{cat}_p95_load_time``
    (message_parser.py:28-43)."""
    return _pivot_by_window(
        performance_metrics_df,
        "device_category",
        categories,
        {"avg_load_time": "avg_load_time", "p95_load_time": "p95_load_time"},
    )


def top_n_windows(df: DataFrame, n: int, time_col: str = "window_start") -> DataFrame:
    """T3/T4: newest n windows (repository.py:129-139; API default
    limit=20, cache/src/api/endpoints/metrics.py:13-26). n=1 is the
    'latest window' read (repository.py:80-88)."""
    return df.orderBy(F.col(time_col).desc()).limit(n)


def retention_trim(
    df: DataFrame,
    retain: int | None = None,
    time_col: str = "window_start",
    partition_cols: Sequence[str] = (),
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """T5: keep the newest ``retain`` windows (per partition key if
    given) — ZREMRANGEBYRANK equivalent (repository.py:111-115,
    retention count cache config.py:23-24).

    Uses row_number over a desc time ordering; with partition keys this
    distributes, without it it is a single-partition window — fine for
    the serving table (≤ thousands of windows), documented as such.
    """
    retain = retain or config.window_retention_count
    w = (
        Window.partitionBy(*partition_cols)
        if partition_cols
        else Window.partitionBy(F.lit(1))
    ).orderBy(F.col(time_col).desc())
    return (
        df.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= retain)
        .drop("_rank")
    )


def overview(event_pivot: DataFrame, perf_pivot: DataFrame) -> DataFrame:
    """T6: combined latest-event + latest-performance snapshot
    (cache_service.py:31-38) as a single joined row."""
    ev = top_n_windows(event_pivot, 1).select(
        F.col("window_start").alias("event_window_start"),
        *[
            F.col(c).alias(f"event_{c}")
            for c in event_pivot.columns
            if c not in ("window_start", "window_end")
        ],
    )
    pf = top_n_windows(perf_pivot, 1).select(
        F.col("window_start").alias("perf_window_start"),
        *[
            F.col(c).alias(f"perf_{c}")
            for c in perf_pivot.columns
            if c not in ("window_start", "window_end")
        ],
    )
    return ev.crossJoin(pf)
