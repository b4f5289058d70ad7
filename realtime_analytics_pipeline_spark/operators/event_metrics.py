"""EventAggregator: events per (tumbling window, event_type).

Reference: services/processing/src/jobs/event_aggregator.py:12-44 —
project nested fields (:20-25) → IN-list filter on allowed types
(:26-28) → 60 s tumbling window (:29-36) → COUNT + COUNT DISTINCT user
(:41-42) → flat sink rows (core/schemas/event_metrics_sink.py:4-13).

Spark-first notes (100 TB posture):
- ``F.window`` + groupBy compiles to HashAggregateExec with automatic
  partial aggregation (map-side combine) — the same local/global split
  the reference enables via mini-batch (job_coordinator.py:40-50), but
  chosen by the planner, not hand-configured.
- COUNT DISTINCT is exact to match the reference and the oracle; it
  expands to a two-phase aggregate (Expand + two shuffles). At 100 TB
  prefer ``approx=True`` → ``approx_count_distinct`` (HLL++, single
  shuffle, bounded memory per key).
- The filter runs before the aggregation so Catalyst pushes it into
  the parquet scan (PushedFilters: In(event_type, ...)).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.config import DEFAULT_CONFIG, EngineConfig


def event_metrics(
    events: DataFrame,
    window: str | None = None,
    allowed_types: Sequence[str] | None = None,
    approx: bool = False,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """events (canonical layout) -> one row per (window, event_type).

    Output: window_start, window_end (timestamp), event_type,
    event_count, user_count — the event_metrics sink schema
    (event_metrics_sink.py:4-13).
    """
    window = window or config.metrics_window
    allowed = list(allowed_types or config.allowed_event_types)
    user_count = (
        F.approx_count_distinct("user_id") if approx else F.count_distinct("user_id")
    )
    return (
        events.where(F.col("event_type").isin(allowed))
        .groupBy(F.window("event_time", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            user_count.alias("user_count"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "event_count",
            "user_count",
        )
    )


def event_metrics_exact_streaming(
    events: DataFrame,
    window: str | None = None,
    allowed_types: Sequence[str] | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Streaming-safe EXACT distinct-user counts in ONE stateful
    aggregation: ``size(collect_set(user_id))`` per (window, type).

    ``count_distinct`` is a distinct aggregate, which append-mode
    streaming rejects; ``collect_set`` is an ordinary typed aggregate
    (the same kind of buffer the performance job's ``percentile``
    keeps), so the whole job is one shuffle and one state store keyed
    by (window, event_type). Like ``count_distinct``, ``collect_set``
    skips null user ids, so the stream equals ``event_metrics`` row
    for row.

    Trade-off: one state row holds its (window, type)'s distinct user
    ids — at most 60 000 per 60 s window at the reference's 1000
    events/s design rate. Where that is too large, ``event_metrics(
    approx=True)`` is the bounded-memory HLL++ route. Checkpoints of
    the earlier two-operator form cannot be resumed (MIGRATION.md).
    """
    window = window or config.metrics_window
    allowed = list(allowed_types or config.allowed_event_types)
    return (
        events.where(F.col("event_type").isin(allowed))
        .groupBy(F.window("event_time", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.size(F.collect_set("user_id")).cast("long").alias("user_count"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "event_count",
            "user_count",
        )
    )
