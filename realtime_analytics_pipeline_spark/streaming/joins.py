"""Stream-stream joins.

Beyond the reference surface (it has no joins at all, SURVEY §2.9) —
a complete streaming engine needs them:

- `stream_attribution_join`: interval join of two event-time streams
  (purchases ⋈ views of the same user within a lookback window). Both
  sides carry watermarks; the range condition bounds per-side state so
  the join state stays finite (Spark evicts rows once the opposite
  watermark passes the interval).

Streaming exact dedup with bounded state is the gated
``streaming_exact_dedup`` query (``dropDuplicatesWithinWatermark``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_attribution_join(
    events: DataFrame,
    lookback: str = "1 hour",
    hit_type: str = "purchase",
    source_type: str = "view",
) -> DataFrame:
    """purchases ⋈ views (same user, view within [hit - lookback, hit]).

    ``events`` must already carry a watermark. Output: one row per
    (purchase, qualifying view) — downstream pick-latest is a grouped
    max, as in the batch as-of operator.
    """
    views = events.where(F.col("event_type") == source_type).select(
        F.col("user_id").alias("v_user"),
        F.col("event_time").alias("v_time"),
        F.col("event_id").alias("view_id"),
    )
    hits = events.where(F.col("event_type") == hit_type).select(
        F.col("user_id").alias("p_user"),
        F.col("event_time").alias("p_time"),
        F.col("event_id").alias("purchase_id"),
    )
    return hits.join(
        views,
        F.expr(
            f"""
            p_user = v_user AND
            v_time <= p_time AND
            v_time >= p_time - INTERVAL {lookback}
            """
        ),
    ).select("purchase_id", "p_user", "p_time", "view_id", "v_time")


def stream_attribution_join_outer(
    events: DataFrame,
    lookback: str = "1 hour",
    hit_type: str = "purchase",
    source_type: str = "view",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits —
    matched rows as they meet their views, UNMATCHED purchases
    null-padded once the watermark passes the end of their match
    window (no view can arrive with v_time ≤ p_time anymore), i.e.
    when the purchase's join state expires. This is the streaming
    analog of batch left-join attribution: conversion rows plus the
    organic purchases, with state still bounded by the watermark.
    """
    views = events.where(F.col("event_type") == source_type).select(
        F.col("user_id").alias("v_user"),
        F.col("event_time").alias("v_time"),
        F.col("event_id").alias("view_id"),
    )
    hits = events.where(F.col("event_type") == hit_type).select(
        F.col("user_id").alias("p_user"),
        F.col("event_time").alias("p_time"),
        F.col("event_id").alias("purchase_id"),
    )
    return hits.join(
        views,
        F.expr(
            f"""
            p_user = v_user AND
            v_time <= p_time AND
            v_time >= p_time - INTERVAL {lookback}
            """
        ),
        "leftOuter",
    ).select("purchase_id", "p_user", "p_time", "view_id", "v_time")


def stream_attribution_join_full_outer(
    events: DataFrame,
    lookback: str = "1 hour",
    hit_type: str = "purchase",
    source_type: str = "view",
) -> DataFrame:
    """FULL OUTER stream-stream interval join: matched pairs emit when
    both sides meet; an unmatched purchase null-pads once the watermark
    passes p_time (no view with v_time ≤ p_time can arrive); an
    unmatched VIEW null-pads once the watermark passes v_time +
    lookback (no purchase with p_time ≤ v_time + lookback can arrive)
    — the view side waits a full lookback longer, which is exactly its
    state lifetime. Both sides' state stays watermark-bounded.
    """
    views = events.where(F.col("event_type") == source_type).select(
        F.col("user_id").alias("v_user"),
        F.col("event_time").alias("v_time"),
        F.col("event_id").alias("view_id"),
    )
    hits = events.where(F.col("event_type") == hit_type).select(
        F.col("user_id").alias("p_user"),
        F.col("event_time").alias("p_time"),
        F.col("event_id").alias("purchase_id"),
    )
    return hits.join(
        views,
        F.expr(
            f"""
            p_user = v_user AND
            v_time <= p_time AND
            v_time >= p_time - INTERVAL {lookback}
            """
        ),
        "fullOuter",
    ).select(
        "purchase_id", "p_user", "p_time", "view_id", "v_user", "v_time"
    )
